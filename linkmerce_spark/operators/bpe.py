"""Distributed BPE merge statistics (tokenizer vocabulary induction).

The first step of byte-pair-encoding training (Sennrich et al. 2016):
count adjacent symbol pairs across the corpus, weighted by word
frequency — the pair with the highest count becomes the first merge
rule. At corpus scale this is the canonical "train the tokenizer on
100 TB" job, and it distributes perfectly:

1. token counts — one shuffle on the token (word-frequency table);
2. the pair expansion runs on the DISTINCT word list (vocabulary-
   sized, millions of rows regardless of corpus size), not on the
   corpus: each distinct word explodes into its ``len-1`` adjacent
   character pairs carrying the word's corpus count as weight;
3. pair totals — one shuffle on the pair (at most |alphabet|² keys,
   map-side partial agg does almost all the work).

Iterating merges re-runs steps 2-3 on the re-segmented vocabulary —
each round touches only the vocabulary table, never the corpus again,
which is why BPE training is cheap even at 100 TB (the corpus is
scanned exactly once, for the frequency table).

Reference behavioral parity: the reference has no tokenizer layer;
this extends the text-analysis family (functions/text.py) with the
vocabulary-induction op an LLM-data pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from linkmerce_spark import memo
from linkmerce_spark.frames import from_rows

__all__ = [
    "bpe_pair_counts",
    "bpe_train_full",
    "bpe_train",
    "bpe_token_counts",
    "MERGE_SCHEMA",
]


def bpe_pair_counts(
    df: DataFrame,
    text_col: str,
    top_n: int = 50,
) -> DataFrame:
    """Corpus-frequency-weighted adjacent character-pair counts.

    Words are whitespace tokens; a word of length L contributes its
    L-1 adjacent character pairs, each weighted by the word's corpus
    occurrence count. Output: the ``top_n`` pairs as
    ``pair, pair_count`` ranked by ``(pair_count DESC, pair ASC)`` —
    the deterministic total order makes the LIMIT engine-portable.
    """
    if top_n <= 0:
        raise ValueError("top_n must be positive")
    from linkmerce_spark.frames import widen_scan

    df = widen_scan(df)  # token explode far exceeds the scan bytes
    toks = df.select(F.explode(F.split(F.col(text_col), " ")).alias("tok")).where(
        F.col("tok") != ""
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("wc"))
    pairs = vocab.where(F.length("tok") >= 2).select(
        F.col("wc"),
        F.explode(F.sequence(F.lit(1), F.length("tok") - 1)).alias("i"),
        F.col("tok"),
    ).select(F.col("tok").substr(F.col("i"), F.lit(2)).alias("pair"), "wc")
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").cast("bigint").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), F.col("pair"))
        .limit(top_n)
    )


# ----------------------------------------------------------------------
# Full iterative BPE training (the merge LOOP, not just round-1 stats).
# ----------------------------------------------------------------------

MERGE_SCHEMA = StructType(
    [
        StructField("merge_rank", IntegerType(), False),
        StructField("left_sym", StringType(), False),
        StructField("right_sym", StringType(), False),
        StructField("merged", StringType(), False),
        StructField("pair_count", LongType(), False),
    ]
)


def _char_syms(tok_col: str | Column) -> Column:
    """Initial segmentation: one symbol per character.

    ``split(tok, '(?!^)')`` splits at every inter-character boundary
    AND at end-of-string (the lookahead matches there too), leaving a
    trailing '' element — filtered out. HOF filter is fine here: it
    runs once over the DISTINCT vocabulary, never the corpus."""
    return F.filter(F.split(tok_col, "(?!^)"), lambda x: x != F.lit(""))


def _apply_merge(sym_col: str | Column, left: str, right: str) -> Column:
    """Left-to-right non-overlapping application of one merge rule.

    The canonical BPE re-segmentation (Sennrich et al. 2016, alg. 1):
    scan the symbol sequence once, greedily replacing each adjacent
    (left, right) with the concatenation; after a replacement the scan
    continues AFTER the merged symbol, so 'a a a' under (a,a) becomes
    '[aa] a', not '[aa] [aa]' sharing the middle. Expressed as a fold
    (``F.aggregate``) whose accumulator is the output sequence: a
    merged symbol is strictly longer than ``left``, so it can never
    itself match as the left partner within the same pass — the fold
    IS the non-overlapping scan."""
    return _apply_merge_cols(sym_col, F.lit(left), F.lit(right))


def _apply_merge_cols(
    sym_col: str | Column, left_col: Column, right_col: Column
) -> Column:
    """Column-argument form of ``_apply_merge`` — the merge pair comes
    from joined columns (the in-plan training loop), not literals. A
    NULL pair (empty argmax join) matches nothing: the equality inside
    the fold is NULL, ``when`` falls through to append — the
    segmentation passes through unchanged."""
    sym = F.col(sym_col) if isinstance(sym_col, str) else sym_col
    la, lb = left_col, right_col
    lab = F.concat(la, lb)
    rest = F.slice(sym, 2, F.greatest(F.size(sym) - 1, F.lit(0)))
    return F.aggregate(
        rest,
        F.array(F.element_at(sym, 1)),
        lambda acc, s: F.when(
            (F.element_at(acc, -1) == la) & (s == lb),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(lab)),
        ).otherwise(F.concat(acc, F.array(s))),
    )


_VOCAB_SCHEMA = StructType(
    [
        StructField("sym", ArrayType(StringType()), True),
        StructField("wc", LongType(), True),
    ]
)


def _train_local(
    spark, vocab: DataFrame, n_merges: int
) -> tuple[DataFrame, DataFrame]:
    """Driver-side merge loop over a collected (small) vocabulary.

    Bit-identical to the distributed loop: same ``(count DESC, left
    ASC, right ASC)`` argmax (Python string comparison and Spark's
    UTF8 binary comparison induce the same total order — UTF-8 is
    code-point-order-preserving), same left-to-right non-overlapping
    re-segmentation, same exhaustion semantics (no merge row once no
    adjacent pair remains). Property-pinned against the distributed
    form in tests/test_bpe_train.py.
    """
    rows = [(list(r[0]), int(r[1])) for r in vocab.collect()]
    merge_rows: list[tuple] = []
    for rank in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for sym, wc in rows:
            for i in range(len(sym) - 1):
                p = (sym[i], sym[i + 1])
                counts[p] = counts.get(p, 0) + wc
        if not counts:
            break
        (left, right), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        merge_rows.append((rank, left, right, left + right, cnt))
        merged = left + right
        nxt: list[tuple[list[str], int]] = []
        for sym, wc in rows:
            out: list[str] = []
            i = 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == left and sym[i + 1] == right:
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            nxt.append((out, wc))
        rows = nxt
    merges = from_rows(spark, merge_rows, MERGE_SCHEMA)
    final_vocab = from_rows(spark, rows, _VOCAB_SCHEMA)
    return merges, final_vocab


def bpe_train_full(
    df: DataFrame,
    text_col: str,
    n_merges: int,
    local_loop_threshold: int = 65536,
) -> tuple[DataFrame, DataFrame]:
    """Train a BPE merge table over a corpus; return (merges, vocab).

    The full training loop: build the word-frequency vocabulary (the
    ONLY corpus scan), segment each distinct word into characters,
    then ``n_merges`` rounds of [count adjacent pairs -> take the top
    pair -> re-segment the vocabulary]. Top-pair ordering is
    ``(count DESC, left ASC, right ASC)`` — a deterministic total
    order, so the merge table is engine-portable (the DuckDB twin
    unrolls the same rounds as chained CTEs).

    Scale notes (the 100 TB shape):

    - the corpus is scanned exactly once (token frequency shuffle);
      every round after that touches only the DISTINCT vocabulary —
      millions of rows regardless of corpus size;
    - when the distinct vocabulary is at most ``local_loop_threshold``
      rows it is collected once and the merge loop runs driver-side
      (``_train_local`` — bit-identical argmax/re-segmentation); the
      distributed loop below is the above-threshold path;
    - each round is ONE vocabulary-sized shuffle (pair groupBy with
      map-side partial agg; <= |alphabet+merges|^2 keys) plus a narrow
      re-segmentation map;
    - the merge rule NEVER leaves the cluster: the round's argmax is a
      1-row DataFrame broadcast back onto the vocabulary (the fold
      lambda references the joined columns), so the driver runs zero
      data-plane collects — it only schedules one materialization job
      per round;
    - the vocabulary is checkpointed per round — required here
      not just as the Pregel lineage discipline but for correctness of
      cost: ``vocab_{k+1}`` references ``vocab_k`` TWICE (pair counts
      + re-segmentation), so an unmaterialized loop doubles the plan
      per round. The loop's shuffle width is right-sized to the
      vocabulary, not the corpus (scoped
      ``spark.sql.shuffle.partitions``, restored after).

    Exhaustion semantics: if the vocabulary is fully merged before
    ``n_merges`` rounds (no adjacent pairs left), the remaining rounds
    are no-ops — the LEFT join against the empty argmax row leaves
    every segmentation unchanged and contributes no merge-table row.

    Returns ``merges`` with columns (merge_rank, left_sym, right_sym,
    merged, pair_count) and the final re-segmented ``vocab``
    (sym: array<string>, wc: bigint).
    """
    if n_merges <= 0:
        raise ValueError("n_merges must be positive")
    # One training per (session, input frame, params): `doc_bpe_train`
    # and `doc_bpe_tokens` both consume the same loop, so a derived-tier
    # memo makes the second a lookup.
    return memo.derived(
        df.sparkSession,
        ("bpe_train", df, text_col, n_merges, local_loop_threshold),
        lambda: _bpe_train(df, text_col, n_merges, local_loop_threshold),
    )


def _bpe_train(
    df: DataFrame, text_col: str, n_merges: int, local_loop_threshold: int
) -> tuple[DataFrame, DataFrame]:
    from linkmerce_spark.frames import widen_scan

    spark = df.sparkSession

    toks = widen_scan(df).select(
        F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).where(F.col("tok") != "")
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wc"))
        .select(_char_syms("tok").alias("sym"), "wc")
        .transform(memo.checkpoint)
    )
    n_vocab = vocab.count()
    if n_vocab <= local_loop_threshold:
        # Small-vocabulary fast path: collect the (already
        # checkpointed) vocabulary and run the merge loop driver-side.
        # This is how production BPE trainers work — the CORPUS scan
        # is the distributed part; the loop touches only the distinct
        # vocabulary, and when that fits on the driver, n_merges
        # rounds of cluster jobs are pure scheduling overhead
        # (measured ~0.18 s/round locally for a 31-word vocabulary).
        # Above the threshold (a 100 TB corpus vocabulary is ~1e8
        # distinct words) the distributed loop below takes over.
        return _train_local(spark, vocab, n_merges)
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # AQE-managed runtimes report 'auto' here; fall back to a sane
        # loop width instead of raising before any training runs.
        shuffle_width = int(prev_shuffle)
    except (TypeError, ValueError):
        shuffle_width = 200
    parts = max(1, min(shuffle_width, n_vocab // 100_000 + 1))
    if parts < vocab.rdd.getNumPartitions():
        vocab = memo.checkpoint(vocab.repartition(parts))
    bests: list[DataFrame] = []
    # Scope AQE OFF for the loop (restored in finally): every round is
    # a fresh tiny job over the materialized vocabulary, and AQE's
    # per-shuffle re-planning round-trips cost ~20% of the loop's wall
    # at this job size while having nothing to adapt — the loop width
    # is already right-sized below. At real vocabulary volumes the
    # scoped width equals the session setting and re-enabling AQE here
    # would be reasonable; the measured local floor says off.
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        for rank in range(1, n_merges + 1):
            best = (
                vocab.where(F.size("sym") >= 2)
                .select(
                    "wc",
                    F.explode(F.sequence(F.lit(1), F.size("sym") - 1)).alias("i"),
                    "sym",
                )
                .select(
                    F.element_at("sym", F.col("i")).alias("__ml"),
                    F.element_at("sym", F.col("i") + 1).alias("__mr"),
                    "wc",
                )
                .groupBy("__ml", "__mr")
                .agg(F.sum("wc").alias("__cnt"))
                .orderBy(F.col("__cnt").desc(), F.col("__ml"), F.col("__mr"))
                .limit(1)
            )
            # LEFT join on TRUE against the broadcast 1-row argmax: the
            # fold's match condition reads the joined columns, so when
            # the argmax is empty (vocabulary exhausted) the condition
            # is NULL -> no symbol ever merges and vocab passes through.
            merged_sym = _apply_merge_cols(
                "sym", F.col("__ml"), F.col("__mr")
            )
            vocab = (
                vocab.join(F.broadcast(best), F.lit(True), "left")
                .select(merged_sym.alias("sym"), "wc")
                # kept until memo.clear, not one round: ``merges`` is a
                # lazy union of every round's ``best``, which reads the
                # vocab of its own round
                .transform(memo.checkpoint)
            )
            bests.append(
                best.select(
                    F.lit(rank).cast("int").alias("merge_rank"),
                    F.col("__ml").alias("left_sym"),
                    F.col("__mr").alias("right_sym"),
                    F.concat("__ml", "__mr").alias("merged"),
                    F.col("__cnt").cast("bigint").alias("pair_count"),
                )
            )
        merges = bests[0]
        for b in bests[1:]:
            merges = merges.unionByName(b)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    return merges, vocab


def bpe_train(df: DataFrame, text_col: str, n_merges: int) -> DataFrame:
    """The trained merge table alone (see ``bpe_train_full``)."""
    merges, _ = bpe_train_full(df, text_col, n_merges)
    return merges


def bpe_token_counts(
    df: DataFrame,
    text_col: str,
    n_merges: int,
    top_n: int = 40,
) -> DataFrame:
    """Corpus token frequencies under a freshly trained BPE merge table.

    Trains ``n_merges`` rules (``bpe_train_full``), then explodes the
    final vocabulary segmentation weighted by word frequency — the
    token histogram a tokenizer-fit report shows. Output: ``top_n``
    rows of (token, token_count), ranked ``(count DESC, token ASC)``
    for an engine-portable LIMIT. One vocabulary-sized shuffle beyond
    training; the corpus is never re-read."""
    if top_n <= 0:
        raise ValueError("top_n must be positive")
    _, vocab = bpe_train_full(df, text_col, n_merges)
    return (
        vocab.select(F.explode("sym").alias("token"), "wc")
        .groupBy("token")
        .agg(F.sum("wc").cast("bigint").alias("token_count"))
        .orderBy(F.col("token_count").desc(), F.col("token"))
        .limit(top_n)
    )
