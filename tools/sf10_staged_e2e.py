"""Staged sf10 gate for the doc_clean_select_e2e capstone.

The monolithic twin (span-rewrite -> redact -> DSIR as ONE CTE chain)
OOMs the yardstick engine at 500k docs even with spill, a 100 GB
memory_limit, reduced threads, and preserve_insertion_order=false —
its unnest-heavy intermediates are not spillable operators there
(tools/digests/CHECKS_sf10_r8.md). Materializing the stage-1 output
with COPY dies the same way (tested this round: the rewrite chain can
stream into an AGGREGATE, but not into a row-emitting sink, at this
scale). Spark executes the same chain fine, so the only unverified leg
was DuckDB's side of the sf10 checksum.

This runner therefore stages the SAME logical chain at the diamond
boundary, aggregate-only on the yardstick side:

- **stage 1** (aug -> span-rewrite -> redact = the ``safe`` frame):
  the DuckDB SQL is the committed oracle's CTE PREFIX — derived by
  string-splitting ORACLES['doc_clean_select_e2e'] at the ``toks2``
  boundary so the staged twin cannot drift from the gated one — fed
  straight into check_oracle_big's order-independent per-column
  checksums (the exact execution shape under which the standalone
  rewrite twin already passes at sf10). Spark's ``safe`` frame (the
  frame the capstone localCheckpoints) is checksummed against it AND
  written to parquet.
- **stage 2** (DSIR scoring -> top-40): ``safe`` rebound to the
  stage-1 parquet. Stage-1 checksum equality is what makes that
  parquet a valid twin input — both engines' stage-1 outputs are
  checksum-identical, so up to the same collision epsilon the whole
  sf10 tier already accepts, DuckDB is reading its own stage-1
  result. The oracle's CTE suffix as written also OOMs at 492k safe
  docs: DuckDB MATERIALIZES any CTE referenced more than once, and
  the suffix references ``toks2`` twice (the unigram/bigram UNION
  branches) and ``bkts`` twice (the p and q count sides) — hundreds
  of millions of rows pinned un-spillably. The staged suffix is the
  same algebra restructured so every large CTE is referenced ONCE
  and the plan streams end-to-end:

  * ``UNNEST(list_concat(unigrams, bigrams))`` replaces the UNION ALL
    (identical gram multiset, one corpus pass);
  * ``COUNT(*) FILTER (lang = 'en') / FILTER (lang <> 'en')`` in one
    grouped aggregate replaces the p/q FULL OUTER (identical
    per-bucket counts — a bucket appears iff it holds any gram, on
    both forms);
  * the 256-row ``ratio`` table is fetched into Python between the
    two passes and re-injected as VALUES, so the second pass
    references the gram stream exactly once too.

  Value-identity of the restructured suffix vs the committed
  monolithic twin is ASSERTED at the small sf on every run (the tool
  executes both forms and compares row-level before trusting the
  staged form at sf10 — run the tool at sf0.01 first; at sf10 the
  monolith self-check is skipped, that is the OOM being worked
  around). Compared row-level (40 rows) against Spark's ``final``,
  which consumed Spark's own ``safe`` — the composite gates the full
  chain end-to-end on both engines.

Usage: python tools/sf10_staged_e2e.py [sf_dir]   (default testdata_sf10)
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_oracle_big import duck_checksums, spark_checksums  # noqa: E402

STAGE_SPLIT = "toks2 AS ("


def stage1_sql(oracle: str) -> str:
    """The committed monolithic twin's CTE prefix through ``safe`` —
    derived by string-splitting so this leg cannot drift from the
    gated oracle. Used as the small-sf self-check target; at sf10 it
    OOMs (see stage1_staged_stmts)."""
    idx = oracle.index(STAGE_SPLIT)
    prefix = oracle[:idx].rstrip()
    assert prefix.endswith("),"), prefix[-40:]
    return prefix[:-1] + "\nSELECT doc_id, lang, source, kept_words, safe_text FROM safe"


# The monolithic prefix dies at 492k docs for two reasons the staged
# form removes, both allocator-shape, neither semantic:
#   1. its ``tokens`` CTE carries the WHOLE token list on every
#      exploded row (50M rows x full list) — the staged form zip-
#      UNNESTs (tok, wpos) in lockstep, which is exactly Spark's
#      posexplode;
#   2. ``aug``/``w``/``grams`` are referenced twice, so the engine
#      pins them as un-spillable materialized CTEs — the staged form
#      lands them in TEMP TABLES, which live in the buffer pool and
#      spill to temp_directory under pressure.
STAGE1_STAGED_STMTS = [
    """CREATE TEMP TABLE t_aug AS
SELECT doc_id, lang, source, text
  || (CASE WHEN doc_id % 7 = 0
           THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com now'
           ELSE '' END)
  || (CASE WHEN doc_id % 5 = 0
           THEN ' see https://docs.example.com/page/' || CAST(doc_id AS VARCHAR)
           ELSE '' END)
  || (CASE WHEN doc_id % 11 = 0 THEN ' call 010-1234-5678' ELSE '' END) AS body
FROM documents""",
    """CREATE TEMP TABLE t_w AS
SELECT doc_id, string_split(body, ' ') AS toks FROM t_aug""",
    # grams built as a per-doc struct list then unnested WITHIN the row
    # (no cross-row list duplication), materialized once for both uses
    """CREATE TEMP TABLE t_grams AS
SELECT doc_id, pg['p'] AS pos, pg['g'] AS gram FROM (
  SELECT doc_id,
         UNNEST(list_transform(range(1, len(toks) - 6),
           p -> {'p': p, 'g': array_to_string(list_slice(toks, p, p + 7), ' ')}))
           AS pg
  FROM t_w WHERE len(toks) >= 8
)""",
    """CREATE TEMP TABLE t_dups AS
SELECT gram, MIN(doc_id * 4294967296 + pos) AS canon
FROM t_grams GROUP BY gram HAVING COUNT(*) >= 2""",
    """CREATE TEMP TABLE t_removed AS
SELECT DISTINCT gr.doc_id, gr.pos + o.i AS rm
FROM t_grams gr JOIN t_dups d USING (gram)
CROSS JOIN (SELECT unnest(range(0, 8)) AS i) o
WHERE gr.doc_id * 4294967296 + gr.pos <> d.canon""",
    # rebuild per doc from the token LIST (the ordered string_agg over
    # the exploded 50M-row token stream is NOT a spillable aggregate in
    # the yardstick engine and is the one remaining OOM at sf10) —
    # identical value: drop removed positions, join the rest with ' '
    """CREATE TEMP TABLE t_rebuilt AS
SELECT doc_id,
       len(kept) AS kept_words,
       array_to_string(kept, ' ') AS clean_text
FROM (
  SELECT w.doc_id,
    list_filter(
      list_transform(range(1, len(w.toks) + 1),
        p -> CASE WHEN NOT list_contains(COALESCE(r.rms, []), p)
                  THEN w.toks[p] END),
      x -> x IS NOT NULL) AS kept
  FROM t_w w
  LEFT JOIN (SELECT doc_id, list(rm) AS rms
             FROM t_removed GROUP BY doc_id) r USING (doc_id)
)
WHERE len(kept) > 0""",
]

STAGE1_STAGED_SELECT = r"""
SELECT a.doc_id, a.lang, a.source,
  CAST(r.kept_words AS BIGINT) AS kept_words,
  regexp_replace(
    regexp_replace(
      regexp_replace(r.clean_text,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      'https?://[^\s]+', '<URL>', 'g'),
    '[0-9]{2,3}[-.][0-9]{3,4}[-.][0-9]{4}', '<PHONE>', 'g') AS safe_text
FROM t_aug a JOIN t_rebuilt r USING (doc_id)
WHERE r.kept_words > 0
"""


def stage2_monolith_sql(oracle: str, safe_src: str) -> str:
    """The oracle's CTE suffix verbatim, ``safe`` rebound to parquet —
    used only as the small-sf self-check for the streaming form."""
    idx = oracle.index(STAGE_SPLIT)
    return f"WITH safe AS (SELECT * FROM read_parquet('{safe_src}')),\n" + oracle[idx:]


# single-pass gram stream: UNNEST(list_concat(unigrams, bigrams)) ==
# the committed twin's unigram/bigram UNION ALL, without the second
# reference that forces DuckDB to materialize toks2
_GRAMS_STREAM = """
toks2 AS (
  SELECT doc_id, lang,
    list_filter(string_split_regex(lower(safe_text), '[^\\p{L}\\p{N}]+'),
                x -> x <> '') AS t
  FROM safe
),
grams2 AS (
  SELECT doc_id, lang,
    UNNEST(list_concat(t,
      CASE WHEN len(t) < 2 THEN CAST([] AS VARCHAR[])
           ELSE list_transform(range(1, len(t)),
                  i -> array_to_string(list_slice(t, i, i + 1), ' ')) END)) AS gm
  FROM toks2
),
bkts AS (
  SELECT doc_id, lang,
         CAST('0x' || substr(md5('dsir' || gm), 1, 8) AS BIGINT) % 256 AS bucket
  FROM grams2
)"""


def stage2a_sql(safe_src: str) -> str:
    """Pass 1: the 256-row DSIR bucket ratio table. The committed
    twin's p/q FULL OUTER becomes one FILTER'd aggregate — identical
    per-bucket counts (a bucket appears iff it holds any gram on
    either form), one reference of the gram stream."""
    return f"""
WITH safe AS (SELECT * FROM read_parquet('{safe_src}')),{_GRAMS_STREAM}
SELECT bucket,
  (length(bin(COUNT(*) FILTER (WHERE lang = 'en') + 1)) - 1)
  - (length(bin(COUNT(*) FILTER (WHERE lang <> 'en') + 1)) - 1) AS r
FROM bkts GROUP BY bucket
"""


def stage2b_sql(safe_src: str, ratio_rows: list[tuple]) -> str:
    """Pass 2: per-doc scoring + top-40, the ratio table re-injected
    as VALUES so the gram stream is referenced exactly once."""
    vals = ", ".join(f"({int(b)}, {int(r)})" for b, r in ratio_rows)
    # NOTE: the final join reads the safe parquet under a SECOND CTE
    # name — a 'safe' referenced by both the gram chain and the scored
    # join would be materialized whole by the engine (the multi-
    # reference rule), which is the exact failure being staged around
    return f"""
WITH safe AS (SELECT * FROM read_parquet('{safe_src}')),{_GRAMS_STREAM},
ratio AS (SELECT * FROM (VALUES {vals}) v(bucket, r)),
s AS (
  SELECT b.doc_id, COUNT(*) AS n_grams, SUM(r.r) AS sum_ratio
  FROM bkts b JOIN ratio r USING (bucket) WHERE b.lang <> 'en' GROUP BY 1
),
safe2 AS (SELECT * FROM read_parquet('{safe_src}')),
scored AS (
  SELECT f.doc_id, f.lang, f.source, f.kept_words,
    CAST(COALESCE(s.n_grams, 0) AS BIGINT) AS n_grams,
    CAST(CASE WHEN s.n_grams > 0
         THEN FLOOR(10000 * s.sum_ratio / s.n_grams) ELSE 0 END AS BIGINT)
      AS dsir_score_bp
  FROM safe2 f LEFT JOIN s USING (doc_id)
  WHERE f.lang <> 'en'
)
SELECT doc_id, lang, source, kept_words, n_grams, dsir_score_bp
FROM scored ORDER BY dsir_score_bp DESC, doc_id LIMIT 40
"""


def fresh_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET preserve_insertion_order=false")
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    # the chain runs within a few GB of the default 80%-of-RAM limit at
    # sf10 — halving the pipeline count halves the transient peak
    con.execute("SET threads=16")
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    return con


def main() -> None:
    sf_dir = (sys.argv[1] if len(sys.argv) > 1 else "testdata_sf10").rstrip("/")
    from linkmerce_spark.oracles import ORACLES
    from linkmerce_spark.queries import clean_select_stages
    from linkmerce_spark.session import get_spark

    spark = get_spark()
    tmp = tempfile.mkdtemp(prefix="staged_e2e_")
    s1_parquet = f"{tmp}/stage1_safe.parquet"
    safe_src = s1_parquet + "/*.parquet"
    oracle = ORACLES["doc_clean_select_e2e"]

    # ---- stage 1: safe frame, checksummed on both engines. The
    # DuckDB leg runs FIRST and alone (it must not share the machine
    # with the Spark JVM), as the temp-table staged form ----
    t0 = time.perf_counter()
    con = fresh_con(sf_dir)
    for stmt in STAGE1_STAGED_STMTS:
        con.execute(stmt)
    want1 = duck_checksums(con, STAGE1_STAGED_SELECT)
    if duckdb.connect().execute(
        f"SELECT COUNT(*) FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0] < 100_000:
        # small sf: the staged temp-table form must equal the committed
        # monolithic prefix checksum-for-checksum
        mono1 = duck_checksums(fresh_con(sf_dir), stage1_sql(oracle))
        assert mono1 == want1, "staged stage1 drifted from the monolithic twin"
        print("ok   stage1 staged form == monolithic prefix "
              f"({len(mono1)} checksums, self-check)", flush=True)
    con.close()
    t_duck1 = time.perf_counter() - t0

    t0 = time.perf_counter()
    safe, final = clean_select_stages(spark, sf_dir)
    safe.coalesce(8).write.mode("overwrite").parquet(s1_parquet)
    got1 = spark_checksums(spark.read.parquet(s1_parquet))
    t_spark1 = time.perf_counter() - t0
    bad1 = {
        k: (got1.get(k), want1.get(k))
        for k in set(got1) | set(want1)
        if got1.get(k) != want1.get(k)
    }
    status1 = "ok  " if not bad1 else "FAIL"
    print(
        f"{status1} stage1 safe (n={got1['__n']}, {len(got1)} checksums) "
        f"[duck {t_duck1:.1f}s, spark {t_spark1:.1f}s]"
        + (f" {bad1}" if bad1 else ""),
        flush=True,
    )
    n_docs = int(got1["__n"])

    # Spark's answer comes out BEFORE the DuckDB stage-2 legs, then
    # the JVM drops its cached lineage so DuckDB gets the RAM back
    t0 = time.perf_counter()
    spark_rows = sorted(tuple(r) for r in final.collect())
    t_spark2 = time.perf_counter() - t0
    spark.catalog.clearCache()

    # ---- stage 2: DSIR top-40 over the checksum-proven boundary,
    # streaming two-pass form, row-level (40 rows) ----
    t0 = time.perf_counter()
    con = fresh_con(sf_dir)
    ratio_rows = con.execute(stage2a_sql(safe_src)).fetchall()
    duck_rows = sorted(
        tuple(r) for r in con.execute(stage2b_sql(safe_src, ratio_rows)).fetchall()
    )
    t_duck2 = time.perf_counter() - t0
    if n_docs < 100_000:
        # small sf: assert the streaming form == the committed
        # monolithic suffix row-for-row before trusting it at sf10
        mono = sorted(
            tuple(r)
            for r in con.execute(stage2_monolith_sql(oracle, safe_src)).fetchall()
        )
        assert mono == duck_rows, "staged suffix drifted from the monolithic twin"
        print("ok   stage2 streaming form == monolithic suffix "
              f"({len(mono)} rows, self-check)", flush=True)
    con.close()
    bad2 = spark_rows != duck_rows
    status2 = "ok  " if not bad2 else "FAIL"
    print(
        f"{status2} stage2 final ({len(spark_rows)} rows row-level) "
        f"[duck {t_duck2:.1f}s, spark {t_spark2:.1f}s]",
        flush=True,
    )
    if bad2:
        for s, d in zip(spark_rows, duck_rows):
            if s != d:
                print(f"  first diff: spark={s} duck={d}")
                break
    print(("PASS" if not bad1 and not bad2 else "FAIL") + " doc_clean_select_e2e staged")


if __name__ == "__main__":
    main()
