"""DuckDB oracle SQL — one ANSI-SQL twin per entry in queries.QUERIES.

Same column names, same deterministic values (see queries.py header for
the determinism conventions). Tables region/nation/customer/supplier/
part/orders/lineitem/events/documents/embeddings are pre-registered
views over the same parquet files.
"""

from __future__ import annotations

__all__ = ["ORACLES"]

ORACLES: dict[str, str] = {}

ORACLES["pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(8,2)))) * 100 + 0.5) AS DOUBLE) / 100 AS sum_disc_price,
  CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(8,2))) * (1 + CAST(l_tax AS DECIMAL(8,2)))) * 100 + 0.5) AS DOUBLE) / 100 AS sum_charge,
  COUNT(*) AS count_order,
  CAST(SUM(CASE WHEN l_discount > 0.05 THEN CAST(l_quantity AS DECIMAL(18,2))
                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_qty_highdisc
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-06-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

ORACLES["star_join_revenue"] = """
SELECT r_name, n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS revenue,
  COUNT(DISTINCT o_orderkey) AS n_orders
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""

ORACLES["top_order_per_customer"] = """
SELECT o_custkey, o_orderkey, o_totalprice FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn = 1
"""

ORACLES["latest_order_dedupe"] = """
SELECT o_custkey, o_orderkey AS latest_orderkey,
       CAST(o_orderdate AS DATE) AS latest_order_date
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
) WHERE rn = 1
"""

ORACLES["full_outer_merge_events"] = """
WITH p AS (
  SELECT user_id AS p_user, COUNT(*) AS purchase_count,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
), e AS (
  SELECT user_id AS e_user, COUNT(*) AS error_count
  FROM events WHERE event_type = 'error' GROUP BY user_id
)
SELECT COALESCE(p_user, e_user) AS user_id,
       COALESCE(purchase_count, 0) AS purchase_count,
       COALESCE(purchase_value, 0.0) AS purchase_value,
       COALESCE(error_count, 0) AS error_count
FROM p FULL OUTER JOIN e ON p_user = e_user
"""

_ALLOC_BASE = """
  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         CAST(CAST(l_extendedprice AS DECIMAL(18,6)) AS DECIMAL(18,6)) AS w,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS total_cents
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
"""

ORACLES["allocation_proportional"] = f"""
WITH base AS ({_ALLOC_BASE}),
shares AS (
  SELECT l_orderkey, l_linenumber, total_cents,
         CAST(FLOOR(CAST(total_cents AS DOUBLE) * CAST(w AS DOUBLE)
                    / CAST(SUM(w) OVER (PARTITION BY l_orderkey) AS DOUBLE) * 1.0 + 0.5)
              AS DECIMAL(18,0)) AS share,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber, l_partkey, l_suppkey, w) AS rn
  FROM base
)
SELECT l_orderkey, l_linenumber,
       CAST(CASE WHEN rn = 1
                 THEN share + (CAST(total_cents AS DECIMAL(18,0))
                               - SUM(share) OVER (PARTITION BY l_orderkey))
                 ELSE share END AS BIGINT) AS allocated_cents
FROM shares
"""

ORACLES["allocation_integer_even"] = f"""
WITH base AS ({_ALLOC_BASE})
SELECT l_orderkey, l_linenumber,
       CAST(CAST(FLOOR(CAST(total_cents AS DOUBLE) / n) AS BIGINT)
            + CASE WHEN rn <= total_cents - CAST(FLOOR(CAST(total_cents AS DOUBLE) / n) AS BIGINT) * n
                   THEN 1 ELSE 0 END AS BIGINT) AS even_cents
FROM (
  SELECT l_orderkey, l_linenumber, total_cents,
         COUNT(*) OVER (PARTITION BY l_orderkey) AS n,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS rn
  FROM base
)
"""

ORACLES["rolling_30d_qty"] = """
SELECT l_orderkey, l_linenumber,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
    PARTITION BY l_partkey
    ORDER BY datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
    RANGE BETWEEN 30 PRECEDING AND 1 PRECEDING
  ) AS DOUBLE) AS qty_30d
FROM lineitem
"""

ORACLES["cumulative_customer_spend"] = """
SELECT o_custkey, o_orderkey,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS DOUBLE) AS cum_spend
FROM orders
"""

ORACLES["next_order_gap"] = """
SELECT o_custkey, o_orderkey,
  CAST(o_orderdate AS DATE) AS order_date,
  CAST(LEAD(o_orderdate) OVER w AS DATE) AS next_order_date,
  CAST(datediff('day', CAST(o_orderdate AS DATE),
                CAST(LEAD(o_orderdate) OVER w AS DATE)) AS INTEGER) AS gap_days
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""

ORACLES["union_all_fact_assembly"] = """
SELECT o_orderkey AS ref_key, 'order' AS source_kind, o_totalprice AS amount,
       CAST(o_orderdate AS DATE) AS ymd, o_orderpriority AS detail
FROM orders
UNION ALL
SELECT l_orderkey, 'lineitem', l_extendedprice,
       CAST(l_shipdate AS DATE), CAST(NULL AS VARCHAR)
FROM lineitem
"""

ORACLES["customers_without_orders"] = """
SELECT c_custkey, c_name, n_name
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""

ORACLES["building_segment_order_stats"] = """
SELECT o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM orders
WHERE EXISTS (SELECT 1 FROM customer
              WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING')
GROUP BY o_orderpriority
"""

ORACLES["largest_parts"] = """
SELECT p_partkey, p_name, p_size FROM part
WHERE p_size = (SELECT MAX(p_size) FROM part)
"""

ORACLES["explode_part_words"] = """
SELECT p_partkey,
       CAST(UNNEST(range(1, len(ws) + 1)) AS INTEGER) AS ord,
       UNNEST(ws) AS word
FROM (SELECT p_partkey, string_split(p_name, ' ') AS ws FROM part)
"""

ORACLES["effective_dated_campaign"] = """
WITH campaigns(c_mktsegment, start_date, end_date, campaign) AS (
  VALUES ('BUILDING',   DATE '1995-01-01', DATE '1997-12-31', 'early-building'),
         ('BUILDING',   DATE '1998-01-01', DATE '2999-12-31', 'late-building'),
         ('AUTOMOBILE', DATE '1996-01-01', DATE '1998-12-31', 'auto-mid'),
         ('MACHINERY',  DATE '2000-01-01', DATE '2999-12-31', 'machinery-recent')
)
SELECT g.campaign, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
LEFT JOIN campaigns g
  ON c.c_mktsegment = g.c_mktsegment
 AND CAST(o.o_orderdate AS DATE) BETWEEN g.start_date AND g.end_date
GROUP BY g.campaign
"""

ORACLES["string_functions"] = """
SELECT p_partkey,
  CAST(regexp_extract(p_brand, '#(\\d+)', 1) AS INTEGER) AS brand_num,
  lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
  split_part(p_name, ' ', 1) AS first_word,
  substr(p_name, 1, 3) AS name_prefix,
  concat_ws('-', p_type, p_brand) AS type_brand,
  upper(p_type) AS type_upper,
  starts_with(p_name, 'small') AS is_small
FROM part
"""

ORACLES["date_functions"] = """
SELECT o_orderkey,
  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
  CAST(dayofweek(CAST(o_orderdate AS DATE)) AS INTEGER) AS dow,
  strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS ymd_str,
  CAST(o_orderdate AS DATE) + 30 AS plus_30d,
  CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS DATE) AS next_month,
  CAST(year(o_orderdate) AS INTEGER) AS yr,
  CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
  make_date(CAST(year(o_orderdate) AS INTEGER), CAST(month(o_orderdate) AS INTEGER), 1) AS month_first
FROM orders
"""

ORACLES["enum_encoding"] = """
SELECT o_orderkey,
  CAST(CASE o_orderstatus WHEN 'O' THEN 0 WHEN 'F' THEN 1 WHEN 'P' THEN 2
       ELSE -1 END AS INTEGER) AS status_code,
  TRY_CAST(split_part(o_orderpriority, '-', 1) AS INTEGER) AS priority_code
FROM orders
"""

ORACLES["null_guards"] = """
SELECT c_custkey,
  COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'OTHER') AS segment_masked,
  GREATEST(LEAST(c_acctbal, 5000.0), -500.0) AS bal_clamped,
  NULLIF(c_nationkey, 0) AS nation_nullable
FROM customer
"""

ORACLES["distinct_segments"] = """
SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
"""

ORACLES["string_agg_names"] = """
SELECT n_name,
  string_agg(c_name, ',' ORDER BY c_name) AS customer_csv,
  COUNT(*) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""

ORACLES["events_json_extract"] = """
SELECT event_type, COUNT(*) AS n_events,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
"""

ORACLES["events_hourly_windows"] = """
SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS window_start,
       event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""

_TOKENS = "list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}]+'), x -> x <> '')"
_STOPWORDS = "['the','and','of','to','in','is','that','for','with','was']"

ORACLES["doc_text_metrics"] = f"""
SELECT doc_id,
  CAST(len({_TOKENS}) AS BIGINT) AS n_tokens,
  CAST(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?\\p{{L}}+| ?\\p{{N}}+| ?[^\\s\\p{{L}}\\p{{N}}]+')) AS BIGINT) AS n_bpe_tokens,
  CAST(length(text) AS INTEGER) AS n_chars_exact,
  round(CASE WHEN length(text) = 0 THEN 0.0
        ELSE CAST(length(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) AS DOUBLE)
             / length(text) END, 6) AS punct_ratio,
  (CASE WHEN len({_TOKENS}) = 0 THEN 0.0
        ELSE CAST(len(list_filter({_TOKENS}, t -> list_contains({_STOPWORDS}, t))) AS DOUBLE)
             / len({_TOKENS}) END) AS stopword_ratio,
  (
    LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
    + GREATEST(0.0, 1.0 - (CASE WHEN length(text) = 0 THEN 0.0
        ELSE CAST(length(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) AS DOUBLE)
             / length(text) END) * 4.0) * 0.3
    + LEAST((CASE WHEN len({_TOKENS}) = 0 THEN 0.0
        ELSE CAST(len(list_filter({_TOKENS}, t -> list_contains({_STOPWORDS}, t))) AS DOUBLE)
             / len({_TOKENS}) END) * 5.0, 1.0) * 0.3) AS quality
FROM documents
"""

_MARKERS = {
    "en": "['the','and','of','to','in','is','that','for','with','was']",
    "de": "['der','die','und','das','ist','nicht','mit','ein','von','zu']",
    "fr": "['le','la','et','les','des','est','une','dans','que','pour']",
    "es": "['el','la','de','que','los','una','es','por','con','para']",
}
_SCORES = ", ".join(
    f"len(list_filter({_TOKENS}, t -> list_contains({arr}, t))) AS s_{lang}"
    for lang, arr in _MARKERS.items()
)

ORACLES["doc_lang_guess"] = f"""
WITH scored AS (
  SELECT doc_id, lang, {_SCORES} FROM documents
)
SELECT doc_id, lang,
  CASE WHEN GREATEST(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
       WHEN s_en = GREATEST(s_en, s_de, s_fr, s_es) THEN 'en'
       WHEN s_de = GREATEST(s_en, s_de, s_fr, s_es) THEN 'de'
       WHEN s_fr = GREATEST(s_en, s_de, s_fr, s_es) THEN 'fr'
       ELSE 'es' END AS lang_guess,
  (CASE WHEN GREATEST(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
       WHEN s_en = GREATEST(s_en, s_de, s_fr, s_es) THEN 'en'
       WHEN s_de = GREATEST(s_en, s_de, s_fr, s_es) THEN 'de'
       WHEN s_fr = GREATEST(s_en, s_de, s_fr, s_es) THEN 'fr'
       ELSE 'es' END) = lang AS guess_matches
FROM scored
"""

ORACLES["doc_chunk_windows"] = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
), s AS (
  SELECT doc_id, words,
         UNNEST(range(0, greatest(len(words), 1), 48)) AS chunk_start
  FROM w
)
SELECT doc_id,
  CAST(chunk_start // 48 AS BIGINT) AS chunk_id,
  CAST(chunk_start AS BIGINT) AS chunk_start,
  CAST(least(60, len(words) - chunk_start) AS BIGINT) AS n_tokens,
  array_to_string(list_slice(words, chunk_start + 1, chunk_start + 60), ' ') AS chunk_text
FROM s
"""

ORACLES["doc_boilerplate"] = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
), g AS (
  SELECT doc_id,
    UNNEST(CASE WHEN len(words) >= 5
      THEN list_transform(range(1, len(words) - 3),
                          i -> array_to_string(list_slice(words, i, i + 4), ' '))
      ELSE CAST([] AS VARCHAR[]) END) AS gram
  FROM w
), gram_df AS (
  SELECT gram, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY 1
), per_doc AS (
  SELECT g.doc_id, COUNT(*) AS n_grams,
         COUNT(*) FILTER (WHERE gram_df.df >= 3) AS dup_grams
  FROM g JOIN gram_df USING (gram) GROUP BY 1
)
SELECT d.doc_id,
  CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
  CAST(COALESCE(p.dup_grams, 0) AS BIGINT) AS dup_grams,
  CAST(COALESCE(FLOOR(10000 * p.dup_grams / p.n_grams), 0) AS BIGINT) AS boilerplate_bp
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""

ORACLES["doc_inverted_index"] = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
), p AS (
  SELECT doc_id, words, UNNEST(range(0, len(words))) AS pos FROM w
), t AS (
  SELECT words[pos + 1] AS term, doc_id,
         printf('%012d:%06d', doc_id, pos) AS pstr
  FROM p
)
SELECT term,
  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq,
  CAST(COUNT(*) AS BIGINT) AS n_postings,
  array_to_string(list_slice(list(pstr ORDER BY pstr), 1, 20), ' ') AS postings
FROM t GROUP BY term
"""

ORACLES["doc_exact_dedup"] = """
WITH fp AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
)
SELECT fp, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
FROM fp GROUP BY fp
"""

ORACLES["doc_dup_spans"] = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
), g AS (
  SELECT doc_id, pos,
         array_to_string(list_slice(words, pos, pos + 7), ' ') AS gram
  FROM (
    SELECT doc_id, words,
      UNNEST(CASE WHEN len(words) >= 8 THEN range(1, len(words) - 6)
             ELSE CAST([] AS BIGINT[]) END) AS pos
    FROM w
  )
), occ AS (
  SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2
), cov AS (
  SELECT doc_id, COUNT(DISTINCT cpos) AS covered_words FROM (
    SELECT g.doc_id, UNNEST(range(g.pos, g.pos + 8)) AS cpos
    FROM g JOIN occ USING (gram)
  ) GROUP BY 1
)
SELECT d.doc_id,
  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_words,
  CAST(COALESCE(c.covered_words, 0) AS BIGINT) AS covered_words,
  CAST(CASE WHEN len(string_split(d.text, ' ')) > 0
       THEN FLOOR(10000 * COALESCE(c.covered_words, 0)
                  / len(string_split(d.text, ' ')))
       ELSE 0 END AS BIGINT) AS dup_span_bp
FROM documents d LEFT JOIN cov c USING (doc_id)
"""

ORACLES["doc_unigram_lm"] = """
WITH t AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
  ) WHERE tok <> ''
), tf AS (
  SELECT tok, COUNT(*) AS tf FROM t GROUP BY 1
), s AS (
  SELECT t.doc_id, COUNT(*) AS n_tokens,
         SUM(length(bin(tf.tf)) - 1) AS sum_ilog2
  FROM t JOIN tf USING (tok) GROUP BY 1
)
SELECT d.doc_id,
  CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens,
  CAST(COALESCE(s.sum_ilog2, 0) AS BIGINT) AS sum_ilog2,
  CAST(CASE WHEN s.n_tokens > 0
       THEN FLOOR(10000 * s.sum_ilog2 / s.n_tokens)
       ELSE 0 END AS BIGINT) AS lm_score_bp
FROM documents d LEFT JOIN s USING (doc_id)
"""


def _interleave_sql(a: str, b: str, bits: int) -> str:
    # Keep the oracle self-contained (no engine imports): the identical
    # Morton-key expression as operators/zorder.interleave_bits_sql.
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i})")
    return "(" + " | ".join(terms) + ")"


ORACLES["zorder_extents"] = f"""
WITH c AS (
  SELECT ((o_custkey % 256) + 256) % 256 AS a,
         ((date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 256)
          + 256) % 256 AS b
  FROM orders
), z AS (
  SELECT ({_interleave_sql('a', 'b', 8)} >> 8) AS z_bucket, a, b FROM c
)
SELECT CAST(z_bucket AS BIGINT) AS z_bucket,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(MIN(a) AS BIGINT) AS cust_min, CAST(MAX(a) AS BIGINT) AS cust_max,
  CAST(MIN(b) AS BIGINT) AS day_min, CAST(MAX(b) AS BIGINT) AS day_max
FROM z GROUP BY 1
"""

_QVEC = "list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))"

ORACLES["embedding_topk"] = f"""
WITH q AS (
  SELECT vec_id AS query_id, {_QVEC} AS qv
  FROM embeddings WHERE vec_id % 50 = 0
), c AS (
  SELECT vec_id AS neighbor_id, {_QVEC} AS cv FROM embeddings
), pairs AS (
  SELECT query_id, neighbor_id,
         FLOOR(CAST(list_sum(list_transform(range(1, 65), i -> qv[i] * cv[i])) AS DOUBLE)
               / NULLIF(sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE))
                        * sqrt(CAST(list_sum(list_transform(cv, x -> x * x)) AS DOUBLE)), 0.0)
               * 1000000.0 + 0.5) / 1000000.0 AS cosine
  FROM c, q WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM pairs
) WHERE rank <= 5
"""

ORACLES["unpivot_lineitem_measures"] = """
SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS value FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem
"""

ORACLES["merge_upsert_balances"] = """
WITH t AS (
  SELECT c_custkey AS k, CAST(c_acctbal AS DECIMAL(18,2)) AS bal, c_mktsegment AS seg
  FROM customer
), s AS (
  SELECT o_custkey AS k,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS bal,
         CAST(NULL AS VARCHAR) AS seg
  FROM orders GROUP BY o_custkey
)
SELECT COALESCE(t.k, s.k) AS k,
  CAST(CASE WHEN t.k IS NOT NULL AND s.k IS NOT NULL THEN GREATEST(t.bal, s.bal)
            WHEN t.k IS NOT NULL THEN t.bal ELSE s.bal END AS DOUBLE) AS bal,
  CASE WHEN t.k IS NOT NULL AND s.k IS NOT NULL THEN COALESCE(t.seg, s.seg)
       WHEN t.k IS NOT NULL THEN t.seg ELSE s.seg END AS seg
FROM t FULL OUTER JOIN s ON t.k = s.k
"""

ORACLES["insert_ignore_orders"] = """
WITH slim AS (
  SELECT o_orderkey, o_custkey, o_totalprice, CAST(o_orderdate AS DATE) AS order_date
  FROM orders
), target AS (
  SELECT * FROM slim WHERE order_date < DATE '1999-01-01'
), dedup AS (
  SELECT o_orderkey, o_custkey, o_totalprice, order_date FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                 ORDER BY order_date, o_custkey, o_totalprice) AS rn
    FROM slim
  ) WHERE rn = 1
), fresh AS (
  SELECT d.* FROM dedup d
  WHERE NOT EXISTS (SELECT 1 FROM target WHERE target.o_orderkey = d.o_orderkey)
)
SELECT * FROM target
UNION ALL
SELECT * FROM fresh
"""

ORACLES["date_spine_daily_orders"] = """
WITH spine AS (
  SELECT CAST(UNNEST(generate_series(DATE '1995-01-01', DATE '1995-03-31',
                                     INTERVAL 1 DAY)) AS DATE) AS ymd
), daily AS (
  SELECT CAST(o_orderdate AS DATE) AS ymd, COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
  FROM orders GROUP BY 1
)
SELECT spine.ymd, COALESCE(daily.n, 0) AS n_orders,
       COALESCE(daily.total, 0.0) AS total_value
FROM spine LEFT JOIN daily ON spine.ymd = daily.ymd
"""

ORACLES["customer_order_anchor"] = """
SELECT o_custkey, o_orderkey,
  MIN(o_orderkey) OVER w AS anchor_orderkey,
  COUNT(*) OVER w AS n_orders_cust,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS cust_total
FROM orders
WINDOW w AS (PARTITION BY o_custkey)
"""

ORACLES["pivot_status_counts"] = """
SELECT o_orderpriority,
  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_partial
FROM orders GROUP BY o_orderpriority
"""

ORACLES["safe_casts"] = """
SELECT p_partkey,
  TRY_CAST(replace(CAST(p_size AS VARCHAR) || ',500', ',', '') AS BIGINT) AS parsed_int,
  TRY_CAST(replace('x' || p_brand, ',', '') AS BIGINT) AS parsed_junk,
  TRY_CAST(replace(CAST(p_size AS VARCHAR) || '.25', ',', '') AS DOUBLE) AS parsed_float,
  TRY_CAST(p_name AS BIGINT) AS name_as_int
FROM part
"""

ORACLES["json_struct_projection"] = """
SELECT event_id, event_type,
  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
  CAST(json_extract_string(props, '$.k') AS BIGINT) * 2 AS k_doubled,
  'r1' AS batch_tag
FROM events
"""

ORACLES["sql_model_sales_by_priority"] = """
SELECT o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM orders WHERE o_totalprice >= 50000
GROUP BY o_orderpriority
"""

# --- near-dup suite ------------------------------------------------------
_DTOKS = "list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}]+'), x -> x <> '')"


def _shingle_sql(n: int) -> str:
    return (
        f"CASE WHEN len(t) < {n} THEN CAST([] AS VARCHAR[]) "
        f"ELSE list_distinct(list_transform(range(1, len(t) - {n - 2}), "
        f"i -> array_to_string(list_slice(t, i, i + {n - 1}), ' '))) END"
    )


from linkmerce_spark.operators.minhash import minhash_perm_consts

# The permutation modulus, stated here rather than read from the
# operator so the twin pins it.
_SIG16 = ", ".join(
    f"list_min(list_transform(hs, h -> (h * {a} + {b}) % 4294967311))"
    for a, b in minhash_perm_consts(16)
)

ORACLES["minhash_near_dups"] = f"""
WITH toks AS (
  SELECT doc_id, {_DTOKS} AS t FROM documents
), sh AS (
  SELECT doc_id, {_shingle_sql(3)} AS shingles FROM toks
), hashed AS (
  SELECT doc_id, shingles,
         list_transform(shingles, s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)) AS hs
  FROM sh WHERE len(shingles) > 0
), sig AS (
  SELECT doc_id, shingles, [{_SIG16}] AS sig
  FROM hashed
), bands AS (
  SELECT doc_id, b.band_id,
         md5(array_to_string(list_slice(sig, b.band_id * 4 + 1, b.band_id * 4 + 4), '|')) AS band_key
  FROM sig, (SELECT UNNEST([0, 1, 2, 3]) AS band_id) b
), kept AS (
  SELECT band_id, band_key FROM bands
  GROUP BY band_id, band_key HAVING COUNT(*) <= 500
), capped AS (
  SELECT bands.* FROM bands JOIN kept USING (band_id, band_key)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
  FROM capped a
  JOIN capped b2 ON a.band_id = b2.band_id AND a.band_key = b2.band_key
              AND a.doc_id < b2.doc_id
)
SELECT id_a, id_b,
  CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
  / (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles))) AS jaccard
FROM cand
JOIN sig sa ON cand.id_a = sa.doc_id
JOIN sig sb ON cand.id_b = sb.doc_id
WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
      / (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles))) >= 0.5
"""

ORACLES["doc_pack_plan"] = f"""
WITH counted AS (
  SELECT doc_id, doc_id % 4 AS shard,
    CAST(len({_DTOKS}) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT doc_id, shard, n_tokens,
  CAST(COALESCE(SUM(n_tokens) OVER (
    PARTITION BY shard ORDER BY doc_id ASC
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before,
  CAST(COALESCE(SUM(n_tokens) OVER (
    PARTITION BY shard ORDER BY doc_id ASC
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512 AS BIGINT) AS pack_id,
  CAST(COALESCE(SUM(n_tokens) OVER (
    PARTITION BY shard ORDER BY doc_id ASC
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) % 512 AS BIGINT) AS pack_offset
FROM counted
"""

# 6-gram decontamination twin: same tokenizer (_DTOKS), same distinct
# word-6-grams, same 60-bit md5-prefix hash (15 hex chars -> BIGINT).
ORACLES["doc_decontam"] = f"""
WITH toks AS (
  SELECT doc_id, {_DTOKS} AS t FROM documents
), grams AS (
  SELECT doc_id, UNNEST(list_distinct(
    CASE WHEN len(t) < 6 THEN CAST([] AS VARCHAR[])
         ELSE list_transform(range(1, len(t) - 4),
                             i -> array_to_string(list_slice(t, i, i + 5), ' '))
    END)) AS g
  FROM toks
), hashed AS (
  SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS gram_hash FROM grams
), bench AS (
  SELECT DISTINCT gram_hash FROM hashed WHERE doc_id % 97 = 0
), hits AS (
  SELECT h.doc_id, COUNT(*) AS collision_count
  FROM hashed h JOIN bench USING (gram_hash)
  GROUP BY 1
)
SELECT d.doc_id,
  CAST(COALESCE(hits.collision_count, 0) AS BIGINT) AS collision_count,
  COALESCE(hits.collision_count, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
"""

ORACLES["doc_repetition"] = f"""
WITH toks AS (
  SELECT doc_id, {_DTOKS} AS t FROM documents
), sh AS (
  SELECT doc_id,
    CASE WHEN len(t) < 5 THEN CAST([] AS VARCHAR[])
         ELSE list_transform(range(1, len(t) - 3),
                             i -> array_to_string(list_slice(t, i, i + 4), ' '))
    END AS s
  FROM toks
)
SELECT doc_id,
  CAST(len(s) AS BIGINT) AS ngrams_total,
  CAST(len(s) - len(list_distinct(s)) AS BIGINT) AS ngrams_dup,
  CAST(CASE WHEN len(s) > 0
            THEN ((len(s) - len(list_distinct(s))) * 1000) // len(s) END AS BIGINT)
    AS rep_permille
FROM sh
"""

# Patterns shared verbatim with functions/text.PII_PATTERNS — only
# constructs that parse identically under Java regex and RE2.
ORACLES["doc_pii_scan"] = r"""
WITH scanned AS (
  SELECT doc_id, text
    || (CASE WHEN doc_id % 7 = 0
             THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com now'
             ELSE '' END)
    || (CASE WHEN doc_id % 5 = 0
             THEN ' see https://docs.example.com/page/' || CAST(doc_id AS VARCHAR)
             ELSE '' END)
    || (CASE WHEN doc_id % 11 = 0 THEN ' call 010-1234-5678' ELSE '' END) AS body
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(body, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS email_count,
  CAST(len(regexp_extract_all(body, 'https?://[^\s]+')) AS BIGINT) AS url_count,
  CAST(len(regexp_extract_all(body, '[0-9]{2,3}[-.][0-9]{3,4}[-.][0-9]{4}')) AS BIGINT) AS phone_count,
  (len(regexp_extract_all(body, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
   + len(regexp_extract_all(body, 'https?://[^\s]+'))
   + len(regexp_extract_all(body, '[0-9]{2,3}[-.][0-9]{3,4}[-.][0-9]{4}'))) > 0 AS has_pii
FROM scanned
"""

# Duplicate clusters over the SAME pair graph as minhash_near_dups:
# undirected reachability via a recursive CTE, component = min reachable
# id (the Spark side's min-label propagation fixpoint).
ORACLES["doc_dup_clusters"] = """
WITH RECURSIVE mh AS ({mh}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM mh
  UNION
  SELECT id_b AS src, id_a AS dst FROM mh
), reach AS (
  SELECT src AS id, src AS label FROM edges
  UNION
  SELECT e.dst AS id, r.label FROM reach r JOIN edges e ON e.src = r.id
)
SELECT id AS doc_id, MIN(label) AS component FROM reach GROUP BY id
""".format(mh=ORACLES["minhash_near_dups"].strip())

ORACLES["simhash_fingerprints"] = f"""
WITH toks AS (
  SELECT doc_id, {_DTOKS} AS t FROM documents
), h AS (
  SELECT doc_id, list_transform(t, x -> md5(x)) AS hs FROM toks
)
SELECT doc_id, array_to_string(list_transform(range(1, 33), i ->
  CASE WHEN list_sum(list_transform(hs, x ->
         CASE WHEN substr(x, i, 1) IN ('8','9','a','b','c','d','e','f')
              THEN 1 ELSE -1 END)) > 0
       THEN '1' ELSE '0' END), '') AS simhash
FROM h
"""

ORACLES["ngram_jaccard_blocked"] = f"""
WITH toks AS (
  SELECT doc_id, source, {_DTOKS} AS t FROM documents
), sh AS (
  SELECT doc_id, source, {_shingle_sql(2)} AS shingles FROM toks
), pairs AS (
  SELECT a.source, a.doc_id AS id_a, b.doc_id AS id_b,
    CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
    / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) AS jaccard
  FROM sh a JOIN sh b
    ON a.source = b.source AND a.doc_id <> b.doc_id
  WHERE a.doc_id % 97 = 0 AND len(a.shingles) > 0 AND len(b.shingles) > 0
    AND (b.doc_id % 97 <> 0 OR a.doc_id < b.doc_id)
)
SELECT source, id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.02
"""

# Deterministic k-means||-style IVF training, re-derived in SQL from
# scratch (operators/similarity.ivf_train semantics): k*2 smallest-id
# candidate seeds -> full-data weighting (first-min tie rule) -> top-k
# by (weight DESC, candidate ASC) -> one exact-integer Lloyd step with
# floor-mean and empty-cell seed fallback -> final assignment.
# k SCALES WITH THE CORPUS: GREATEST(8, CEIL(n / 512.0)) — the same
# formula as similarity.ivf_k_for (512 is a power of two, so the
# double division is exact and the two engines' ceils agree for any
# n < 2^53/512). Cells of ~constant size keep the in-cell pair
# queries linear in N instead of N²/k_fixed.
_IVF_TRAIN_CTE = """
ivf_q AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS q
  FROM embeddings
), ivf_k AS (
  SELECT GREATEST(8, CAST(CEIL(COUNT(*) / 512.0) AS BIGINT)) AS k FROM ivf_q
), ivf_cand AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS cid, q
  FROM (SELECT vec_id, q FROM ivf_q ORDER BY vec_id
        LIMIT (SELECT 2 * k FROM ivf_k))
), ivf_a1 AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT v.vec_id, c.cid,
      ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
        CAST(list_sum(list_transform(range(1, 65),
          i -> (v.q[i] - c.q[i]) * (v.q[i] - c.q[i]))) AS BIGINT) ASC, c.cid ASC) AS rn
    FROM ivf_q v CROSS JOIN ivf_cand c
  ) WHERE rn = 1
), ivf_seeds AS (
  SELECT cell, q FROM (
    SELECT ROW_NUMBER() OVER (ORDER BY COALESCE(w.cnt, 0) DESC, c.cid ASC) AS cell, c.q
    FROM ivf_cand c
    LEFT JOIN (SELECT cell, COUNT(*) AS cnt FROM ivf_a1 GROUP BY cell) w
      ON c.cid = w.cell
  ) WHERE cell <= (SELECT k FROM ivf_k)
), ivf_a2 AS (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, s.cell,
      ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
        CAST(list_sum(list_transform(range(1, 65),
          i -> (v.q[i] - s.q[i]) * (v.q[i] - s.q[i]))) AS BIGINT) ASC, s.cell ASC) AS rn
    FROM ivf_q v CROSS JOIN ivf_seeds s
  ) WHERE rn = 1
), ivf_cs AS (
  SELECT cell, pos, CAST(SUM(val) AS BIGINT) AS s, COUNT(*) AS c FROM (
    SELECT a.cell, UNNEST(v.q) AS val, UNNEST(range(1, 65)) AS pos
    FROM ivf_a2 a JOIN ivf_q v ON a.vec_id = v.vec_id
  ) GROUP BY 1, 2
), ivf_mean AS (
  SELECT cell, list(CAST((s - ((s % c) + c) % c) // c AS BIGINT) ORDER BY pos) AS q
  FROM ivf_cs GROUP BY cell
), ivf_cents AS (
  SELECT s.cell, COALESCE(m.q, s.q) AS q
  FROM ivf_seeds s LEFT JOIN ivf_mean m ON s.cell = m.cell
), ivf_cells AS (
  SELECT vec_id, cell, dist AS dist2 FROM (
    SELECT v.vec_id, t.cell,
      CAST(list_sum(list_transform(range(1, 65),
        i -> (v.q[i] - t.q[i]) * (v.q[i] - t.q[i]))) AS BIGINT) AS dist,
      ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
        CAST(list_sum(list_transform(range(1, 65),
          i -> (v.q[i] - t.q[i]) * (v.q[i] - t.q[i]))) AS BIGINT) ASC, t.cell ASC) AS rn
    FROM ivf_q v CROSS JOIN ivf_cents t
  ) WHERE rn = 1
)
"""

ORACLES["embedding_near_dups"] = f"""
WITH {_IVF_TRAIN_CTE.strip()},
e AS (
  SELECT vec_id, {_QVEC} AS q,
         sqrt(CAST(list_sum(list_transform({_QVEC}, x -> x * x)) AS DOUBLE)) AS nrm
  FROM embeddings
), c AS (
  SELECT e.vec_id, e.q AS v, e.nrm, CAST(ic.cell AS INTEGER) AS cell
  FROM e JOIN ivf_cells ic ON e.vec_id = ic.vec_id
), pairs AS (
  SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
    FLOOR(CAST(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) AS DOUBLE)
          / NULLIF(a.nrm * b.nrm, 0.0) * 1000000.0 + 0.5) / 1000000.0 AS cosine
  FROM c a JOIN c b ON a.cell = b.cell AND a.vec_id < b.vec_id
)
SELECT cell, id_a, id_b, cosine FROM pairs WHERE cosine >= 0.25
"""

_MEDIA_F = ",\n  ".join(
    f"CAST('0x' || substr(sha256(text), {2 * i + 1}, 2) AS INTEGER) / 255.0 AS f{i}"
    for i in range(4)
)

# DuckDB md5/sha256 over VARCHAR hash the utf-8 bytes — identical to the
# Spark side hashing encode(text,'UTF-8') binary content.
ORACLES["media_features"] = f"""
SELECT doc_id AS media_id,
  octet_length(encode(text)) AS n_bytes,
  md5(text) AS content_md5,
  {_MEDIA_F}
FROM documents
"""

# Twin of the REAL BMP/PNG/GIF/JPEG/WAV decode: the Spark side
# byte-parses genuine container files built from closed-form content
# (operators/multimodal.py synthesize_media); the oracle recomputes the
# decoded stats from the same generating formulas. Every double is an
# exact integer sum divided once (correctly rounded in both engines).
# Channel semantics are the FILE's: pixel byte position 3i is Blue in a
# BMP (media_id % 8 = 0) but Red in a PNG (% 8 = 2); a GIF (% 8 = 4)
# goes through the fixed palette (r=i, g=2i%256, b=5i%256) applied to
# the index formula; a JPEG (% 8 = 6) carries full entropy decode
# through the lossy chain — the jpegrec CTE below recomputes the
# decoded means in closed form per block color: RGB -> YCbCr
# (floor(x+0.5), clamped), the DC quantize/dequantize round-trip
# (2*floor((v-128)/2+0.5)+128 — each 8x8 block is a solid color so only
# the DC coefficient 8*(mean-128) survives the FDCT, and the fixture's
# q=16 DC step is exactly step 2 in mean space), then YCbCr -> RGB; so
# the oracle means equal what a real baseline decoder recovers from the
# entropy bits.
# A decoder that ignores any container's structure breaks the hash.
ORACLES["media_stats_real"] = """
WITH m AS (
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 2 = 0 THEN 'image'
              WHEN doc_id % 4 = 1 THEN 'audio'
              ELSE 'video' END AS kind
  FROM documents
  WHERE doc_id % 5 = 0
),
img AS (
  SELECT media_id,
         CAST(CASE WHEN media_id % 16 = 6 THEN 16
                   ELSE 4 + media_id % 5 END AS INTEGER) AS w,
         CAST(CASE WHEN media_id % 16 = 6 THEN 16
                   ELSE 2 + media_id % 3 END AS INTEGER) AS h
  FROM m WHERE kind = 'image'
),
vid AS (
  SELECT media_id,
         CAST(4 + media_id % 5 AS INTEGER) AS w,
         CAST(2 + media_id % 3 AS INTEGER) AS h,
         CAST(2 + media_id % 3 AS INTEGER) AS n
  FROM m WHERE kind = 'video'
),
-- Image route 6 is a REAL baseline JPEG of a solid color, and video
-- rows are Motion-JPEG AVIs of solid-color frames: block-constant
-- content makes the lossy chain closed-form (every AC coefficient is
-- zero) — JFIF color convert, DC quantize q=16 / reconstruct, inverse
-- convert, each rounding floor(x+0.5), mirroring operators/jpeg.py.
jpegsrc AS (
  -- stills: id%16==6 averages over its four per-block colors
  -- (f = block index), id%16==14 is the solid f=0 color
  SELECT i.media_id, FALSE AS is_video,
         (i.media_id * 7 + 19 * t.f) % 251 AS r0,
         (i.media_id * 11 + 23 * t.f) % 251 AS g0,
         (i.media_id * 13 + 29 * t.f) % 251 AS b0
  FROM img i CROSS JOIN (SELECT unnest(range(0, 4)) AS f) t
  WHERE i.media_id % 8 = 6
    AND (i.media_id % 16 = 6 OR t.f = 0)
  UNION ALL
  SELECT v.media_id, TRUE,
         (v.media_id * 7 + 19 * t.f) % 251,
         (v.media_id * 11 + 23 * t.f) % 251,
         (v.media_id * 13 + 29 * t.f) % 251
  FROM vid v CROSS JOIN (SELECT unnest(range(0, 4)) AS f) t
  WHERE t.f < v.n
),
jpegrec AS (
  SELECT media_id, is_video,
    CAST(SUM(LEAST(255, GREATEST(0, FLOOR(y2 + 1.402 * (cr2 - 128) + 0.5))))
         AS DOUBLE) / COUNT(*) AS jr,
    CAST(SUM(LEAST(255, GREATEST(0, FLOOR(y2 - 0.344136 * (cb2 - 128)
                                    - 0.714136 * (cr2 - 128) + 0.5))))
         AS DOUBLE) / COUNT(*) AS jg,
    CAST(SUM(LEAST(255, GREATEST(0, FLOOR(y2 + 1.772 * (cb2 - 128) + 0.5))))
         AS DOUBLE) / COUNT(*) AS jb
  FROM (
    SELECT media_id, is_video,
      LEAST(255, GREATEST(0, 2 * FLOOR((y0 - 128) / 2.0 + 0.5) + 128)) AS y2,
      LEAST(255, GREATEST(0, 2 * FLOOR((cb0 - 128) / 2.0 + 0.5) + 128)) AS cb2,
      LEAST(255, GREATEST(0, 2 * FLOOR((cr0 - 128) / 2.0 + 0.5) + 128)) AS cr2
    FROM (
      SELECT media_id, is_video,
        LEAST(255, GREATEST(0, FLOOR(0.299 * r0 + 0.587 * g0 + 0.114 * b0 + 0.5))) AS y0,
        LEAST(255, GREATEST(0, FLOOR(128 - 0.168736 * r0 - 0.331264 * g0 + 0.5 * b0 + 0.5))) AS cb0,
        LEAST(255, GREATEST(0, FLOOR(128 + 0.5 * r0 - 0.418688 * g0 - 0.081312 * b0 + 0.5))) AS cr0
      FROM jpegsrc
    )
  )
  GROUP BY media_id, is_video
),
imgstats AS (
  SELECT media_id, w, h,
    CASE media_id % 8 WHEN 0 THEN pos0 WHEN 2 THEN pos2 WHEN 4 THEN gifb
                      WHEN 6 THEN jpg_b END AS mean_b,
    CASE media_id % 8 WHEN 4 THEN gifg WHEN 6 THEN jpg_g ELSE pos1 END AS mean_g,
    CASE media_id % 8 WHEN 0 THEN pos2 WHEN 2 THEN pos0 WHEN 4 THEN gifr
                      WHEN 6 THEN jpg_r END AS mean_r
  FROM (
    SELECT img.media_id, w, h,
      CAST(SUM((img.media_id * 7 + 3 * t.i) % 251) AS DOUBLE) / (w * h) AS pos0,
      CAST(SUM((img.media_id * 7 + 3 * t.i + 1) % 251) AS DOUBLE) / (w * h) AS pos1,
      CAST(SUM((img.media_id * 7 + 3 * t.i + 2) % 251) AS DOUBLE) / (w * h) AS pos2,
      CAST(SUM((img.media_id * 7 + t.i) % 251) AS DOUBLE) / (w * h) AS gifr,
      CAST(SUM(((img.media_id * 7 + t.i) % 251 * 2) % 256) AS DOUBLE) / (w * h) AS gifg,
      CAST(SUM(((img.media_id * 7 + t.i) % 251 * 5) % 256) AS DOUBLE) / (w * h) AS gifb,
      CAST(ANY_VALUE(j.jr) AS DOUBLE) AS jpg_r,
      CAST(ANY_VALUE(j.jg) AS DOUBLE) AS jpg_g,
      CAST(ANY_VALUE(j.jb) AS DOUBLE) AS jpg_b
    FROM img CROSS JOIN (SELECT unnest(range(0, 32)) AS i) t
    LEFT JOIN jpegrec j ON j.media_id = img.media_id AND NOT j.is_video
    WHERE t.i < w * h
    GROUP BY img.media_id, w, h
  )
),
aud AS (
  SELECT media_id, CAST(32 + media_id % 50 AS INTEGER) AS n
  FROM m WHERE kind = 'audio'
),
audstats AS (
  SELECT a.media_id, a.n,
    sqrt(CAST(SUM(((a.media_id * 31 + t.i * 17) % 2048 - 1024)
                  * ((a.media_id * 31 + t.i * 17) % 2048 - 1024)) AS DOUBLE) / a.n) AS rms
  FROM aud a CROSS JOIN (SELECT unnest(range(0, 82)) AS i) t
  WHERE t.i < a.n
  GROUP BY a.media_id, a.n
)
SELECT m.media_id, m.kind,
  CASE WHEN m.kind = 'image'
       THEN (CASE m.media_id % 8 WHEN 0 THEN 'bmp' WHEN 2 THEN 'png'
                                 WHEN 4 THEN 'gif' ELSE 'jpeg' END)
       WHEN m.kind = 'video' THEN 'avi'
       ELSE 'wav' END AS format,
  COALESCE(i.w, v.w) AS width, COALESCE(i.h, v.h) AS height,
  CAST(CASE WHEN m.kind = 'audio' THEN 1 ELSE 3 END AS INTEGER) AS channels,
  CAST(CASE WHEN m.kind = 'audio' THEN 8000 END AS INTEGER) AS sample_rate,
  CAST(CASE WHEN m.kind = 'audio' THEN (a.n * 1000) // 8000
            WHEN m.kind = 'video' THEN v.n * 100 END AS INTEGER) AS duration_ms,
  COALESCE(i.mean_b, jv.jb) AS mean_b,
  COALESCE(i.mean_g, jv.jg) AS mean_g,
  COALESCE(i.mean_r, jv.jr) AS mean_r,
  s.rms,
  TRUE AS parse_ok
FROM m
LEFT JOIN imgstats i USING (media_id)
LEFT JOIN vid v USING (media_id)
LEFT JOIN jpegrec jv ON jv.media_id = m.media_id AND jv.is_video
LEFT JOIN aud a USING (media_id)
LEFT JOIN audstats s USING (media_id)
"""

# Thumbnails: the integer area-average resize over the fixture's
# generating pixel formulas. Constant-color rows (jpeg stills, avi
# first frames) repeat the reconstructed color 16x; bmp/png/gif rows
# aggregate their source boxes per target cell (nearest-center on
# upscale axes), mirroring operators/thumbs.area_resize exactly.
# The CTE chain is shared by media_thumbnails and media_near_dups.
_MEDIA_THUMB_CTES = """
WITH m AS (
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'video' END AS kind
  FROM documents WHERE doc_id % 5 = 0 AND doc_id % 4 <> 1
),
dims AS (
  SELECT media_id, kind,
         CAST(CASE WHEN kind = 'image' AND media_id % 16 = 6 THEN 16
                   ELSE 4 + media_id % 5 END AS INTEGER) AS w,
         CAST(CASE WHEN kind = 'image' AND media_id % 16 = 6 THEN 16
                   ELSE 2 + media_id % 3 END AS INTEGER) AS h
  FROM m
),
-- reconstructed color per (media_id, f): f = frame 0 for video and
-- the solid 4:2:0 still, f = block index 0..3 for the 16x16
-- block-pattern 4:4:4 still
const AS (
  SELECT media_id, f,
    CAST(LEAST(255, GREATEST(0, FLOOR(y2 + 1.402 * (cr2 - 128) + 0.5))) AS INTEGER) AS jr,
    CAST(LEAST(255, GREATEST(0, FLOOR(y2 - 0.344136 * (cb2 - 128)
                                    - 0.714136 * (cr2 - 128) + 0.5))) AS INTEGER) AS jg,
    CAST(LEAST(255, GREATEST(0, FLOOR(y2 + 1.772 * (cb2 - 128) + 0.5))) AS INTEGER) AS jb
  FROM (
    SELECT media_id, f,
      LEAST(255, GREATEST(0, 2 * FLOOR((y0 - 128) / 2.0 + 0.5) + 128)) AS y2,
      LEAST(255, GREATEST(0, 2 * FLOOR((cb0 - 128) / 2.0 + 0.5) + 128)) AS cb2,
      LEAST(255, GREATEST(0, 2 * FLOOR((cr0 - 128) / 2.0 + 0.5) + 128)) AS cr2
    FROM (
      SELECT media_id, f,
        LEAST(255, GREATEST(0, FLOOR(0.299 * r0 + 0.587 * g0 + 0.114 * b0 + 0.5))) AS y0,
        LEAST(255, GREATEST(0, FLOOR(128 - 0.168736 * r0 - 0.331264 * g0 + 0.5 * b0 + 0.5))) AS cb0,
        LEAST(255, GREATEST(0, FLOOR(128 + 0.5 * r0 - 0.418688 * g0 - 0.081312 * b0 + 0.5))) AS cr0
      FROM (
        SELECT d.media_id, t.f,
               (d.media_id * 7 + 19 * t.f) % 251 AS r0,
               (d.media_id * 11 + 23 * t.f) % 251 AS g0,
               (d.media_id * 13 + 29 * t.f) % 251 AS b0
        FROM dims d CROSS JOIN (SELECT unnest(range(0, 4)) AS f) t
        WHERE (d.kind = 'video' OR d.media_id % 8 = 6)
          AND (t.f = 0 OR (d.kind = 'image' AND d.media_id % 16 = 6))
      )
    )
  )
),
cells AS (
  SELECT a.ti, b.tj
  FROM (SELECT unnest(range(0, 4)) AS ti) a
  CROSS JOIN (SELECT unnest(range(0, 4)) AS tj) b
),
boxes AS (
  SELECT d.media_id, d.w, d.h, c.ti, c.tj,
    CASE WHEN (c.ti + 1) * d.h // 4 <= c.ti * d.h // 4
         THEN (2 * c.ti + 1) * d.h // 8 ELSE c.ti * d.h // 4 END AS r_lo,
    CASE WHEN (c.ti + 1) * d.h // 4 <= c.ti * d.h // 4
         THEN (2 * c.ti + 1) * d.h // 8 + 1 ELSE (c.ti + 1) * d.h // 4 END AS r_hi,
    CASE WHEN (c.tj + 1) * d.w // 4 <= c.tj * d.w // 4
         THEN (2 * c.tj + 1) * d.w // 8 ELSE c.tj * d.w // 4 END AS c_lo,
    CASE WHEN (c.tj + 1) * d.w // 4 <= c.tj * d.w // 4
         THEN (2 * c.tj + 1) * d.w // 8 + 1 ELSE (c.tj + 1) * d.w // 4 END AS c_hi
  FROM dims d CROSS JOIN cells c
  WHERE d.kind = 'image' AND d.media_id % 8 <> 6
),
px AS (
  SELECT b.media_id, b.ti, b.tj, (sr.i * b.w + sc.i) AS p
  FROM boxes b
  JOIN (SELECT unnest(range(0, 8)) AS i) sr ON sr.i >= b.r_lo AND sr.i < b.r_hi
  JOIN (SELECT unnest(range(0, 8)) AS i) sc ON sc.i >= b.c_lo AND sc.i < b.c_hi
),
vals AS (
  SELECT media_id, ti, tj,
    CASE media_id % 8 WHEN 0 THEN (media_id * 7 + 3 * p + 2) % 251
                      WHEN 2 THEN (media_id * 7 + 3 * p) % 251
                      ELSE (media_id * 7 + p) % 251 END AS vr,
    CASE media_id % 8 WHEN 4 THEN ((media_id * 7 + p) % 251 * 2) % 256
                      ELSE (media_id * 7 + 3 * p + 1) % 251 END AS vg,
    CASE media_id % 8 WHEN 0 THEN (media_id * 7 + 3 * p) % 251
                      WHEN 2 THEN (media_id * 7 + 3 * p + 2) % 251
                      ELSE ((media_id * 7 + p) % 251 * 5) % 256 END AS vb
  FROM px
),
cellagg AS (
  SELECT media_id, ti, tj,
    CAST(SUM(vr) // COUNT(*) AS INTEGER) AS vr,
    CAST(SUM(vg) // COUNT(*) AS INTEGER) AS vg,
    CAST(SUM(vb) // COUNT(*) AS INTEGER) AS vb
  FROM vals GROUP BY 1, 2, 3
),
varthumb AS (
  SELECT media_id,
    string_agg(printf('%02x%02x%02x', vr, vg, vb), '' ORDER BY ti, tj) AS thumb_hex
  FROM cellagg GROUP BY 1
),
-- thumbnail cells for every const-chain row: a 16x16 block-pattern
-- still (4 px/cell) maps cell (ti,tj) -> block f = 2*(ti//2)+(tj//2);
-- solid stills and video first-frames use their single f=0 color
constcells AS (
  SELECT c.media_id, cell.ti, cell.tj, c.jr, c.jg, c.jb
  FROM const c
  JOIN cells cell
    ON c.f = CASE WHEN c.media_id % 2 = 0 AND c.media_id % 16 = 6
                  THEN 2 * (cell.ti // 2) + (cell.tj // 2) ELSE 0 END
),
constthumb AS (
  SELECT media_id,
    string_agg(printf('%02x%02x%02x', jr, jg, jb), '' ORDER BY ti, tj) AS thumb_hex
  FROM constcells GROUP BY 1
),
-- one (media_id, idx, val) row per thumbnail component: cell-major,
-- idx = (ti*4+tj)*3 + channel, channels r,g,b — the vector form the
-- near-dup self-join consumes
thumbvals AS (
  SELECT media_id, (ti * 4 + tj) * 3 + ch.c AS idx,
         CASE ch.c WHEN 0 THEN vr WHEN 1 THEN vg ELSE vb END AS val
  FROM cellagg CROSS JOIN (SELECT unnest(range(0, 3)) AS c) ch
  UNION ALL
  SELECT media_id, (ti * 4 + tj) * 3 + ch.c AS idx,
         CASE ch.c WHEN 0 THEN jr WHEN 1 THEN jg ELSE jb END AS val
  FROM constcells
  CROSS JOIN (SELECT unnest(range(0, 3)) AS c) ch
)
"""

ORACLES["media_thumbnails"] = _MEDIA_THUMB_CTES + """
SELECT d.media_id, d.kind,
  CASE WHEN d.kind = 'video' THEN 'avi'
       ELSE CASE d.media_id % 8 WHEN 0 THEN 'bmp' WHEN 2 THEN 'png'
                                WHEN 4 THEN 'gif' ELSE 'jpeg' END END AS format,
  d.w AS width, d.h AS height,
  COALESCE(v.thumb_hex, c.thumb_hex) AS thumb_hex,
  TRUE AS parse_ok
FROM dims d
LEFT JOIN varthumb v USING (media_id)
LEFT JOIN constthumb c USING (media_id)
"""

# Image near-dup over DECODED thumbnails: block on the quantized mean
# color, score within-block pairs by integer-exact squared cosine
# (floor(1e4 * dot^2 / (|a|^2 |b|^2)) — all HUGEINT/decimal, no
# float), keep the top pairs. The multimodal entry point into the
# dedup family: same blocking economics as ngram_jaccard_blocked
# (boundary-straddling pairs are the documented blocking trade-off).
ORACLES["media_near_dups"] = _MEDIA_THUMB_CTES + """,
vecs AS (
  SELECT media_id,
         SUM(val * val) AS n2,
         SUM(CASE WHEN idx % 3 = 0 THEN val ELSE 0 END) // 512 AS br,
         SUM(CASE WHEN idx % 3 = 1 THEN val ELSE 0 END) // 512 AS bg,
         SUM(CASE WHEN idx % 3 = 2 THEN val ELSE 0 END) // 512 AS bb
  FROM thumbvals GROUP BY 1
),
keyed AS (
  SELECT t.media_id, t.idx, t.val, v.n2, v.br, v.bg, v.bb
  FROM thumbvals t JOIN vecs v USING (media_id)
),
pairs AS (
  SELECT a.media_id AS id_a, b.media_id AS id_b,
         SUM(a.val * b.val) AS dot,
         ANY_VALUE(a.n2) AS na2, ANY_VALUE(b.n2) AS nb2
  FROM keyed a JOIN keyed b
    ON a.br = b.br AND a.bg = b.bg AND a.bb = b.bb
   AND a.idx = b.idx AND a.media_id < b.media_id
  GROUP BY 1, 2
),
scored AS (
  SELECT id_a, id_b,
    CAST((10000 * dot * dot) // (na2 * nb2) AS BIGINT) AS cos2_bp
  FROM pairs WHERE na2 > 0 AND nb2 > 0
)
SELECT id_a, id_b, cos2_bp
FROM scored WHERE cos2_bp >= 9990
ORDER BY cos2_bp DESC, id_a, id_b LIMIT 50
"""

# Audio features: integer-exact signal stats over the generating
# formula; s(i) = (id*31 + 17i) % 2048 - 1024, s(i-1) computed in
# closed form (no window needed).
ORACLES["media_audio_features"] = """
WITH a AS (
  SELECT doc_id AS media_id, CAST(32 + doc_id % 50 AS INTEGER) AS n
  FROM documents WHERE doc_id % 5 = 0 AND doc_id % 4 = 1
),
s AS (
  SELECT a.media_id, a.n, t.i,
    (a.media_id * 31 + t.i * 17) % 2048 - 1024 AS v,
    CASE WHEN t.i > 0
         THEN (a.media_id * 31 + (t.i - 1) * 17) % 2048 - 1024 END AS pv
  FROM a CROSS JOIN (SELECT unnest(range(0, 82)) AS i) t
  WHERE t.i < a.n
)
SELECT media_id,
  CAST(ANY_VALUE(n) AS BIGINT) AS n_samples,
  CAST(8000 AS INTEGER) AS sample_rate,
  CAST(MAX(ABS(v)) AS INTEGER) AS peak,
  CAST(SUM(CASE WHEN pv IS NOT NULL
                 AND ((pv < 0 AND v >= 0) OR (pv >= 0 AND v < 0))
            THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
  CAST(SUM(v * v) AS BIGINT) AS energy,
  TRUE AS parse_ok
FROM s GROUP BY media_id
"""

# --- marts layer ---------------------------------------------------------
_MART_DAILY = """
  SELECT CAST(o_orderdate AS DATE) AS ymd, o_orderpriority AS priority,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(8,2)))) AS DECIMAL(28,4)) AS revenue_dec,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
         COUNT(DISTINCT o_orderkey) AS n_orders,
         CAST(SUM(CASE WHEN l_discount > 0.05
                       THEN CAST(l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l_discount AS DECIMAL(8,2)))
                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS high_disc_revenue
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '{start}' AND DATE '{end}'
  GROUP BY 1, 2
"""

ORACLES["mart_sales_daily"] = f"""
SELECT ymd, priority, CAST(revenue_dec AS DOUBLE) AS revenue, qty, n_orders, high_disc_revenue
FROM ({_MART_DAILY.format(start='1996-01-01', end='1996-03-31')})
"""

ORACLES["mart_profit_mom"] = f"""
WITH daily AS ({_MART_DAILY.format(start='1996-01-01', end='1996-02-29')}),
cur AS (
  SELECT priority, CAST(ROUND(SUM(revenue_dec), 2) AS DECIMAL(18,2)) AS cur_revenue, SUM(n_orders) AS cur_orders
  FROM daily WHERE ymd BETWEEN DATE '1996-02-01' AND DATE '1996-02-29' GROUP BY priority
), prev AS (
  SELECT priority, CAST(ROUND(SUM(revenue_dec), 2) AS DECIMAL(18,2)) AS prev_revenue, SUM(n_orders) AS prev_orders
  FROM daily WHERE ymd BETWEEN DATE '1996-01-01' AND DATE '1996-01-31' GROUP BY priority
)
SELECT priority,
  CAST(cur_revenue AS DOUBLE) AS cur_revenue,
  CAST(prev_revenue AS DOUBLE) AS prev_revenue,
  CAST(cur_orders AS BIGINT) AS cur_orders,
  CAST(prev_orders AS BIGINT) AS prev_orders,
  CAST(CASE WHEN p > 0 THEN CAST(CAST((m - ((m % e) + e) % e) // e AS DECIMAL(16,0))
                          * CAST(0.01 AS DECIMAL(3,2)) AS DECIMAL(18,2))
  END AS DOUBLE) AS mom_pct
FROM (
  SELECT *, (c - p) * 20000 + p AS m, p * 2 AS e FROM (
    SELECT COALESCE(cur.priority, prev.priority) AS priority,
      COALESCE(cur_revenue, CAST(0 AS DECIMAL(18,2))) AS cur_revenue,
      COALESCE(prev_revenue, CAST(0 AS DECIMAL(18,2))) AS prev_revenue,
      COALESCE(cur_orders, 0) AS cur_orders,
      COALESCE(prev_orders, 0) AS prev_orders,
      CAST(COALESCE(cur_revenue, CAST(0 AS DECIMAL(18,2))) * 100 AS BIGINT) AS c,
      CAST(COALESCE(prev_revenue, CAST(0 AS DECIMAL(18,2))) * 100 AS BIGINT) AS p
    FROM cur FULL OUTER JOIN prev ON cur.priority = prev.priority
  )
)
"""

ORACLES["mart_rolling_sales"] = f"""
WITH daily AS ({_MART_DAILY.format(start='1996-01-02', end='1996-02-14')}),
spine AS (
  SELECT CAST(UNNEST(generate_series(DATE '1996-01-02', DATE '1996-02-14', INTERVAL 1 DAY)) AS DATE) AS ymd
), pri AS (SELECT DISTINCT priority FROM daily),
grid AS (SELECT ymd, priority FROM spine CROSS JOIN pri),
merged AS (
  SELECT g.ymd, g.priority, COALESCE(CAST(d.revenue_dec AS DOUBLE), 0.0) AS revenue
  FROM grid g LEFT JOIN daily d ON g.ymd = d.ymd AND g.priority = d.priority
)
SELECT ymd, priority, revenue, trailing_revenue FROM (
  SELECT ymd, priority, revenue,
    COALESCE(CAST(SUM(CAST(revenue AS DECIMAL(18,4))) OVER (
      PARTITION BY priority
      ORDER BY datediff('day', DATE '1970-01-01', ymd)
      RANGE BETWEEN 30 PRECEDING AND 1 PRECEDING) AS DOUBLE), 0.0) AS trailing_revenue
  FROM merged
) WHERE ymd >= DATE '1996-02-01'
"""

# --- fingerprints / LSH --------------------------------------------------
ORACLES["doc_winnow_fingerprints"] = r"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS s FROM documents
), grams AS (
  SELECT doc_id, CASE WHEN len(s) < 5 THEN CAST([] AS VARCHAR[])
         ELSE list_transform(range(1, len(s) - 3), i -> substr(s, i, 5)) END AS gs
  FROM norm
), hs AS (
  SELECT doc_id, list_transform(gs, g -> CAST('0x' || substr(md5(g), 1, 8) AS BIGINT)) AS h
  FROM grams
), wins AS (
  SELECT doc_id, UNNEST(CASE WHEN len(h) < 4 THEN CAST([] AS BIGINT[])
    ELSE list_transform(range(1, len(h) - 2), i -> list_min(list_slice(h, i, i + 3))) END) AS fp
  FROM hs
)
SELECT DISTINCT doc_id, fp FROM wins
"""

from linkmerce_spark.operators.fingerprint import lsh_hyperplanes

_LSH_BITS = ",\n  ".join(
    "CASE WHEN list_sum(list_transform(range(1, 65), i -> "
    "CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT) * "
    f"(CAST({plane} AS BIGINT[]))[i])) > 0 THEN '1' ELSE '0' END"
    for plane in lsh_hyperplanes(64, 8)
)

ORACLES["embedding_lsh_buckets"] = f"""
SELECT vec_id, concat({_LSH_BITS}) AS bucket FROM embeddings
"""

ORACLES["date_pruned_orders"] = """
SELECT o_orderpriority AS priority, COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM orders
WHERE (CAST(o_orderdate AS DATE) BETWEEN DATE '1996-03-01' AND DATE '1996-03-10')
   OR CAST(o_orderdate AS DATE) IN (DATE '1996-04-15', DATE '1996-06-01')
GROUP BY 1
"""

ORACLES["embedding_ivf_cells"] = f"""
WITH {_IVF_TRAIN_CTE.strip()}
SELECT vec_id, CAST(cell AS INTEGER) AS cell, dist2 FROM ivf_cells
"""

ORACLES["array_predicates"] = """
SELECT p_partkey,
  len(list_filter(string_split(p_name, ' '), w -> w = 'green')) > 0 AS has_green,
  NOT list_contains(string_split(p_name, ' '), 'red') AS not_red,
  CAST(len(string_split(p_name, ' ')) AS INTEGER) AS n_words,
  string_split(p_name, ' ')[1] AS w1,
  CAST(from_base64(to_base64(encode(p_brand))) AS VARCHAR) AS brand_rt
FROM part
"""

_QUALITY = f"""(
    LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
    + GREATEST(0.0, 1.0 - (CASE WHEN length(text) = 0 THEN 0.0
        ELSE CAST(length(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) AS DOUBLE)
             / length(text) END) * 4.0) * 0.3
    + LEAST((CASE WHEN len({_TOKENS}) = 0 THEN 0.0
        ELSE CAST(len(list_filter({_TOKENS}, t -> list_contains({_STOPWORDS}, t))) AS DOUBLE)
             / len({_TOKENS}) END) * 5.0, 1.0) * 0.3)"""

_LANG_CASE = """CASE WHEN GREATEST(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
       WHEN s_en = GREATEST(s_en, s_de, s_fr, s_es) THEN 'en'
       WHEN s_de = GREATEST(s_en, s_de, s_fr, s_es) THEN 'de'
       WHEN s_fr = GREATEST(s_en, s_de, s_fr, s_es) THEN 'fr'
       ELSE 'es' END"""

ORACLES["doc_stratified_sample"] = f"""
WITH scored AS (
  SELECT doc_id, {_SCORES} FROM documents
), langed AS (
  SELECT doc_id, {_LANG_CASE} AS lang_g FROM scored
)
SELECT doc_id, lang_g FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY lang_g
    ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, CAST(doc_id AS VARCHAR) ASC
  ) AS rn FROM langed
) WHERE rn <= 40
"""

ORACLES["doc_clean_corpus"] = f"""
WITH base AS (
  SELECT doc_id,
    {_SCORES},
    {_QUALITY} AS q,
    CAST(len({_TOKENS}) AS BIGINT) AS n_tokens,
    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
), filt AS (
  SELECT doc_id, q, n_tokens, fp FROM base
  WHERE q >= 0.5 AND {_LANG_CASE} = 'en'
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM filt
)
SELECT doc_id, fp, n_tokens,
       FLOOR(q * 1000000.0 + 0.5) / 1000000.0 AS quality
FROM ranked WHERE rn = 1
"""

ORACLES["events_sessions"] = """
WITH e AS (
  SELECT user_id, date_trunc('second', ts) AS ts2 FROM events
), d AS (
  SELECT user_id, ts2,
    CASE WHEN LAG(ts2) OVER w IS NULL
              OR ts2 - LAG(ts2) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts2)
), s AS (
  SELECT user_id, ts2,
    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts2
                     ROWS UNBOUNDED PRECEDING) AS sid
  FROM d
)
SELECT user_id,
  strftime(MIN(ts2), '%Y-%m-%d %H:%M:%S') AS session_start,
  strftime(MAX(ts2), '%Y-%m-%d %H:%M:%S') AS session_last,
  COUNT(*) AS n_events
FROM s GROUP BY user_id, sid
"""

ORACLES["order_value_quantiles"] = """
SELECT o_orderpriority AS priority, COUNT(*) AS n_orders,
  quantile_cont(CAST(o_totalprice AS DOUBLE), 0.25) AS q25,
  quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5) AS q50,
  quantile_cont(CAST(o_totalprice AS DOUBLE), 0.75) AS q75
FROM orders GROUP BY 1
"""

ORACLES["sales_rollup"] = """
SELECT r_name, n_name, COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""

ORACLES["events_funnel"] = """
WITH ev AS (
  SELECT user_id, event_type, date_trunc('second', ts) AS ts2 FROM events
), agg AS (
  SELECT user_id,
    MIN(ts2) FILTER (WHERE event_type = 'signup') AS t_signup,
    MIN(ts2) FILTER (WHERE event_type = 'view') AS t_view,
    MIN(ts2) FILTER (WHERE event_type = 'purchase') AS t_purchase
  FROM ev GROUP BY user_id
)
SELECT user_id,
  t_signup IS NOT NULL AS did_signup,
  t_view > t_signup AS viewed_after_signup,
  (t_purchase > t_view AND t_view > t_signup) AS full_funnel
FROM agg
"""

ORACLES["customer_spend_deciles"] = """
WITH spend AS (
  SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
  FROM orders GROUP BY o_custkey
), tiled AS (
  SELECT o_custkey, spend,
         CAST(NTILE(10) OVER (ORDER BY spend DESC, o_custkey ASC) AS BIGINT) AS decile
  FROM spend
)
SELECT decile, COUNT(*) AS n_customers,
  CAST(SUM(CAST(spend AS DECIMAL(18,2))) AS DOUBLE) AS decile_spend
FROM tiled GROUP BY decile
"""

# DSIR importance selection: hashed unigram+bigram models p (en target)
# and q (non-en pool), integer ilog2 log-ratio, exact-bp scores, top 50.
ORACLES["doc_dsir_select"] = f"""
WITH toks AS (
  SELECT doc_id, lang, source, {_DTOKS} AS t FROM documents
),
grams AS (
  SELECT doc_id, lang, UNNEST(t) AS g FROM toks
  UNION ALL
  SELECT doc_id, lang,
         UNNEST(CASE WHEN len(t) < 2 THEN CAST([] AS VARCHAR[])
                ELSE list_transform(range(1, len(t)),
                       i -> array_to_string(list_slice(t, i, i + 1), ' ')) END) AS g
  FROM toks
),
bkts AS (
  SELECT doc_id, lang,
         CAST('0x' || substr(md5('dsir' || g), 1, 8) AS BIGINT) % 256 AS bucket
  FROM grams
),
p AS (SELECT bucket, COUNT(*) AS cp FROM bkts WHERE lang = 'en' GROUP BY 1),
q AS (SELECT bucket, COUNT(*) AS cq FROM bkts WHERE lang <> 'en' GROUP BY 1),
ratio AS (
  SELECT bucket,
         (length(bin(COALESCE(cp, 0) + 1)) - 1)
         - (length(bin(COALESCE(cq, 0) + 1)) - 1) AS r
  FROM p FULL OUTER JOIN q USING (bucket)
),
s AS (
  SELECT b.doc_id, COUNT(*) AS n_grams, SUM(r.r) AS sum_ratio
  FROM bkts b JOIN ratio r USING (bucket) WHERE b.lang <> 'en' GROUP BY 1
),
scored AS (
  SELECT d.doc_id, d.lang, d.source,
    CAST(COALESCE(s.n_grams, 0) AS BIGINT) AS n_grams,
    CAST(COALESCE(s.sum_ratio, 0) AS BIGINT) AS sum_ratio,
    CAST(CASE WHEN s.n_grams > 0
         THEN FLOOR(10000 * s.sum_ratio / s.n_grams) ELSE 0 END AS BIGINT)
      AS dsir_score_bp
  FROM documents d LEFT JOIN s USING (doc_id)
  WHERE d.lang <> 'en'
)
SELECT doc_id, lang, source, n_grams, sum_ratio, dsir_score_bp
FROM scored ORDER BY dsir_score_bp DESC, doc_id LIMIT 50
"""

# ExactSubstr rewrite: duplicated 8-gram occurrences (count >= 2)
# except the canonical min(doc_id*2^32+pos) mark spans for removal;
# docs rebuild from surviving positions. Grouping by the gram STRING
# yields the same duplicate structure as the engine's collision-free
# 64-bit hash.
ORACLES["doc_exact_substr_rewrite"] = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
g AS (
  SELECT doc_id, UNNEST(range(1, len(toks) - 6)) AS pos, toks
  FROM w WHERE len(toks) >= 8
),
grams AS (
  SELECT doc_id, pos,
         array_to_string(list_slice(toks, pos, pos + 7), ' ') AS gram
  FROM g
),
dups AS (
  SELECT gram, MIN(doc_id * 4294967296 + pos) AS canon
  FROM grams GROUP BY gram HAVING COUNT(*) >= 2
),
removed AS (
  SELECT gr.doc_id, gr.pos + o.i AS rm
  FROM grams gr JOIN dups d USING (gram)
  CROSS JOIN (SELECT unnest(range(0, 8)) AS i) o
  WHERE gr.doc_id * 4294967296 + gr.pos <> d.canon
),
tokens AS (
  SELECT doc_id, UNNEST(range(1, len(toks) + 1)) AS wpos, toks
  FROM w
),
kept AS (
  SELECT t.doc_id, t.wpos, t.toks[t.wpos] AS tok
  FROM tokens t LEFT JOIN (SELECT DISTINCT doc_id, rm FROM removed) r
    ON t.doc_id = r.doc_id AND t.wpos = r.rm
  WHERE r.doc_id IS NULL
),
rebuilt AS (
  SELECT doc_id, COUNT(*) AS kept_words,
         string_agg(tok, ' ' ORDER BY wpos) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
  CAST(len(w.toks) AS BIGINT) AS n_words,
  CAST(COALESCE(r.kept_words, 0) AS BIGINT) AS kept_words,
  COALESCE(r.clean_text, '') AS clean_text
FROM documents d
JOIN w USING (doc_id)
LEFT JOIN rebuilt r USING (doc_id)
"""

# Round-7c composition capstone: span-dedup rewrite -> PII redaction
# -> DSIR selection, one chained twin (each stage's CTE block mirrors
# its standalone oracle).
ORACLES["doc_clean_select_e2e"] = r"""
WITH aug AS (
  SELECT doc_id, lang, source, text
    || (CASE WHEN doc_id % 7 = 0
             THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com now'
             ELSE '' END)
    || (CASE WHEN doc_id % 5 = 0
             THEN ' see https://docs.example.com/page/' || CAST(doc_id AS VARCHAR)
             ELSE '' END)
    || (CASE WHEN doc_id % 11 = 0 THEN ' call 010-1234-5678' ELSE '' END) AS body
  FROM documents
),
w AS (
  SELECT doc_id, string_split(body, ' ') AS toks FROM aug
),
g AS (
  SELECT doc_id, UNNEST(range(1, len(toks) - 6)) AS pos, toks
  FROM w WHERE len(toks) >= 8
),
grams AS (
  SELECT doc_id, pos,
         array_to_string(list_slice(toks, pos, pos + 7), ' ') AS gram
  FROM g
),
dups AS (
  SELECT gram, MIN(doc_id * 4294967296 + pos) AS canon
  FROM grams GROUP BY gram HAVING COUNT(*) >= 2
),
removed AS (
  SELECT gr.doc_id, gr.pos + o.i AS rm
  FROM grams gr JOIN dups d USING (gram)
  CROSS JOIN (SELECT unnest(range(0, 8)) AS i) o
  WHERE gr.doc_id * 4294967296 + gr.pos <> d.canon
),
tokens AS (
  SELECT doc_id, UNNEST(range(1, len(toks) + 1)) AS wpos, toks FROM w
),
kept AS (
  SELECT t.doc_id, t.wpos, t.toks[t.wpos] AS tok
  FROM tokens t LEFT JOIN (SELECT DISTINCT doc_id, rm FROM removed) r
    ON t.doc_id = r.doc_id AND t.wpos = r.rm
  WHERE r.doc_id IS NULL
),
rebuilt AS (
  SELECT doc_id, COUNT(*) AS kept_words,
         string_agg(tok, ' ' ORDER BY wpos) AS clean_text
  FROM kept GROUP BY doc_id
),
safe AS (
  SELECT a.doc_id, a.lang, a.source,
    CAST(r.kept_words AS BIGINT) AS kept_words,
    regexp_replace(
      regexp_replace(
        regexp_replace(r.clean_text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        'https?://[^\s]+', '<URL>', 'g'),
      '[0-9]{2,3}[-.][0-9]{3,4}[-.][0-9]{4}', '<PHONE>', 'g') AS safe_text
  FROM aug a JOIN rebuilt r USING (doc_id)
  WHERE r.kept_words > 0
),
toks2 AS (
  SELECT doc_id, lang,
    list_filter(string_split_regex(lower(safe_text), '[^\p{L}\p{N}]+'),
                x -> x <> '') AS t
  FROM safe
),
grams2 AS (
  SELECT doc_id, lang, UNNEST(t) AS gm FROM toks2
  UNION ALL
  SELECT doc_id, lang,
         UNNEST(CASE WHEN len(t) < 2 THEN CAST([] AS VARCHAR[])
                ELSE list_transform(range(1, len(t)),
                       i -> array_to_string(list_slice(t, i, i + 1), ' ')) END) AS gm
  FROM toks2
),
bkts AS (
  SELECT doc_id, lang,
         CAST('0x' || substr(md5('dsir' || gm), 1, 8) AS BIGINT) % 256 AS bucket
  FROM grams2
),
p AS (SELECT bucket, COUNT(*) AS cp FROM bkts WHERE lang = 'en' GROUP BY 1),
q AS (SELECT bucket, COUNT(*) AS cq FROM bkts WHERE lang <> 'en' GROUP BY 1),
ratio AS (
  SELECT bucket,
         (length(bin(COALESCE(cp, 0) + 1)) - 1)
         - (length(bin(COALESCE(cq, 0) + 1)) - 1) AS r
  FROM p FULL OUTER JOIN q USING (bucket)
),
s AS (
  SELECT b.doc_id, COUNT(*) AS n_grams, SUM(r.r) AS sum_ratio
  FROM bkts b JOIN ratio r USING (bucket) WHERE b.lang <> 'en' GROUP BY 1
),
scored AS (
  SELECT f.doc_id, f.lang, f.source, f.kept_words,
    CAST(COALESCE(s.n_grams, 0) AS BIGINT) AS n_grams,
    CAST(CASE WHEN s.n_grams > 0
         THEN FLOOR(10000 * s.sum_ratio / s.n_grams) ELSE 0 END AS BIGINT)
      AS dsir_score_bp
  FROM safe f LEFT JOIN s USING (doc_id)
  WHERE f.lang <> 'en'
)
SELECT doc_id, lang, source, kept_words, n_grams, dsir_score_bp
FROM scored ORDER BY dsir_score_bp DESC, doc_id LIMIT 40
"""

ORACLES["doc_hash_splits"] = """
WITH b AS (
  SELECT doc_id,
    CAST('0x' || substr(md5('' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000 AS bkt
  FROM documents
), s AS (
  SELECT doc_id, CASE WHEN bkt < 9000 THEN 'train'
                      WHEN bkt < 9500 THEN 'val'
                      ELSE 'test' END AS split
  FROM b
)
SELECT split, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM s GROUP BY split
"""

ORACLES["doc_top_bigrams"] = f"""
WITH toks AS (
  SELECT doc_id, {_DTOKS} AS t FROM documents
), sh AS (
  SELECT doc_id, CASE WHEN len(t) < 2 THEN CAST([] AS VARCHAR[])
         ELSE list_transform(range(1, len(t)), i -> array_to_string(list_slice(t, i, i + 1), ' ')) END AS shingles
  FROM toks
), grams AS (
  SELECT UNNEST(shingles) AS bigram FROM sh
), counts AS (
  SELECT bigram, COUNT(*) AS n FROM grams GROUP BY bigram
)
SELECT bigram, n FROM counts ORDER BY n DESC, bigram ASC LIMIT 50
"""

ORACLES["events_cohort_retention"] = """
WITH ev AS (
  SELECT user_id, event_type, CAST(ts AS DATE) AS d FROM events
), cohorts AS (
  SELECT user_id, CAST(date_trunc('week', MIN(d)) AS DATE) AS cohort_week
  FROM ev WHERE event_type = 'signup' GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', d) AS DATE) AS act_week FROM ev
)
SELECT cohort_week, CAST(datediff('day', cohort_week, act_week) / 7 AS INTEGER) AS week_offset,
       COUNT(DISTINCT a.user_id) AS n_active
FROM activity a JOIN cohorts c ON a.user_id = c.user_id
WHERE act_week >= cohort_week
GROUP BY 1, 2
"""

ORACLES["stock_report"] = """
WITH lots AS (
  SELECT l_partkey AS product_id,
         CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE) AS lot_month,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS stock_qty_d
  FROM lineitem
  WHERE CAST(l_shipdate AS DATE) > DATE '2001-06-01' - 120
    AND CAST(l_shipdate AS DATE) <= DATE '2001-06-01'
  GROUP BY 1, 2
), sold AS (
  SELECT l_partkey AS product_id,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sold_raw
  FROM lineitem
  WHERE CAST(l_shipdate AS DATE) >= DATE '2001-06-01' - 30
    AND CAST(l_shipdate AS DATE) < DATE '2001-06-01'
  GROUP BY 1
), dims AS (
  SELECT p_partkey AS product_id, p_brand AS brand,
         CASE WHEN p_name LIKE 'small%' THEN 0 ELSE 1 END AS priority,
         p_type, p_retailprice AS org_price
  FROM part
), base AS (
  SELECT lots.product_id, lots.lot_month, lots.stock_qty_d,
         d.brand, d.priority, d.org_price,
         CASE WHEN d.p_type = 'PROMO' THEN NULL
              ELSE CAST(lots.lot_month + INTERVAL 6 MONTH AS DATE) END AS expiration_date,
         COALESCE(s.sold_raw, 0.0) AS sold_qty_30d
  FROM lots
  JOIN dims d USING (product_id)
  LEFT JOIN sold s USING (product_id)
), enriched AS (
  SELECT *,
         CAST(SUM(stock_qty_d) OVER (
           PARTITION BY product_id
           ORDER BY priority DESC, expiration_date ASC NULLS LAST, lot_month ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS DOUBLE) AS cum_stock_qty,
         CAST(stock_qty_d AS DOUBLE) AS stock_qty,
         COALESCE(NULLIF(sold_qty_30d, 0.0) / 30.0, 0.0) AS avg_sold_qty_30d,
         CAST(COALESCE(FLOOR(
           CAST(SUM(stock_qty_d) OVER (
             PARTITION BY product_id
             ORDER BY priority DESC, expiration_date ASC NULLS LAST, lot_month ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) / (NULLIF(sold_qty_30d, 0.0) / 30.0)
         ), 0) AS INTEGER) AS remain_days
  FROM base
), dates AS (
  SELECT product_id, string_agg(ed, chr(10) ORDER BY ed) AS expiration_dates
  FROM (
    SELECT DISTINCT product_id, strftime(expiration_date, '%Y-%m-%d') AS ed
    FROM base WHERE expiration_date IS NOT NULL
  ) GROUP BY product_id
), classified AS (
  SELECT e.*, DATE '2001-06-01' + e.remain_days AS expected_date,
         dt.expiration_dates,
         e.org_price * CAST(e.stock_qty_d AS DOUBLE) AS stock_cost
  FROM enriched e LEFT JOIN dates dt USING (product_id)
), final AS (
  SELECT *,
         CASE
           WHEN priority = 0 THEN 'excluded'
           WHEN expiration_date IS NULL THEN 'no-expiry'
           WHEN DATE '2001-06-01' > expiration_date THEN 'expired'
           WHEN sold_qty_30d = 0.0 THEN 'no-sales'
           WHEN expected_date > expiration_date THEN 'sellout-after-expiry'
           WHEN CAST(expected_date + INTERVAL 6 MONTH AS DATE) > expiration_date THEN 'slow'
           ELSE 'ok'
         END AS performance,
         ROW_NUMBER() OVER (
           ORDER BY brand ASC, priority DESC, expiration_date ASC NULLS LAST,
                    product_id ASC, lot_month ASC
         ) AS lot_seq
  FROM classified
)
SELECT lot_seq, MIN(lot_seq) OVER (PARTITION BY product_id) AS option_seq,
       brand, product_id, lot_month, expiration_date, expiration_dates,
       stock_qty, cum_stock_qty, sold_qty_30d, avg_sold_qty_30d,
       remain_days, expected_date, performance, stock_cost, priority
FROM final
"""

# --- searchad dataset module ---------------------------------------------
ORACLES["searchad_report_merge"] = """
WITH base AS (
  SELECT 'ad-' || CAST(user_id % 50 AS VARCHAR) AS ad_id,
    user_id % 5 AS customer_id,
    COALESCE(NULLIF(event_id % 4, 3), 0) AS media_code,
    CASE WHEN event_id % 3 = 0 THEN 0 WHEN event_id % 3 = 1 THEN 1 ELSE 2 END AS pc_mobile_type,
    CAST(ts AS DATE) AS ymd,
    event_type, event_id, value
  FROM events
), stat AS (
  SELECT ymd, customer_id, ad_id, media_code, pc_mobile_type,
    SUM(CAST(FLOOR(value) AS BIGINT)) AS impression_count,
    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS click_count,
    SUM(CAST(FLOOR(value * 7) AS BIGINT)) AS ad_cost,
    SUM(event_id % 10) AS ad_rank_sum
  FROM base WHERE event_type IN ('view', 'click')
  GROUP BY 1, 2, 3, 4, 5
), conv AS (
  SELECT ymd, customer_id, ad_id, media_code, pc_mobile_type,
    SUM(1) AS conv_count,
    SUM(CASE WHEN 1 + event_id % 2 = 1 THEN 1 ELSE 0 END) AS direct_conv_count,
    SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS conv_amount,
    SUM(CASE WHEN 1 + event_id % 2 = 1 THEN CAST(FLOOR(value * 100) AS BIGINT) ELSE 0 END) AS direct_conv_amount
  FROM base WHERE event_type = 'purchase'
  GROUP BY 1, 2, 3, 4, 5
)
SELECT COALESCE(stat.ad_id, conv.ad_id) AS ad_id,
  COALESCE(stat.customer_id, conv.customer_id) AS customer_id,
  COALESCE(stat.media_code, conv.media_code) AS media_code,
  COALESCE(stat.pc_mobile_type, conv.pc_mobile_type) AS pc_mobile_type,
  CAST(COALESCE(impression_count, 0) AS BIGINT) AS impression_count,
  CAST(COALESCE(click_count, 0) AS BIGINT) AS click_count,
  CAST(COALESCE(ad_cost, 0) AS BIGINT) AS ad_cost,
  CAST(COALESCE(ad_rank_sum, 0) AS BIGINT) AS ad_rank_sum,
  CAST(COALESCE(conv_count, 0) AS BIGINT) AS conv_count,
  CAST(COALESCE(direct_conv_count, 0) AS BIGINT) AS direct_conv_count,
  CAST(COALESCE(conv_amount, 0) AS BIGINT) AS conv_amount,
  CAST(COALESCE(direct_conv_amount, 0) AS BIGINT) AS direct_conv_amount,
  COALESCE(stat.ymd, conv.ymd) AS ymd
FROM (SELECT * FROM stat WHERE customer_id = 2) stat
FULL OUTER JOIN (SELECT * FROM conv WHERE customer_id = 2) conv
  ON stat.ymd = conv.ymd AND stat.customer_id = conv.customer_id
 AND stat.ad_id = conv.ad_id AND stat.media_code = conv.media_code
 AND stat.pc_mobile_type = conv.pc_mobile_type
"""

_SA_URL_PAT = r"^https://(brand|smartstore)\.naver\.com/[^/]+/products/(\d+)"


def _sa_product_id(url: str) -> str:
    return (
        f"TRY_CAST(CASE WHEN regexp_matches({url}, '{_SA_URL_PAT}') "
        f"THEN regexp_extract({url}, '(\\d+)$') END AS BIGINT)"
    )


ORACLES["searchad_master_ads"] = f"""
WITH link AS (
  SELECT 'ad-' || CAST(p_partkey AS VARCHAR) AS ad_id,
    'g' || CAST(p_partkey % 10 AS VARCHAR) AS adgroup_id,
    p_partkey % 5 AS customer_id,
    p_partkey % 2 AS on_off,
    CASE WHEN p_partkey % 7 = 0 THEN TIMESTAMP '2024-01-01 00:00:00' END AS del_tm,
    p_name AS subject,
    CASE WHEN p_partkey % 3 = 0
           THEN 'https://smartstore.naver.com/' || p_brand || '/products/' || CAST(p_partkey AS VARCHAR)
         WHEN p_partkey % 3 = 2
           THEN 'https://example.com/items/' || CAST(p_partkey AS VARCHAR) END AS landing_url_pc,
    CASE WHEN p_partkey % 3 = 1
           THEN 'https://brand.naver.com/m/products/' || CAST(p_partkey AS VARCHAR) END AS landing_url_mobile
  FROM part WHERE p_partkey % 4 = 0
), shop AS (
  SELECT 'ad-' || CAST(p_partkey AS VARCHAR) AS ad_id,
    'g' || CAST(p_partkey % 10 AS VARCHAR) AS adgroup_id,
    p_partkey % 5 AS customer_id,
    p_partkey % 2 AS on_off,
    CASE WHEN p_partkey % 7 = 0 THEN TIMESTAMP '2024-01-01 00:00:00' END AS del_tm,
    CASE WHEN p_size < 15 THEN '' ELSE p_name END AS ad_product_name,
    p_type AS product_name,
    CAST(p_partkey * 100 AS VARCHAR) AS product_id_of_mall,
    'https://shopping.example.com/' || CAST(p_partkey AS VARCHAR) AS landing_url_pc,
    p_size * 10 AS bid,
    CAST(FLOOR(p_retailprice) AS INTEGER) AS price,
    CAST(p_size AS VARCHAR) AS category_id1,
    CASE WHEN p_size % 2 = 0 THEN CAST(p_size * 10 AS VARCHAR) END AS category_id2,
    CASE WHEN p_size % 3 = 0 THEN 'x' || CAST(p_size AS VARCHAR) END AS category_id3,
    CASE WHEN p_size % 5 = 0 THEN CAST(p_size * 1000 AS VARCHAR) END AS category_id4
  FROM part WHERE p_partkey % 4 = 1
), brandish AS (
  SELECT p_partkey, 'g' || CAST(p_partkey % 10 AS VARCHAR) AS adgroup_id,
    p_partkey % 5 AS customer_id,
    p_partkey % 2 AS on_off,
    CASE WHEN p_partkey % 7 = 0 THEN TIMESTAMP '2024-01-01 00:00:00' END AS del_tm,
    p_name AS title,
    CASE WHEN p_partkey % 2 = 0
           THEN 'https://brand.naver.com/' || p_brand || '/products/' || CAST(p_partkey AS VARCHAR)
         ELSE 'https://shop.example.com/' || CAST(p_partkey AS VARCHAR) END AS link_url
  FROM part
), staged AS (
  SELECT ad_id, adgroup_id, 1 AS ad_type, customer_id, subject AS title,
    landing_url_pc,
    {_sa_product_id("COALESCE(landing_url_pc, landing_url_mobile)")} AS product_id,
    CAST(NULL AS INTEGER) AS category_id,
    (on_off = 0) AS is_enabled, (del_tm IS NOT NULL) AS is_deleted,
    CAST(NULL AS INTEGER) AS bid_amount, CAST(NULL AS INTEGER) AS sales_price,
    0 AS stage
  FROM link
  UNION ALL
  SELECT ad_id, adgroup_id, 2 AS ad_type, customer_id,
    COALESCE(NULLIF(ad_product_name, ''), product_name) AS title,
    landing_url_pc,
    TRY_CAST(product_id_of_mall AS BIGINT) AS product_id,
    COALESCE(TRY_CAST(category_id4 AS INTEGER), TRY_CAST(category_id3 AS INTEGER),
             TRY_CAST(category_id2 AS INTEGER), TRY_CAST(category_id1 AS INTEGER)) AS category_id,
    (on_off = 0) AS is_enabled, (del_tm IS NOT NULL) AS is_deleted,
    bid AS bid_amount, price AS sales_price,
    1 AS stage
  FROM shop
  UNION ALL
  SELECT CASE WHEN p_partkey % 8 = 2 THEN 'ad-' || CAST(p_partkey - 10 AS VARCHAR)
              ELSE 'ad-' || CAST(p_partkey AS VARCHAR) END AS ad_id,
    adgroup_id, 9 AS ad_type, customer_id, title, link_url AS landing_url_pc,
    {_sa_product_id("link_url")} AS product_id,
    CAST(NULL AS INTEGER) AS category_id,
    (on_off = 0) AS is_enabled, (del_tm IS NOT NULL) AS is_deleted,
    CAST(NULL AS INTEGER) AS bid_amount, CAST(NULL AS INTEGER) AS sales_price,
    2 AS stage
  FROM brandish WHERE p_partkey % 8 IN (2, 6)
  UNION ALL
  SELECT 'ad-' || CAST(p_partkey AS VARCHAR) AS ad_id,
    adgroup_id, 12 AS ad_type, customer_id, title, link_url AS landing_url_pc,
    {_sa_product_id("link_url")} AS product_id,
    CAST(NULL AS INTEGER) AS category_id,
    (on_off = 0) AS is_enabled, (del_tm IS NOT NULL) AS is_deleted,
    CAST(NULL AS INTEGER) AS bid_amount, CAST(NULL AS INTEGER) AS sales_price,
    3 AS stage
  FROM brandish WHERE p_partkey % 8 = 3
  UNION ALL
  SELECT 'ad-' || CAST(p_partkey AS VARCHAR) AS ad_id,
    adgroup_id, 13 AS ad_type, customer_id, title, link_url AS landing_url_pc,
    {_sa_product_id("link_url")} AS product_id,
    CAST(NULL AS INTEGER) AS category_id,
    (on_off = 0) AS is_enabled, (del_tm IS NOT NULL) AS is_deleted,
    CAST(NULL AS INTEGER) AS bid_amount, CAST(NULL AS INTEGER) AS sales_price,
    4 AS stage
  FROM brandish WHERE p_partkey % 8 = 7
), scoped AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY ad_id ORDER BY stage ASC) AS rn
  FROM staged WHERE customer_id = 2
)
SELECT ad_id, adgroup_id, ad_type, customer_id, title, landing_url_pc,
       product_id, category_id, is_enabled, is_deleted, bid_amount, sales_price
FROM scoped WHERE rn = 1
"""

# --- naversearch dataset module ------------------------------------------
ORACLES["naver_shop_rank"] = """
WITH raw AS (
  SELECT p_partkey AS seq,
    CAST(p_partkey AS VARCHAR) AS productId,
    CASE WHEN p_partkey % 3 = 0
           THEN 'https://shopping.example.com/catalog/' || CAST(p_partkey AS VARCHAR)
         WHEN p_partkey % 3 = 1
           THEN 'https://smartstore.example.com/shop/products/' || CAST(p_partkey AS VARCHAR)
         ELSE 'https://mall.example.com/item?id=' || CAST(p_partkey AS VARCHAR) END AS link,
    CASE WHEN p_partkey % 10 = 7 THEN 'x' ELSE CAST(p_partkey % 4 AS VARCHAR) END AS productType
  FROM part
)
SELECT 'widget' AS keyword,
  CAST(ROW_NUMBER() OVER (ORDER BY seq ASC) + 101 - 1 AS INTEGER) AS display_rank,
  CAST(productId AS BIGINT) AS nv_mid,
  TRY_CAST(regexp_extract(link, '/products/(\\d+)$', 1) AS BIGINT) AS product_id,
  (TRY_CAST(productType AS INTEGER) + 2) % 3 AS product_type
FROM raw
"""

_NV_PROD = """
  SELECT CAST(productId AS BIGINT) AS nv_mid,
    TRY_CAST(regexp_extract(link, '/products/(\\d+)$', 1) AS BIGINT) AS product_id,
    CASE WHEN link LIKE '%/catalog/%' THEN 0 ELSE 1 END AS product_type,
    regexp_replace(title, '<[^>]+>', '', 'g') AS product_name,
    CAST(NULL AS INTEGER) AS category_id,
    CONCAT_WS('>', category1, category2, category3, category4) AS full_category_name,
    NULLIF(mallName, '네이버') AS mall_name,
    NULLIF(brand, '') AS brand_name,
    TRY_CAST(lprice AS INTEGER) AS sales_price
"""

ORACLES["naver_product_upsert"] = f"""
WITH raw1 AS (
  SELECT CAST(p_partkey AS VARCHAR) AS productId,
    CASE WHEN p_partkey % 4 = 0
           THEN 'https://shopping.example.com/catalog/' || CAST(p_partkey AS VARCHAR)
         ELSE 'https://smartstore.example.com/shop/products/' || CAST(p_partkey AS VARCHAR) END AS link,
    '<b>' || p_name || '</b>' AS title,
    p_type AS category1,
    CASE WHEN p_partkey % 3 = 0 THEN 'c2-' || CAST(p_partkey % 5 AS VARCHAR) END AS category2,
    CAST(NULL AS VARCHAR) AS category3,
    CAST(NULL AS VARCHAR) AS category4,
    'mall-' || CAST(p_partkey % 7 AS VARCHAR) AS mallName,
    CASE WHEN p_partkey % 5 = 0 THEN '' ELSE 'brand-' || CAST(p_partkey % 5 AS VARCHAR) END AS brand,
    CAST(p_size * 100 AS VARCHAR) AS lprice
  FROM part WHERE p_partkey % 2 = 0
), raw2 AS (
  SELECT CAST(p_partkey AS VARCHAR) AS productId,
    'https://smartstore.example.com/shop2/products/' || CAST(p_partkey AS VARCHAR) AS link,
    p_name || ' v2' AS title,
    'fresh1' AS category1, 'fresh2' AS category2,
    CAST(NULL AS VARCHAR) AS category3, CAST(NULL AS VARCHAR) AS category4,
    CASE WHEN p_partkey % 2 = 0 THEN '네이버' ELSE 'mall2-' || CAST(p_partkey % 3 AS VARCHAR) END AS mallName,
    CASE WHEN p_partkey % 2 = 0 THEN '' ELSE 'b2' END AS brand,
    CAST(p_size * 110 AS VARCHAR) AS lprice
  FROM part WHERE p_partkey % 3 = 0
), b1 AS ({_NV_PROD} FROM raw1), b2 AS ({_NV_PROD} FROM raw2)
SELECT COALESCE(b2.nv_mid, b1.nv_mid) AS nv_mid,
  COALESCE(b2.product_id, b1.product_id) AS product_id,
  CASE WHEN b1.nv_mid IS NOT NULL THEN b1.product_type ELSE b2.product_type END AS product_type,
  COALESCE(b2.product_name, b1.product_name) AS product_name,
  CAST(NULL AS INTEGER) AS category_id,
  COALESCE(b2.full_category_name, b1.full_category_name) AS full_category_name,
  COALESCE(b2.mall_name, b1.mall_name) AS mall_name,
  COALESCE(b2.brand_name, b1.brand_name) AS brand_name,
  CASE WHEN b1.nv_mid IS NOT NULL THEN b1.sales_price ELSE b2.sales_price END AS sales_price,
  CASE WHEN b2.nv_mid IS NOT NULL THEN '2024-02-01 00:00:00' ELSE '2024-01-01 00:00:00' END AS updated_at
FROM b1 FULL OUTER JOIN b2 ON b1.nv_mid = b2.nv_mid
"""

ORACLES["naver_book_parse"] = """
WITH raw AS (
  SELECT p_partkey AS seq, p_name AS title,
    'https://books.example.com/v/' || CAST(p_partkey AS VARCHAR) AS link,
    CASE WHEN p_partkey % 6 = 0 THEN '' ELSE p_type END AS description,
    'https://img.example.com/' || CAST(p_partkey AS VARCHAR) AS image,
    CASE WHEN p_partkey % 4 = 0 THEN ''
         ELSE 'author-' || CAST(p_partkey % 13 AS VARCHAR) END AS author,
    CASE WHEN p_partkey % 9 = 0 THEN 'N/A' ELSE CAST(p_size * 100 AS VARCHAR) END AS discount,
    p_brand AS publisher,
    CASE WHEN p_partkey % 5 = 0 THEN 'isbn' || CAST(p_partkey AS VARCHAR)
         ELSE CAST(9780000000000 + p_partkey AS VARCHAR) END AS isbn,
    CASE WHEN p_partkey % 11 = 0 THEN ''
         ELSE CAST(1990 + p_partkey % 30 AS VARCHAR)
              || lpad(CAST(1 + p_partkey % 12 AS VARCHAR), 2, '0')
              || lpad(CAST(1 + p_partkey % 28 AS VARCHAR), 2, '0') END AS pubdate
  FROM part
)
SELECT 'novel' AS keyword,
  CAST(ROW_NUMBER() OVER (ORDER BY seq ASC) + 11 - 1 AS INTEGER) AS display_rank,
  title, link AS url,
  NULLIF(description, '') AS description,
  image AS image_url,
  NULLIF(author, '') AS author,
  TRY_CAST(discount AS INTEGER) AS sales_price,
  publisher,
  TRY_CAST(isbn AS BIGINT) AS isbn,
  TRY_CAST(TRY_STRPTIME(pubdate, '%Y%m%d') AS DATE) AS publish_date
FROM raw
"""

_SA_REPORT_FULL = """
base AS (
  SELECT 'ad-' || CAST(user_id % 50 AS VARCHAR) AS ad_id,
    user_id % 5 AS customer_id,
    COALESCE(NULLIF(event_id % 4, 3), 0) AS media_code,
    CASE WHEN event_id % 3 = 0 THEN 0 WHEN event_id % 3 = 1 THEN 1 ELSE 2 END AS pc_mobile_type,
    CAST(ts AS DATE) AS ymd,
    event_type, event_id, value
  FROM events
), stat AS (
  SELECT ymd, customer_id, ad_id, media_code, pc_mobile_type,
    SUM(CAST(FLOOR(value) AS BIGINT)) AS impression_count,
    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS click_count,
    SUM(CAST(FLOOR(value * 7) AS BIGINT)) AS ad_cost,
    SUM(event_id % 10) AS ad_rank_sum
  FROM base WHERE event_type IN ('view', 'click')
  GROUP BY 1, 2, 3, 4, 5
), conv AS (
  SELECT ymd, customer_id, ad_id, media_code, pc_mobile_type,
    SUM(1) AS conv_count,
    SUM(CASE WHEN 1 + event_id % 2 = 1 THEN 1 ELSE 0 END) AS direct_conv_count,
    SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS conv_amount,
    SUM(CASE WHEN 1 + event_id % 2 = 1 THEN CAST(FLOOR(value * 100) AS BIGINT) ELSE 0 END) AS direct_conv_amount
  FROM base WHERE event_type = 'purchase'
  GROUP BY 1, 2, 3, 4, 5
), report AS (
  SELECT COALESCE(stat.ad_id, conv.ad_id) AS ad_id,
    COALESCE(stat.customer_id, conv.customer_id) AS customer_id,
    COALESCE(stat.media_code, conv.media_code) AS media_code,
    COALESCE(stat.pc_mobile_type, conv.pc_mobile_type) AS pc_mobile_type,
    COALESCE(impression_count, 0) AS impression_count,
    COALESCE(click_count, 0) AS click_count,
    COALESCE(ad_cost, 0) AS ad_cost,
    COALESCE(ad_rank_sum, 0) AS ad_rank_sum,
    COALESCE(conv_count, 0) AS conv_count,
    COALESCE(direct_conv_count, 0) AS direct_conv_count,
    COALESCE(conv_amount, 0) AS conv_amount,
    COALESCE(direct_conv_amount, 0) AS direct_conv_amount,
    COALESCE(stat.ymd, conv.ymd) AS ymd
  FROM stat FULL OUTER JOIN conv
    ON stat.ymd = conv.ymd AND stat.customer_id = conv.customer_id
   AND stat.ad_id = conv.ad_id AND stat.media_code = conv.media_code
   AND stat.pc_mobile_type = conv.pc_mobile_type
)
"""

_SA_ALLOC = ",\n  ".join(
    f"CAST(({m} // bundle_product_count)"
    f" + CASE WHEN ord1 = 1 THEN {m} % bundle_product_count ELSE 0 END AS BIGINT) AS {m}"
    for m in ["impression_count", "click_count", "ad_cost", "ad_rank_sum",
              "conv_count", "direct_conv_count", "conv_amount", "direct_conv_amount"]
)

ORACLES["searchad_insight_daily"] = f"""
WITH {_SA_REPORT_FULL},
ad_dim AS (
  SELECT 'ad-' || CAST(id AS VARCHAR) AS ad_id,
         'g' || CAST(id % 10 AS VARCHAR) AS adgroup_id,
         100080 + id % 12 AS product_id
  FROM range(0, 50) t(id)
), adgroup_dim AS (
  SELECT 'g' || CAST(id AS VARCHAR) AS adgroup_id,
         'c' || CAST(id % 3 AS VARCHAR) AS campaign_id
  FROM range(0, 10) t(id)
), rel_raw(ad_id, ad_level, bundle_product_ids, platform_name) AS (VALUES
  ('c0', 0, '100088', 'NAVER'),
  ('c1', 0, '100010,100011', 'NAVER'),
  ('c2', 0, '100012,100088', 'OTHER'),
  ('g0', 1, '100020,100021', 'NAVER'),
  ('g3', 1, '100088,100022', 'NAVER'),
  ('g6', 1, '100023', 'NAVER'),
  ('ad-0', 2, '100030,100031', 'NAVER'),
  ('ad-8', 2, '100088', 'NAVER'),
  ('ad-16', 2, '100032,100033,100034', 'NAVER'),
  ('ad-24', 2, '100088,100035', 'NAVER')
), ranged AS (
  SELECT ad_id, ad_level, bundle_product_ids, platform_name,
         DATE '2000-01-01' AS start_date, DATE '2999-12-31' AS end_date
  FROM rel_raw
  WHERE NOT list_contains(string_split(bundle_product_ids, ','), '100088')
  UNION ALL
  SELECT ad_id, ad_level, bundle_product_ids, platform_name,
         DATE '2000-01-01', DATE '2024-01-15'
  FROM rel_raw
  WHERE list_contains(string_split(bundle_product_ids, ','), '100088')
  UNION ALL
  SELECT ad_id, ad_level,
    CASE WHEN bundle_product_ids = '100088' THEN '100081,100082,100083'
         ELSE NULLIF(array_to_string(
                list_filter(string_split(bundle_product_ids, ','), x -> x != '100088'), ','), '')
    END,
    platform_name, DATE '2024-01-16', DATE '2999-12-31'
  FROM rel_raw
  WHERE list_contains(string_split(bundle_product_ids, ','), '100088')
), rel AS (
  SELECT * FROM ranged WHERE platform_name = 'NAVER'
), product_rel(product_id, bundle_product_ids, start_date, end_date) AS (VALUES
  (100081, '100050,100051', DATE '2000-01-01', DATE '2024-01-10'),
  (100081, '100052', DATE '2024-01-11', DATE '2999-12-31'),
  (100085, '200077', DATE '2000-01-01', DATE '2999-12-31'),
  (100090, '100060', DATE '2000-01-01', DATE '2999-12-31')
), account(customer_id, bundle_brand_ids) AS (VALUES
  (0, '200010'), (1, '200011'), (3, '200013')
), renewal(product_id_new, product_id_old, renewal_date) AS (VALUES
  ('100031', '100931', DATE '2024-01-12')
), fact AS (
  SELECT r.*, ad.adgroup_id, ad.product_id, grp.campaign_id,
    cmp.bundle_product_ids AS bundle_cmp,
    g1.bundle_product_ids AS bundle_grp,
    a2.bundle_product_ids AS bundle_ad,
    prd.bundle_product_ids AS bundle_prd,
    brd.bundle_product_ids AS bundle_brd,
    acc.bundle_brand_ids
  FROM report r
  LEFT JOIN ad_dim ad ON r.ad_id = ad.ad_id
  LEFT JOIN adgroup_dim grp ON ad.adgroup_id = grp.adgroup_id
  LEFT JOIN (SELECT * FROM rel WHERE ad_level = 0) cmp
    ON grp.campaign_id = cmp.ad_id AND r.ymd BETWEEN cmp.start_date AND cmp.end_date
  LEFT JOIN (SELECT * FROM rel WHERE ad_level = 1) g1
    ON ad.adgroup_id = g1.ad_id AND r.ymd BETWEEN g1.start_date AND g1.end_date
  LEFT JOIN (SELECT * FROM rel WHERE ad_level = 2) a2
    ON r.ad_id = a2.ad_id AND r.ymd BETWEEN a2.start_date AND a2.end_date
  LEFT JOIN (SELECT * FROM product_rel WHERE NOT starts_with(bundle_product_ids, '2')) prd
    ON ad.product_id = prd.product_id AND r.ymd BETWEEN prd.start_date AND prd.end_date
  LEFT JOIN (SELECT * FROM product_rel WHERE starts_with(bundle_product_ids, '2')) brd
    ON ad.product_id = brd.product_id AND r.ymd BETWEEN brd.start_date AND brd.end_date
  LEFT JOIN account acc ON r.customer_id = acc.customer_id
), grain AS (
  SELECT ymd, campaign_id, ad_id, device_type,
    MIN(bundle) AS bundle_product_ids,
    SUM(impression_count) AS impression_count,
    SUM(click_count) AS click_count,
    SUM(ad_cost2) AS ad_cost,
    SUM(ad_rank_sum) AS ad_rank_sum,
    SUM(conv_count) AS conv_count,
    SUM(direct_conv_count) AS direct_conv_count,
    SUM(conv_amount) AS conv_amount,
    SUM(direct_conv_amount) AS direct_conv_amount
  FROM (
    SELECT *, pc_mobile_type AS device_type,
      COALESCE(bundle_prd, bundle_ad, bundle_grp, bundle_cmp, bundle_brd,
               bundle_brand_ids, '200000') AS bundle,
      CASE WHEN ymd < DATE '2024-01-16'
        THEN CAST(ROUND(CAST(ad_cost AS DECIMAL(18,1)) * CAST(1.1 AS DECIMAL(2,1)), 0) AS BIGINT)
        ELSE ad_cost END AS ad_cost2
    FROM fact
  ) f
  GROUP BY 1, 2, 3, 4
), exploded AS (
  SELECT *,
    len(string_split(bundle_product_ids, ',')) AS bundle_product_count,
    UNNEST(string_split(bundle_product_ids, ',')) AS bundle_product_id,
    UNNEST(range(1, len(string_split(bundle_product_ids, ',')) + 1)) AS ord1
  FROM grain
), remapped AS (
  SELECT e.*, COALESCE(rn.product_id_old, e.bundle_product_id) AS final_product_id
  FROM exploded e
  LEFT JOIN renewal rn
    ON e.bundle_product_id = rn.product_id_new AND e.ymd < rn.renewal_date
)
SELECT campaign_id, ad_id, device_type, final_product_id AS product_id,
  {_SA_ALLOC},
  ymd
FROM remapped
"""

# --- smartstore sales mart -----------------------------------------------
ORACLES["smartstore_max_delivery_fee"] = """
WITH base AS (
  SELECT o_orderkey AS order_id, o_orderkey, UNNEST([0, 1]) AS n FROM orders
), po AS (
  SELECT order_id,
    'i' || CAST((o_orderkey + n) % 2 AS VARCHAR) AS invoice_no,
    CASE WHEN (o_orderkey + n) % 5 = 4 THEN 'dg-missing'
         ELSE 'dg-' || CAST((o_orderkey + n) % 3 AS VARCHAR) END AS delivery_group,
    CASE WHEN (o_orderkey + n) % 6 = 0 THEN 7 ELSE 1 END AS delivery_type,
    CASE WHEN o_orderkey % 5 = 0 AND n = 0 THEN 3000 ELSE 0 END AS delivery_fee,
    CASE WHEN (o_orderkey + n) % 7 = 0 THEN 500 ELSE 0 END AS box_cost,
    (o_orderkey + n) % 12 AS delivery_quantity
  FROM base
), tiers_raw(delivery_group, min_unit, delivery_fee, coolant_cost, label_cost,
             wrap_cost, box_cost, n_arrival_fee, n_arrival_add) AS (VALUES
  ('dg-0', 1, 2500, 100, NULL, 0, 50, 4000, 200),
  ('dg-0', 5, 2000, 100, NULL, 0, 50, 3500, 150),
  ('dg-0', 10, 1500, 100, NULL, 0, 50, 3000, 100),
  ('dg-1', 1, 1800, 0, 30, 0, 0, 2500, 120),
  ('dg-1', 6, 1200, 0, 30, 0, 0, 2000, 80),
  ('dg-2', 2, 900, NULL, NULL, NULL, NULL, 1000, 50)
), tiers AS (
  SELECT delivery_group,
    COALESCE(min_unit, 1) AS min_unit,
    CASE WHEN MAX(min_unit) OVER (PARTITION BY delivery_group) = min_unit THEN 9999
         ELSE LEAD(min_unit) OVER (PARTITION BY delivery_group ORDER BY min_unit ASC)
    END AS max_unit,
    COALESCE(delivery_fee, 0) AS tier_fee,
    COALESCE(coolant_cost, 0) + COALESCE(label_cost, 0)
      + COALESCE(wrap_cost, 0) + COALESCE(box_cost, 0) AS extra_cost,
    COALESCE(n_arrival_fee, 0) AS n_arrival_fee,
    COALESCE(n_arrival_add, 0) AS n_arrival_add
  FROM tiers_raw
), agg AS (
  SELECT order_id, invoice_no, delivery_group,
    MAX(delivery_type) AS delivery_type,
    MAX(delivery_fee) AS delivery_fee,
    SUM(box_cost) AS box_cost,
    COALESCE(SUM(delivery_quantity), 0) AS delivery_quantity
  FROM po GROUP BY 1, 2, 3
), scored AS (
  SELECT a.order_id, a.invoice_no, a.delivery_group,
    (CASE
      WHEN t.delivery_group IS NULL THEN a.delivery_fee
      WHEN a.delivery_fee > 0
        THEN a.delivery_fee + (CASE WHEN a.box_cost > 0 THEN a.box_cost ELSE t.extra_cost END)
      WHEN a.delivery_type = 7
        THEN t.n_arrival_fee + t.n_arrival_add * (a.delivery_quantity - t.min_unit)
      ELSE t.tier_fee + t.extra_cost
    END) AS delivery_fee
  FROM agg a
  LEFT JOIN tiers t
    ON a.delivery_group = t.delivery_group
   AND a.delivery_quantity BETWEEN t.min_unit AND t.max_unit
)
SELECT order_id, invoice_no, delivery_group,
  CAST(delivery_fee AS BIGINT) AS delivery_fee
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY order_id, invoice_no
    ORDER BY ABS(delivery_fee) DESC, delivery_fee DESC, delivery_group ASC
  ) AS rn FROM scored
) WHERE rn = 1
"""

ORACLES["smartstore_split_sales"] = """
WITH base AS (
  SELECT o_orderkey AS product_order_id,
    CAST(o_orderdate AS DATE) AS order_date,
    o_orderkey % 4 + 1 AS order_quantity,
    CAST(FLOOR(o_totalprice) AS BIGINT) AS payment_amount,
    CAST(FLOOR(o_totalprice * 0.9) AS BIGINT) AS supply_amount,
    CASE WHEN o_orderkey % 12 = 2 THEN 'p4:2,p7'
         WHEN o_orderkey % 3 = 0 THEN 'p0:2,p3,p5'
         WHEN o_orderkey % 3 = 1 THEN 'p1:3,p4:x'
         ELSE 'p2' END AS bundle_product_ids
  FROM orders
), ex AS (
  SELECT *, UNNEST(string_split(bundle_product_ids, ',')) AS bundle_product FROM base
), parsed AS (
  SELECT product_order_id, order_date,
    string_split(bundle_product, ':')[1] AS product_id,
    (CASE WHEN regexp_matches(string_split(bundle_product, ':')[2], '^[0-9]+$')
          THEN CAST(string_split(bundle_product, ':')[2] AS INTEGER)
          ELSE 1 END) * order_quantity AS sku_quantity,
    payment_amount, supply_amount
  FROM ex
), prices(product_id, org_price) AS (VALUES
  ('p0', 1000), ('p1', 2000), ('p2', 1500), ('p3', 800), ('p4', 0)
), costed AS (
  SELECT p.*, COALESCE(pr.org_price, 0) * p.sku_quantity AS cost_amount
  FROM parsed p LEFT JOIN prices pr ON p.product_id = pr.product_id
), marked AS (
  SELECT *,
    COUNT(*) OVER (PARTITION BY product_order_id) AS n,
    SUM(cost_amount) OVER (PARTITION BY product_order_id) AS total_cost,
    ROW_NUMBER() OVER (PARTITION BY product_order_id ORDER BY product_id ASC) AS rn
  FROM costed
), splits AS (
  SELECT *,
    COALESCE(CAST(FLOOR(payment_amount * (cost_amount / NULLIF(total_cost, 0)) + 0.5) AS BIGINT), 0) AS pay_split,
    COALESCE(CAST(FLOOR(supply_amount * (cost_amount / NULLIF(total_cost, 0)) + 0.5) AS BIGINT), 0) AS sup_split
  FROM marked
), adjusted AS (
  SELECT *,
    CASE WHEN n > 1 THEN
      (CASE WHEN rn = 1 THEN payment_amount - SUM(pay_split) OVER (PARTITION BY product_order_id) ELSE 0 END) + pay_split
    ELSE payment_amount END AS payment_final,
    CASE WHEN n > 1 THEN
      (CASE WHEN rn = 1 THEN supply_amount - SUM(sup_split) OVER (PARTITION BY product_order_id) ELSE 0 END) + sup_split
    ELSE supply_amount END AS supply_final
  FROM splits
)
SELECT order_date, product_id,
  CAST(SUM(sku_quantity) AS BIGINT) AS sku_quantity,
  CAST(SUM(payment_final) AS BIGINT) AS payment_amount,
  CAST(SUM(supply_final) AS BIGINT) AS supply_amount
FROM adjusted GROUP BY 1, 2
"""

# --- full profit dim stack -------------------------------------------------
_PROFIT_FACT_CTE = """
fact AS (
  SELECT 'p' || CAST(o_orderkey % 40 AS VARCHAR) AS product_id,
    (['shop0055','shop0075','adop0001','adop0002','adop0006','adop0003',
      'adop9000','shop1234'])[CAST((o_orderkey // 8) % 8 + 1 AS INT)] AS shop_id,
    CAST(o_orderkey % 8 AS INT) AS order_status,
    CAST(o_orderkey % 5 AS BIGINT) AS sku_quantity,
    CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,2))) AS BIGINT) AS payment_amount,
    CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,2)) * CAST('0.9' AS DECIMAL(2,1))) AS BIGINT) AS supply_amount,
    CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,2)) * CAST('0.6' AS DECIMAL(2,1))) AS BIGINT) AS supply_cost,
    CAST((o_orderkey % 7) * 100 AS BIGINT) AS delivery_fee,
    CAST((o_orderkey % 11) * 50 AS BIGINT) AS ad_cost,
    CAST((o_orderkey % 13) * 10 AS BIGINT) AS extra_cost,
    CAST(o_orderdate AS DATE) AS order_date
  FROM orders
), gated AS (
  SELECT product_id, shop_id, order_status,
    CAST(CASE WHEN order_status = 0 THEN COALESCE(sku_quantity, 0) ELSE 0 END AS BIGINT) AS sku_quantity,
    CAST(CASE WHEN shop_id = 'adop9000' THEN 0
              WHEN order_status = 0 THEN COALESCE(payment_amount, 0)
              ELSE 0 END AS BIGINT) AS payment_amount,
    CAST(CASE WHEN order_status = 0 THEN COALESCE(supply_amount, 0) ELSE 0 END AS BIGINT) AS supply_amount,
    CAST(CASE WHEN order_status IN (0,2,6) THEN COALESCE(supply_cost, 0) ELSE 0 END AS BIGINT) AS supply_cost,
    CAST(CASE WHEN order_status IN (0,1,2,5,7) THEN COALESCE(delivery_fee, 0) ELSE 0 END AS BIGINT) AS delivery_fee,
    ad_cost, extra_cost, order_date
  FROM fact
), pb AS (
  SELECT product_id, shop_id, order_status, sku_quantity, payment_amount,
    supply_amount, supply_cost, delivery_fee,
    supply_amount - supply_cost - delivery_fee AS margin_amount,
    ad_cost, extra_cost,
    supply_amount - supply_cost - delivery_fee - ad_cost - extra_cost AS profit,
    order_date
  FROM gated
), extra AS (
  SELECT 'p' || CAST(o_orderkey % 40 AS VARCHAR) AS product_id,
    'adop0003' AS shop_id, 0 AS order_status,
    CAST(0 AS BIGINT) AS sku_quantity, CAST(0 AS BIGINT) AS payment_amount,
    CAST(0 AS BIGINT) AS supply_amount, CAST(0 AS BIGINT) AS supply_cost,
    CAST(0 AS BIGINT) AS delivery_fee, CAST(0 AS BIGINT) AS margin_amount,
    CAST(0 AS BIGINT) AS ad_cost, CAST(0 AS BIGINT) AS extra_cost,
    CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,2))) AS BIGINT) // 10 AS profit,
    CAST(o_orderdate AS DATE) AS order_date
  FROM orders WHERE o_orderkey % 97 = 0
)
"""

ORACLES["profit_base_gates"] = f"""
WITH {_PROFIT_FACT_CTE}
SELECT * FROM pb WHERE order_date BETWEEN DATE '1995-06-01' AND DATE '1995-06-30'
UNION ALL
SELECT * FROM extra WHERE order_date BETWEEN DATE '1995-06-01' AND DATE '1995-06-30'
"""

_PROFIT_MEASURE_SUMS = """
    CAST(SUM(sku_quantity) AS BIGINT) AS sku_quantity,
    CAST(SUM(payment_amount) AS BIGINT) AS payment_amount,
    CAST(SUM(supply_amount) AS BIGINT) AS supply_amount,
    CAST(SUM(supply_cost) AS BIGINT) AS supply_cost,
    CAST(SUM(delivery_fee) AS BIGINT) AS delivery_fee,
    CAST(SUM(margin_amount) AS BIGINT) AS margin_amount,
    CAST(SUM(ad_cost) AS BIGINT) AS ad_cost,
    CAST(SUM(extra_cost) AS BIGINT) AS extra_cost,
    CAST(SUM(profit) AS BIGINT) AS profit,
    MIN(order_date) AS order_start_date,
    MAX(order_date) AS order_end_date
"""

ORACLES["profit_mom_dims"] = f"""
WITH {_PROFIT_FACT_CTE},
pb_all AS (
  SELECT * FROM pb UNION ALL SELECT * FROM extra
), ds_range AS (
  SELECT product_id, shop_id, order_status,
    {_PROFIT_MEASURE_SUMS},
    DATE '1995-06-01' AS order_ym
  FROM pb_all
  WHERE order_date BETWEEN DATE '1995-06-01' AND DATE '1995-06-21'
  GROUP BY 1, 2, 3
), lookback AS (
  SELECT product_id, shop_id, order_status,
    {_PROFIT_MEASURE_SUMS},
    CAST(date_trunc('month', order_date) AS DATE) AS order_ym
  FROM pb_all
  WHERE order_date BETWEEN DATE '1995-04-01' AND DATE '1995-05-31'
  GROUP BY 1, 2, 3, CAST(date_trunc('month', order_date) AS DATE)
), factu AS (
  SELECT * FROM ds_range UNION ALL SELECT * FROM lookback
), pm AS (
  SELECT 'p' || CAST(i AS VARCHAR) AS product_id,
    'IT-' || lpad(CAST(i AS VARCHAR), 6, '0') AS item_id,
    CAST(i * 10 AS INT) AS item_seq,
    'team' || CAST(i % 3 AS VARCHAR) AS team_name,
    'brand' || CAST(i % 5 AS VARCHAR) AS brand_name,
    'cat' || CAST(i % 2 AS VARCHAR) AS category_name1,
    'sub' || CAST(i % 3 AS VARCHAR) AS category_name2,
    'leaf' || CAST(i % 4 AS VARCHAR) AS category_name3,
    'g4-' || CAST(i % 5 AS VARCHAR) AS category_name4,
    'color' || CAST(i % 4 AS VARCHAR) AS color,
    'product ' || CAST(i AS VARCHAR) AS product_name,
    CASE WHEN i % 3 = 0 THEN NULL ELSE 'ea' || CAST(i % 3 AS VARCHAR) END AS unit_name,
    CAST(i % 4 + 1 AS INT) AS unit_scale
  FROM range(35) AS t(i)
), shop_dim(shop_id, shop_group, shop_alias) AS (VALUES
  ('shop0055', 'smartstore', 'SS-A'),
  ('shop0075', 'coupang', 'CP-A'),
  ('adop0001', 'adops', 'Google'),
  ('adop0002', 'adops', 'Meta'),
  ('adop9000', 'extra', 'Manual')
), monthly AS (
  SELECT f.product_id, f.shop_id, f.order_status, f.order_ym,
    MIN(f.order_start_date) OVER (PARTITION BY f.order_ym) AS order_start_date,
    MAX(f.order_end_date) OVER (PARTITION BY f.order_ym) AS order_end_date,
    f.profit,
    CAST(COALESCE(f.sku_quantity * COALESCE(item.unit_scale, 1), 0) AS BIGINT) AS unit_quantity,
    f.payment_amount, f.supply_amount, f.supply_cost, f.delivery_fee,
    f.margin_amount, f.ad_cost,
    CAST(CASE WHEN f.shop_id IN ('shop0055','shop9000') THEN f.ad_cost ELSE 0 END AS BIGINT) AS ad_cost__searchad,
    CAST(CASE WHEN f.shop_id IN ('shop0075','shop9001') THEN f.ad_cost ELSE 0 END AS BIGINT) AS ad_cost__coupang,
    CAST(CASE WHEN f.shop_id = 'adop0001' THEN f.ad_cost ELSE 0 END AS BIGINT) AS ad_cost__google,
    CAST(CASE WHEN f.shop_id = 'adop0002' THEN f.ad_cost ELSE 0 END AS BIGINT) AS ad_cost__meta,
    CAST(CASE WHEN f.shop_id = 'adop0006' THEN f.ad_cost ELSE 0 END AS BIGINT) AS ad_cost__tiktok,
    f.extra_cost,
    CAST(CASE WHEN f.shop_id = 'adop0003' THEN f.extra_cost ELSE 0 END AS BIGINT) AS extra_cost__marketing,
    CAST(CASE WHEN f.shop_id = 'adop0004' THEN f.extra_cost ELSE 0 END AS BIGINT) AS extra_cost__sales,
    CAST(CASE WHEN f.shop_id = 'adop0005' THEN f.extra_cost ELSE 0 END AS BIGINT) AS extra_cost__expense,
    f.profit AS roi__top,
    f.ad_cost + f.extra_cost AS roi__bottom
  FROM factu AS f
  LEFT JOIN pm AS item ON f.product_id = item.product_id
), unp AS (
  SELECT product_id, shop_id, order_status, order_ym,
    order_start_date, order_end_date, m.metric_name, m.metric_value
  FROM monthly
  CROSS JOIN LATERAL (VALUES
    ('profit', CAST(profit AS BIGINT)),
    ('unit_quantity', CAST(unit_quantity AS BIGINT)),
    ('payment_amount', CAST(payment_amount AS BIGINT)),
    ('supply_amount', CAST(supply_amount AS BIGINT)),
    ('supply_cost', CAST(supply_cost AS BIGINT)),
    ('delivery_fee', CAST(delivery_fee AS BIGINT)),
    ('margin_amount', CAST(margin_amount AS BIGINT)),
    ('ad_cost', CAST(ad_cost AS BIGINT)),
    ('ad_cost__searchad', CAST(ad_cost__searchad AS BIGINT)),
    ('ad_cost__coupang', CAST(ad_cost__coupang AS BIGINT)),
    ('ad_cost__google', CAST(ad_cost__google AS BIGINT)),
    ('ad_cost__meta', CAST(ad_cost__meta AS BIGINT)),
    ('ad_cost__tiktok', CAST(ad_cost__tiktok AS BIGINT)),
    ('extra_cost', CAST(extra_cost AS BIGINT)),
    ('extra_cost__marketing', CAST(extra_cost__marketing AS BIGINT)),
    ('extra_cost__sales', CAST(extra_cost__sales AS BIGINT)),
    ('extra_cost__expense', CAST(extra_cost__expense AS BIGINT)),
    ('roi__top', CAST(roi__top AS BIGINT)),
    ('roi__bottom', CAST(roi__bottom AS BIGINT))
  ) AS m(metric_name, metric_value)
  WHERE m.metric_value IS NOT NULL
), status_map(code, label) AS (VALUES
  (0, '결제완료'), (1, '발송대기'), (2, '배송중'),
  (3, '배송완료'), (4, '구매확정'), (5, '취소')
), metric_map(name_en, sort_seq, sub_seq, name_ko) AS (VALUES
  ('profit', 1, CAST(NULL AS INT), '이익'),
  ('unit_quantity', 2, NULL, '판매수량'),
  ('payment_amount', 3, NULL, '결제금액'),
  ('supply_amount', 4, NULL, '공급가액'),
  ('supply_cost', 5, NULL, '공급원가'),
  ('delivery_fee', 6, NULL, '배송비'),
  ('margin_amount', 7, NULL, '마진액'),
  ('ad_cost', 8, NULL, '광고비'),
  ('ad_cost__searchad', 8, 1, '광고비-검색광고'),
  ('ad_cost__coupang', 8, 2, '광고비-쿠팡'),
  ('ad_cost__google', 8, 3, '광고비-구글'),
  ('ad_cost__meta', 8, 4, '광고비-메타'),
  ('ad_cost__tiktok', 8, 5, '광고비-틱톡'),
  ('extra_cost', 9, NULL, '기타비용'),
  ('extra_cost__marketing', 9, 1, '기타비용-마케팅'),
  ('extra_cost__sales', 9, 2, '기타비용-영업'),
  ('extra_cost__expense', 9, 3, '기타비용-경비'),
  ('roi__top', 10, 1, 'ROI-분자'),
  ('roi__bottom', 10, 2, 'ROI-분모')
), dow_map(dayofweek, name_ko) AS (VALUES
  (1, '(일)'), (2, '(월)'), (3, '(화)'), (4, '(수)'),
  (5, '(목)'), (6, '(금)'), (7, '(토)')
)
SELECT f.product_id,
  COALESCE(item.item_id, 'NA-AAAAAA-00') AS item_id,
  COALESCE(item.item_seq, 99999999) AS item_seq,
  COALESCE(item.team_name, '담당팀 없음') AS team_name,
  COALESCE(item.brand_name, '브랜드 없음') AS brand_name,
  COALESCE(item.category_name1, '-') AS category_name1,
  COALESCE(item.category_name2, '-') AS category_name2,
  COALESCE(item.category_name3, '-') AS category_name3,
  COALESCE(item.category_name4, '-') AS category_name4,
  COALESCE(item.color, '-') AS color,
  COALESCE(item.product_name, '매칭 불가 상품') AS product_name,
  COALESCE(
    CASE WHEN item.unit_name IS NULL THEN item.category_name3
         ELSE item.category_name3 || ' (' || item.unit_name || ')' END,
    '-') AS category_unit_name,
  f.shop_id,
  COALESCE(shop.shop_group, '-') AS shop_group,
  COALESCE(shop.shop_alias, '-') AS shop_name,
  COALESCE(st.label, '알 수 없음') AS order_status,
  f.metric_name AS metric_name_en,
  CONCAT(
    lpad(CAST(m.sort_seq AS VARCHAR), 2, '0'),
    COALESCE('-' || lpad(CAST(m.sub_seq AS VARCHAR), 1, '0'), ''),
    '. ', m.name_ko) AS metric_name_ko,
  f.metric_value,
  f.order_start_date,
  f.order_end_date,
  f.order_ym,
  CONCAT(
    '[ ', strftime(f.order_end_date, '%y'), '년 ',
    strftime(f.order_end_date, '%m'), '월 ]', chr(10),
    CASE WHEN f.order_start_date != f.order_end_date
      THEN CONCAT(strftime(f.order_start_date, '%y/%m/%d'), sd.name_ko,
                  chr(10), '~ ')
      ELSE chr(10) END,
    strftime(f.order_end_date, '%y/%m/%d'), ed.name_ko) AS order_date_range
FROM unp AS f
LEFT JOIN pm AS item ON f.product_id = item.product_id
LEFT JOIN shop_dim AS shop ON f.shop_id = shop.shop_id
LEFT JOIN status_map AS st ON f.order_status = st.code
LEFT JOIN metric_map AS m ON f.metric_name = m.name_en
LEFT JOIN dow_map AS sd ON dayofweek(f.order_start_date) + 1 = sd.dayofweek
LEFT JOIN dow_map AS ed ON dayofweek(f.order_end_date) + 1 = ed.dayofweek
"""

# --- sabangnet order dataset ----------------------------------------------
_SBN_RAW_CTE = """
raw AS (
  SELECT o_orderkey AS ok,
    CAST(o_orderkey AS VARCHAR) AS seq,
    CASE WHEN o_orderkey % 23 = 0 THEN 'x'
         WHEN o_orderkey % 10 = 0 THEN '0'
         ELSE CAST(o_orderkey - 1 AS VARCHAR) END AS seq_org,
    'm' || CAST(o_orderkey AS VARCHAR) AS order_id,
    CAST(o_orderkey % 3 AS VARCHAR) AS account,
    'opt' || CAST(o_orderkey % 5 AS VARCHAR) AS option_cd,
    'ps' || CAST(o_orderkey % 12 AS VARCHAR) AS product_shop,
    strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') || ' 23:59:59' AS register_s,
    CASE WHEN o_orderkey % 13 = 0 THEN 'bad-date'
         ELSE strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') || ' '
              || lpad(CAST(o_orderkey % 24 AS VARCHAR), 2, '0') || ':'
              || lpad(CAST(o_orderkey % 60 AS VARCHAR), 2, '0') END AS order_dt_s,
    CASE WHEN o_orderkey % 4 = 0 THEN NULL
         ELSE 'mdl' || CAST(o_orderkey % 20 AS VARCHAR) END AS model_code,
    'mid' || CAST(o_orderkey % 9 AS VARCHAR) AS model_id,
    CASE WHEN o_orderkey % 6 = 0 THEN NULL
         ELSE 'pn' || CAST(o_orderkey % 15 AS VARCHAR) END AS product_name,
    'pns' || CAST(o_orderkey % 15 AS VARCHAR) AS product_name_shop,
    CASE WHEN o_orderkey % 2 = 0 THEN NULL
         ELSE 'ab' || CAST(o_orderkey % 7 AS VARCHAR) END AS product_name_abbr,
    'on' || CAST(o_orderkey % 8 AS VARCHAR) AS option_name,
    'ons' || CAST(o_orderkey % 8 AS VARCHAR) AS option_name_shop,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
         ELSE 'oa' || CAST(o_orderkey % 4 AS VARCHAR) END AS option_name_abbr,
    CASE WHEN o_orderkey % 29 = 0 THEN 'n/a'
         ELSE CAST((o_orderkey % 9) * 1000 AS VARCHAR) END AS sales_price_s,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
         ELSE 'inv' || CAST(o_orderkey AS VARCHAR) END AS invoice_no,
    (['CJ','한진','로젠'])[CAST(o_orderkey % 3 + 1 AS INT)] AS delivery_company,
    (['주문(진행)','주문(완료)','교발(진행)','교발(완료)','회수(진행)','회수(완료)','중복'])[CAST(o_orderkey % 7 + 1 AS INT)] AS status_div_label,
    (['신규주문','주문확인','출고대기','출고완료','배송보류','취소접수','교환접수','반품접수','취소완료','교환완료','반품완료','교환발송준비','교환발송완료','교환회수준비','교환회수완료','반품회수준비','반품회수완료','폐기','특수'])[CAST(o_orderkey % 19 + 1 AS INT)] AS status_label,
    CASE WHEN o_orderkey % 11 = 0 THEN 'none'
         ELSE strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') END AS invoice_date_s
  FROM orders
)
"""

_SBN_OPTION_PROJ = """
  SELECT DISTINCT option_cd AS option_id, product_shop AS product_id_shop,
    CAST(account AS INT) AS account_no, model_code, model_id, product_name,
    product_name_shop, product_name_abbr, option_name, option_name_shop,
    option_name_abbr, TRY_CAST(sales_price_s AS INT) AS sales_price,
    order_id, try_strptime(order_dt_s, '%Y-%m-%d %H:%M') AS first_order_dt,
    try_strptime(order_dt_s, '%Y-%m-%d %H:%M') AS last_order_dt
  FROM raw WHERE ok % 2 = {parity}
"""

_SBN_QUALIFY = """
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY account_no, product_id_shop, option_id
    ORDER BY last_order_dt DESC NULLS LAST, order_id ASC NULLS LAST,
             sales_price ASC NULLS LAST) = 1
"""

ORACLES["sabangnet_option_upsert"] = f"""
WITH {_SBN_RAW_CTE},
tgt AS ({_SBN_OPTION_PROJ.format(parity=0)} {_SBN_QUALIFY}),
stg AS ({_SBN_OPTION_PROJ.format(parity=1)} {_SBN_QUALIFY})
SELECT
  COALESCE(t.account_no, s.account_no) AS account_no,
  COALESCE(t.product_id_shop, s.product_id_shop) AS product_id_shop,
  COALESCE(t.option_id, s.option_id) AS option_id,
  COALESCE(s.model_code, t.model_code) AS model_code,
  COALESCE(s.model_id, t.model_id) AS model_id,
  COALESCE(s.product_name, t.product_name) AS product_name,
  COALESCE(s.product_name_shop, t.product_name_shop) AS product_name_shop,
  COALESCE(s.product_name_abbr, t.product_name_abbr) AS product_name_abbr,
  COALESCE(s.option_name, t.option_name) AS option_name,
  COALESCE(s.option_name_shop, t.option_name_shop) AS option_name_shop,
  COALESCE(s.option_name_abbr, t.option_name_abbr) AS option_name_abbr,
  COALESCE(s.sales_price, t.sales_price) AS sales_price,
  COALESCE(s.order_id, t.order_id) AS order_id,
  strftime(LEAST(s.first_order_dt, t.first_order_dt), '%Y-%m-%d %H:%M:%S') AS first_order_dt,
  strftime(GREATEST(s.last_order_dt, t.last_order_dt), '%Y-%m-%d %H:%M:%S') AS last_order_dt
FROM tgt AS t
FULL OUTER JOIN stg AS s
  ON t.account_no = s.account_no
 AND t.product_id_shop = s.product_id_shop
 AND t.option_id = s.option_id
"""

ORACLES["sabangnet_invoice_enum"] = f"""
WITH {_SBN_RAW_CTE}
SELECT CAST(seq AS BIGINT) AS order_seq,
  CAST(account AS INT) AS account_no,
  invoice_no,
  delivery_company,
  (CASE status_div_label
     WHEN '주문(진행)' THEN 1 WHEN '주문(완료)' THEN 2
     WHEN '교발(진행)' THEN 3 WHEN '교발(완료)' THEN 4
     WHEN '회수(진행)' THEN 5 WHEN '회수(완료)' THEN 6
     ELSE NULL END) AS order_status_div,
  (CASE status_label
     WHEN '신규주문' THEN 1 WHEN '주문확인' THEN 2 WHEN '출고대기' THEN 3
     WHEN '출고완료' THEN 4 WHEN '배송보류' THEN 6 WHEN '취소접수' THEN 7
     WHEN '교환접수' THEN 8 WHEN '반품접수' THEN 9 WHEN '취소완료' THEN 10
     WHEN '교환완료' THEN 11 WHEN '반품완료' THEN 12 WHEN '교환발송준비' THEN 21
     WHEN '교환발송완료' THEN 22 WHEN '교환회수준비' THEN 23
     WHEN '교환회수완료' THEN 24 WHEN '반품회수준비' THEN 25
     WHEN '반품회수완료' THEN 26 WHEN '폐기' THEN 999
     ELSE NULL END) AS order_status,
  TRY_CAST(invoice_date_s AS DATE) AS invoice_date,
  strftime(try_strptime(order_dt_s, '%Y-%m-%d %H:%M'), '%Y-%m-%d %H:%M:%S') AS order_dt
FROM raw
WHERE invoice_no IS NOT NULL AND try_strptime(order_dt_s, '%Y-%m-%d %H:%M') IS NOT NULL
"""

# --- coupang ads + settlement ---------------------------------------------
ORACLES["coupang_ad_report_rollup"] = """
WITH raw AS (
  SELECT
    CAST(l_partkey % 15 AS VARCHAR) AS campaign_s,
    CAST(l_suppkey % 20 AS VARCHAR) AS option_s,
    CASE WHEN l_orderkey % 6 = 0 THEN NULL
         ELSE CAST(l_partkey % 8 AS VARCHAR) END AS conv_s,
    (['검색 영역','비검색 영역','외부 채널'])[CAST(l_linenumber % 3 + 1 AS INT)] AS placement_s,
    CAST(FLOOR(CAST(l_extendedprice AS DECIMAL(18,2))) AS BIGINT) % 100000 AS v,
    l_quantity, l_orderkey,
    CAST(year(CAST(l_shipdate AS DATE)) * 10000
       + month(CAST(l_shipdate AS DATE)) * 100
       + day(CAST(l_shipdate AS DATE)) AS BIGINT) AS ymd_n
  FROM lineitem
), fmt AS (
  SELECT *,
    CASE WHEN v >= 1000
      THEN CAST(v // 1000 AS VARCHAR) || ',' || lpad(CAST(v % 1000 AS VARCHAR), 3, '0')
      ELSE CAST(v AS VARCHAR) END AS impressions_s,
    CASE WHEN l_orderkey % 31 = 0 THEN 'n/a'
      WHEN CAST(l_quantity AS BIGINT) * 7 >= 1000
      THEN CAST((CAST(l_quantity AS BIGINT) * 7) // 1000 AS VARCHAR) || ','
           || lpad(CAST((CAST(l_quantity AS BIGINT) * 7) % 1000 AS VARCHAR), 3, '0')
      ELSE CAST(CAST(l_quantity AS BIGINT) * 7 AS VARCHAR) END AS clicks_s,
    CASE WHEN v % 5000 >= 1000
      THEN CAST((v % 5000) // 1000 AS VARCHAR) || ',' || lpad(CAST((v % 5000) % 1000 AS VARCHAR), 3, '0')
      ELSE CAST(v % 5000 AS VARCHAR) END AS cost_s,
    CAST(l_orderkey % 9 AS VARCHAR) AS conv_count_s,
    CAST(l_orderkey % 4 AS VARCHAR) AS direct_conv_count_s,
    CASE WHEN v % 9000 >= 1000
      THEN CAST((v % 9000) // 1000 AS VARCHAR) || ',' || lpad(CAST((v % 9000) % 1000 AS VARCHAR), 3, '0')
      ELSE CAST(v % 9000 AS VARCHAR) END AS conv_amount_s,
    CASE WHEN v % 3000 >= 1000
      THEN CAST((v % 3000) // 1000 AS VARCHAR) || ',' || lpad(CAST((v % 3000) % 1000 AS VARCHAR), 3, '0')
      ELSE CAST(v % 3000 AS VARCHAR) END AS direct_conv_amount_s
  FROM raw
), parsed AS (
  SELECT
    CAST(campaign_s AS BIGINT) AS campaign_id,
    CAST(option_s AS BIGINT) AS option_id,
    COALESCE(CAST(conv_s AS BIGINT), 0) AS option_conv_id,
    (CASE WHEN placement_s = '검색 영역' THEN 0
          WHEN placement_s = '비검색 영역' THEN 1
          ELSE 2 END) AS placement_group,
    TRY_CAST(REPLACE(impressions_s, ',', '') AS INTEGER) AS impression_count,
    TRY_CAST(REPLACE(clicks_s, ',', '') AS INTEGER) AS click_count,
    TRY_CAST(REPLACE(cost_s, ',', '') AS INTEGER) AS ad_cost,
    TRY_CAST(REPLACE(conv_count_s, ',', '') AS INTEGER) AS conv_count,
    TRY_CAST(REPLACE(direct_conv_count_s, ',', '') AS INTEGER) AS direct_conv_count,
    TRY_CAST(REPLACE(conv_amount_s, ',', '') AS INTEGER) AS conv_amount,
    TRY_CAST(REPLACE(direct_conv_amount_s, ',', '') AS INTEGER) AS direct_conv_amount,
    CAST(STRPTIME(CAST(ymd_n AS VARCHAR), '%Y%m%d') AS DATE) AS ymd
  FROM fmt
)
SELECT ymd, campaign_id, option_id, option_conv_id, placement_group,
  CAST(SUM(impression_count) AS BIGINT) AS impression_count,
  CAST(SUM(click_count) AS BIGINT) AS click_count,
  CAST(SUM(ad_cost) AS BIGINT) AS ad_cost,
  CAST(SUM(conv_count) AS BIGINT) AS conv_count,
  CAST(SUM(direct_conv_count) AS BIGINT) AS direct_conv_count,
  CAST(SUM(conv_amount) AS BIGINT) AS conv_amount,
  CAST(SUM(direct_conv_amount) AS BIGINT) AS direct_conv_amount,
  'v001' AS vendor_id
FROM parsed
GROUP BY 1, 2, 3, 4, 5
"""

ORACLES["coupang_settlement_sales"] = """
WITH raw AS (
  SELECT o_orderkey AS ok,
    strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS date_s,
    CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,2))) AS BIGINT) AS total_n
  FROM orders
)
SELECT CAST(ok AS BIGINT) AS order_id,
  'v001' AS vendor_id,
  CAST(ok % 40 AS BIGINT) AS product_id,
  CAST(ok % 100 AS BIGINT) AS option_id,
  TRY_CAST(CASE WHEN ok % 9 = 0 THEN 'bad' ELSE CAST(ok % 500 AS VARCHAR) END AS BIGINT) AS sku_id,
  CAST(ok % 77 AS INT) AS category_id,
  (CASE (['주문 정산','주문 정산취소','기타유형'])[CAST(ok % 3 + 1 AS INT)]
     WHEN '주문 정산' THEN 0 WHEN '주문 정산취소' THEN 1 ELSE 99 END) AS settlement_type,
  (CASE (['주정산','월정산','반기정산'])[CAST(ok % 3 + 1 AS INT)]
     WHEN '주정산' THEN 0 WHEN '월정산' THEN 1 ELSE 99 END) AS period_type,
  CAST((ok % 50) * 100 AS INT) AS unit_price,
  CAST(ok % 7 + 1 AS INT) AS order_quantity,
  TRY_CAST(CASE WHEN ok % 21 = 0 THEN '-' ELSE CAST((ok % 5) * 10 AS VARCHAR) END AS INT) AS coupang_discount,
  CAST((ok % 11) * 5 AS INT) AS seller_discount,
  CAST(total_n AS INT) AS settlement_amount,
  CAST(date_s AS DATE) AS sales_date,
  TRY_CAST(CASE WHEN ok % 8 = 0 THEN 'none' ELSE date_s END AS DATE) AS settlement_date
FROM raw
"""

# --- smartstore product/sales ----------------------------------------------
ORACLES["smartstore_option_assembly"] = """
WITH base AS (
  SELECT o_orderkey AS seq,
    CAST(o_orderkey AS VARCHAR) AS id,
    (o_orderkey % 2 = 0) AS usable,
    'g' || CAST(o_orderkey % 3 AS VARCHAR) AS groupName,
    'n' || CAST(o_orderkey % 10 AS VARCHAR) AS name,
    CASE WHEN o_orderkey % 21 = 0 THEN 'bad'
         ELSE CAST((o_orderkey % 20) * 100 AS VARCHAR) END AS price,
    CASE WHEN o_orderkey % 13 = 0 THEN '?'
         ELSE CAST(o_orderkey % 50 AS VARCHAR) END AS stockQuantity,
    'og1-' || CAST(o_orderkey % 4 AS VARCHAR) AS optionGroupName1,
    'on1-' || CAST(o_orderkey % 5 AS VARCHAR) AS optionName1,
    'og2-' || CAST(o_orderkey % 3 AS VARCHAR) AS optionGroupName2,
    'on2-' || CAST(o_orderkey % 6 AS VARCHAR) AS optionName2,
    CASE WHEN o_orderkey % 8 = 0 THEN NULL
         ELSE 'og3-' || CAST(o_orderkey % 2 AS VARCHAR) END AS optionGroupName3,
    'on3-' || CAST(o_orderkey % 7 AS VARCHAR) AS optionName3,
    'mc' || CAST(o_orderkey % 9 AS VARCHAR) AS sellerManagerCode,
    o_orderkey % 3 AS variant
  FROM orders
)
SELECT CAST(777 AS BIGINT) AS product_id, CAST(id AS BIGINT) AS option_id,
  CAST(42 AS BIGINT) AS channel_seq, CAST(0 AS INT) AS product_type,
  groupName AS option_group1, name AS option_name1,
  CAST(NULL AS VARCHAR) AS option_group2, CAST(NULL AS VARCHAR) AS option_name2,
  CAST(NULL AS VARCHAR) AS option_group3, CAST(NULL AS VARCHAR) AS option_name3,
  CAST(NULL AS VARCHAR) AS management_code, usable,
  COALESCE(TRY_CAST(price AS INT), 0) AS option_price,
  TRY_CAST(stockQuantity AS INT) AS stock_quantity,
  CAST(ROW_NUMBER() OVER (ORDER BY seq ASC) AS INT) AS register_order
FROM base WHERE variant = 0
UNION ALL
SELECT 777, CAST(id AS BIGINT), 42, 1,
  optionGroupName1, optionName1, optionGroupName2, optionName2,
  optionGroupName3, optionName3, sellerManagerCode, usable,
  CAST(price AS INT) AS option_price,
  TRY_CAST(stockQuantity AS INT),
  CAST(ROW_NUMBER() OVER (ORDER BY seq ASC) AS INT)
FROM base WHERE variant = 1
UNION ALL
SELECT 777, CAST(id AS BIGINT), 42, 2,
  groupName, name, NULL, NULL, NULL, NULL, sellerManagerCode, usable,
  CAST(price AS INT),
  TRY_CAST(stockQuantity AS INT),
  CAST(ROW_NUMBER() OVER (ORDER BY seq ASC) AS INT)
FROM base WHERE variant = 2
"""

ORACLES["smartstore_sales_rollup"] = """
WITH items AS (
  SELECT DISTINCT
    CAST(l_partkey % 200 AS BIGINT) AS product_id,
    CAST(3100 AS BIGINT) AS mall_seq,
    TRY_CAST(CASE WHEN l_partkey % 11 = 0 THEN 'x'
                  ELSE CAST(l_partkey % 40 AS VARCHAR) END AS INT) AS category_id3,
    CAST(l_suppkey % 50 AS BIGINT) AS click_count,
    CAST(l_suppkey % 7 AS BIGINT) AS payment_count,
    CAST((l_suppkey % 90) * 100 AS BIGINT) AS payment_amount,
    DATE '1995-06-30' AS payment_date
  FROM lineitem
)
SELECT product_id, payment_date,
  MAX(mall_seq) AS mall_seq,
  MAX(category_id3) AS category_id3,
  CAST(SUM(click_count) AS BIGINT) AS click_count,
  CAST(SUM(payment_count) AS BIGINT) AS payment_count,
  CAST(SUM(payment_amount) AS BIGINT) AS payment_amount
FROM items GROUP BY 1, 2
"""

# --- google ads dataset ----------------------------------------------------
# Vocab lists shared with the Spark module so enum CASEs can never drift.
from linkmerce_spark.models.google import DEVICE_VOCAB as _G_DEV  # noqa: E402
from linkmerce_spark.models.google import FIELD_TYPE_VOCAB as _G_FLD  # noqa: E402


def _g_list(vocab, extra):
    return "[" + ",".join(f"'{c}'" for c, _ in vocab) + f",'{extra}']"


def _g_case(expr, vocab):
    whens = " ".join(
        f"WHEN {expr} = '{code}' THEN {seq}"
        for seq, (code, _) in enumerate(vocab)
    )
    return f"(CASE {whens} ELSE NULL END)"


_G_RAW = f"""
raw AS (
  SELECT
    CAST(l_partkey % 25 AS VARCHAR) AS campaign_id,
    CAST(l_suppkey % 40 AS VARCHAR) AS adgroup_id,
    CAST(l_orderkey % 500 AS VARCHAR) AS ad_id,
    CAST(l_partkey % 300 AS VARCHAR) AS asset_id,
    ({_g_list(_G_FLD, 'HOLOGRAM')})[CAST(l_partkey % {len(_G_FLD) + 1} + 1 AS INT)] AS field_label,
    ({_g_list(_G_DEV, 'SPACESHIP')})[CAST(l_orderkey % {len(_G_DEV) + 1} + 1 AS INT)] AS device_label,
    CAST(l_shipdate AS DATE) AS ymd,
    CASE WHEN l_orderkey % 19 = 0 THEN 'junk'
         ELSE CAST(CAST(l_quantity AS BIGINT) * 13 AS VARCHAR) END AS impressions_s,
    CAST(l_orderkey % 90 AS VARCHAR) AS clicks_s,
    (l_orderkey % 4000) * 250000 AS cost_micros
  FROM lineitem
)
"""

ORACLES["google_ads_insight"] = f"""
WITH {_G_RAW}
SELECT CAST(5555 AS BIGINT) AS customer_id,
  campaign_id, adgroup_id, ad_id,
  {_g_case('device_label', _G_DEV)} AS device_type,
  COALESCE(TRY_CAST(impressions_s AS INT), 0) AS impression_count,
  COALESCE(TRY_CAST(clicks_s AS INT), 0) AS click_count,
  CAST((cost_micros + 500000) // 1000000 AS INT) AS ad_cost,
  ymd
FROM raw
"""

ORACLES["google_asset_view"] = f"""
WITH {_G_RAW}
SELECT CAST(5555 AS BIGINT) AS customer_id,
  adgroup_id, ad_id, asset_id,
  {_g_case('field_label', _G_FLD)} AS field_type,
  {_g_case('device_label', _G_DEV)} AS device_type,
  COALESCE(TRY_CAST(impressions_s AS INT), 0) AS impression_count,
  COALESCE(TRY_CAST(clicks_s AS INT), 0) AS click_count,
  CAST((cost_micros + 500000) // 1000000 AS INT) AS ad_cost,
  ymd
FROM raw
"""

# --- meta / dable / cj feeds ----------------------------------------------
ORACLES["meta_insights_split"] = """
SELECT 'act_1' AS account_id,
  'c' || CAST(o_orderkey % 12 AS VARCHAR) AS campaign_id,
  's' || CAST(o_orderkey % 30 AS VARCHAR) AS adset_id,
  'a' || CAST(o_orderkey % 200 AS VARCHAR) AS ad_id,
  CAST(o_orderkey % 1000 AS INT) AS impression_count,
  CAST(o_orderkey % 800 AS INT) AS reach_count,
  CAST(o_orderkey % 90 AS INT) AS click_count,
  CAST(o_orderkey % 40 AS INT) AS link_click_count,
  CAST((o_orderkey % 70) * 100 AS INT) AS ad_cost,
  CAST(o_orderdate AS DATE) AS ymd
FROM orders
"""

ORACLES["dable_report_split"] = """
WITH raw AS (
  SELECT
    CASE WHEN o_orderkey % 10 = 0 THEN NULL
         ELSE 'dc' || CAST(o_orderkey % 25 AS VARCHAR) END AS campaign_id,
    CAST(o_orderkey % 400 AS INT) AS exposes,
    CAST(CASE WHEN o_orderkey % 7 = 0 THEN 0 ELSE o_orderkey % 300 + 1 END AS INT) AS impressions,
    CAST(o_orderkey % 50 AS INT) AS clicks,
    CAST((o_orderkey % 30) * 10 AS INT) AS cost_spent,
    CAST(o_orderkey % 9 AS INT) AS convertion_cnt,
    strftime(CAST(o_orderdate AS DATE), '%Y%m%d') AS ymd_s
  FROM orders
)
SELECT COALESCE(campaign_id, '-') AS campaign_id,
  exposes AS expose_count,
  impressions AS impression_count,
  clicks AS click_count,
  cost_spent AS ad_cost,
  convertion_cnt AS conv_count,
  CAST(STRPTIME(ymd_s, '%Y%m%d') AS DATE) AS ymd
FROM raw WHERE impressions > 0
"""

ORACLES["cj_stock_parse"] = """
SELECT
  'IT' || CAST(o_orderkey % 60 AS VARCHAR) AS item_code,
  '880' || CAST(o_orderkey % 1000 AS VARCHAR) AS barcode,
  CAST(o_orderkey % 5 + 1 AS BIGINT) AS customer_id,
  'item ' || CAST(o_orderkey % 60 AS VARCHAR) AS item_name,
  'WH' || CAST(o_orderkey % 3 AS VARCHAR) AS warehouse_code,
  '창고' || CAST(o_orderkey % 3 AS VARCHAR) AS warehouse_name,
  'Z' || CAST(o_orderkey % 4 AS VARCHAR) AS zone_code,
  'L-' || CAST(o_orderkey % 20 AS VARCHAR) AS location_name,
  TRY_CAST(CASE WHEN o_orderkey % 6 = 0 THEN 'lot?'
                ELSE CAST(o_orderkey % 9000 AS VARCHAR) END AS BIGINT) AS lot_no,
  CAST(o_orderkey % 500 AS INT) AS total_quantity,
  CAST(o_orderkey % 450 AS INT) AS usable_quantity,
  CAST(o_orderkey % 30 AS INT) AS hold_quantity,
  CAST(o_orderkey % 20 AS INT) AS process_quantity,
  TRY_CAST(CASE WHEN o_orderkey % 11 = 0 THEN '-'
                ELSE CAST(o_orderkey % 365 AS VARCHAR) END AS INT) AS remain_days,
  TRY_CAST(CASE WHEN o_orderkey % 13 = 0 THEN 'not-a-date'
                ELSE strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') END AS DATE) AS validate_date,
  CAST(STRPTIME(CAST(CAST(year(CAST(o_orderdate AS DATE)) * 10000
    + month(CAST(o_orderdate AS DATE)) * 100
    + day(CAST(o_orderdate AS DATE)) AS BIGINT) AS VARCHAR), '%Y%m%d') AS DATE) AS inbound_date,
  CAST(TIMESTAMP '2026-08-13 12:00:00' AS TIMESTAMP_NS) AS updated_at
FROM orders
"""

# --- searchad extras -------------------------------------------------------
from linkmerce_spark.models.searchad.extras import (  # noqa: E402
    BRANDNEW_CONTRACT_STATUS as _SA_BSTAT,
    TIME_CONTRACT_STATUS as _SA_TSTAT,
)

ORACLES["searchad_exposure_products"] = r"""
WITH raw AS (
  SELECT o_orderkey AS ok, o_orderkey % 3000 AS mid,
    CASE WHEN o_orderkey % 3 = 0 THEN
           'https://shopping-phinf.example/main_' || CAST(o_orderkey % 50 AS VARCHAR)
           || '/' || CAST(o_orderkey % 3000 AS VARCHAR) || '.jpg'
         WHEN o_orderkey % 3 = 1 THEN
           'https://searchad-phinf.example/ad/'
           || to_base64(CAST(CAST(o_orderkey % 3000 AS VARCHAR) AS BLOB)) || '.png'
         ELSE 'https://other.example/' || CAST(o_orderkey % 3000 AS VARCHAR) END AS imageUrl,
    (o_orderkey % 4 < 2) AS isOwn
  FROM orders
), extracted AS (
  SELECT *,
    CASE WHEN imageUrl LIKE 'https://shopping-%' THEN
           TRY_CAST(regexp_extract(imageUrl, '^https://[^/]+/main_\d+/(\d+)', 1) AS BIGINT)
         WHEN imageUrl LIKE 'https://searchad-%' THEN
           TRY_CAST(CAST(from_base64(regexp_extract(imageUrl, '^https://[^/]+/[^/]+/([^.]+)', 1)) AS VARCHAR) AS BIGINT)
         ELSE NULL END AS nv_mid,
    CASE WHEN imageUrl LIKE 'https://shopping-%' THEN 0 ELSE 3 END AS product_type,
    'title ' || CAST(mid AS VARCHAR) AS product_name,
    'a>b>' || CAST(mid % 7 AS VARCHAR) AS full_category_name,
    NULLIF(CASE WHEN mid % 5 = 0 THEN '' ELSE 'br' || CAST(mid % 5 AS VARCHAR) END, '') AS brand_name,
    TRY_CAST(COALESCE(
      CASE WHEN mid % 4 = 0 THEN NULL ELSE CAST((mid % 90) * 100 AS VARCHAR) END,
      CAST((mid % 80) * 110 AS VARCHAR)) AS INT) AS sales_price
  FROM raw
), tgt AS (
  SELECT DISTINCT nv_mid, product_type, product_name, full_category_name,
    brand_name, sales_price, TIMESTAMP '2026-08-01 00:00:00' AS updated_at
  FROM extracted WHERE ok % 2 = 0 AND isOwn AND nv_mid IS NOT NULL
), stg AS (
  SELECT DISTINCT nv_mid, product_type, product_name, full_category_name,
    brand_name, sales_price, TIMESTAMP '2026-08-02 00:00:00' AS updated_at
  FROM extracted WHERE ok % 2 = 1 AND nv_mid IS NOT NULL
)
SELECT COALESCE(t.nv_mid, s.nv_mid) AS nv_mid,
  CAST(NULL AS BIGINT) AS product_id,
  CAST(COALESCE(t.product_type, s.product_type) AS TINYINT) AS product_type,
  COALESCE(s.product_name, t.product_name) AS product_name,
  CAST(NULL AS INT) AS category_id,
  COALESCE(s.full_category_name, t.full_category_name) AS full_category_name,
  CAST(NULL AS VARCHAR) AS mall_name,
  COALESCE(t.brand_name, s.brand_name) AS brand_name,
  COALESCE(t.sales_price, s.sales_price) AS sales_price,
  strftime(COALESCE(s.updated_at, t.updated_at), '%Y-%m-%d %H:%M:%S') AS updated_at
FROM tgt AS t FULL OUTER JOIN stg AS s ON t.nv_mid = s.nv_mid
"""


def _sa_status_case(expr, mapping):
    whens = " ".join(f"WHEN {expr} = '{c}' THEN {v}" for c, v in mapping.items())
    return f"(CASE {whens} ELSE NULL END)"


def _sa_status_list(mapping):
    return "[" + ",".join(f"'{c}'" for c in mapping) + ",'???']"


ORACLES["searchad_contract_union"] = f"""
WITH base AS (
  SELECT o_orderkey AS ok,
    strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS date_s,
    CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,2))) AS BIGINT) AS pay
  FROM orders
), shaped AS (
  SELECT ok,
    'ct-' || CAST(ok AS VARCHAR) AS time_id,
    'cb-' || CAST(ok AS VARCHAR) AS brand_id,
    'grp' || CAST(ok % 40 AS VARCHAR) AS adgroup_id,
    CAST(ok % 7 AS INT) AS customer_id,
    'contract ' || CAST(ok % 100 AS VARCHAR) AS contract_name,
    ({_sa_status_list(_SA_TSTAT)})[CAST(ok % 7 + 1 AS INT)] AS tstat,
    ({_sa_status_list(_SA_BSTAT)})[CAST(ok % 13 + 1 AS INT)] AS bstat,
    pay,
    CAST((ok % 20) * 50 AS INT) AS refund,
    CAST(ok % 30 AS INT) AS cqc,
    CAST(ok % 90 AS INT) AS kqc,
    TRY_CAST(date_s || ' 10:20:30' AS TIMESTAMP) + INTERVAL 9 HOUR AS reg_dt,
    TRY_CAST(CASE WHEN ok % 9 = 0 THEN 'junk' ELSE date_s || ' 11:00:00' END AS TIMESTAMP)
      + INTERVAL 9 HOUR AS edit_dt,
    CAST(TRY_CAST(date_s || ' 20:00:00' AS TIMESTAMP) + INTERVAL 9 HOUR AS DATE) AS start_d,
    CAST(TRY_CAST(date_s || ' 23:30:00' AS TIMESTAMP) + INTERVAL 9 HOUR AS DATE) AS end_d,
    CAST(TRY_CAST(CASE WHEN ok % 5 = 0 THEN NULL ELSE date_s || ' 00:00:00' END AS TIMESTAMP)
      + INTERVAL 9 HOUR AS DATE) AS exp_start_d,
    CAST(TRY_CAST(date_s || ' 12:00:00' AS TIMESTAMP) + INTERVAL 9 HOUR AS DATE) AS exp_end_d,
    CAST(TRY_CAST(CASE WHEN ok % 11 = 0 THEN date_s || ' 18:00:00' ELSE NULL END AS TIMESTAMP)
      + INTERVAL 9 HOUR AS DATE) AS cancel_d
  FROM base
)
SELECT time_id AS contract_id, adgroup_id, customer_id, contract_name,
  CAST(0 AS TINYINT) AS contract_type,
  {_sa_status_case('tstat', _SA_TSTAT)} AS contract_status,
  CAST(FLOOR(CAST(pay AS DECIMAL(18,0)) * CAST('1.1' AS DECIMAL(2,1))
       + CAST('0.5' AS DECIMAL(2,1))) AS INT) AS contract_amount,
  refund AS refund_amount, cqc AS contract_qc, kqc AS keyword_qc,
  start_d AS contract_start_date, end_d AS contract_end_date,
  exp_start_d AS exposure_start_date, exp_end_d AS exposure_end_date,
  cancel_d AS cancel_date,
  strftime(reg_dt, '%Y-%m-%d %H:%M:%S') AS register_dt,
  strftime(edit_dt, '%Y-%m-%d %H:%M:%S') AS edit_dt
FROM shaped WHERE ok % 2 = 0
UNION ALL
SELECT brand_id, adgroup_id, customer_id, contract_name,
  CAST(1 AS TINYINT),
  {_sa_status_case('bstat', _SA_BSTAT)},
  CAST(pay AS INT),
  refund, CAST(NULL AS INT), CAST(NULL AS INT),
  start_d, end_d, exp_start_d, exp_end_d, cancel_d,
  strftime(reg_dt, '%Y-%m-%d %H:%M:%S'),
  strftime(edit_dt, '%Y-%m-%d %H:%M:%S')
FROM shaped WHERE ok % 2 = 1
"""

# --- smartstore extras ------------------------------------------------------
ORACLES["smartstore_category_split"] = r"""
WITH raw AS (
  SELECT p_partkey AS product_id,
    array_to_string(list_slice([
      CAST(p_partkey % 7 AS VARCHAR),
      CAST(p_partkey % 8 + 100 AS VARCHAR),
      CAST(p_partkey % 9 + 200 AS VARCHAR),
      CAST(p_partkey % 10 + 300 AS VARCHAR)
    ], 1, CAST(p_partkey % 4 + 1 AS INT)), '>') AS full_id,
    array_to_string(list_slice([
      'lvl0-' || CAST(p_partkey % 5 AS VARCHAR),
      'lvl1-' || CAST(p_partkey % 6 AS VARCHAR),
      'lvl2-' || CAST(p_partkey % 7 AS VARCHAR),
      'lvl3-' || CAST(p_partkey % 8 AS VARCHAR)
    ], 1, CAST(p_partkey % 4 + 1 AS INT)), '>') AS full_name
  FROM part
)
SELECT product_id, full_id, full_name,
  TRY_CAST(split_part(full_id, '>', 1) AS INT) AS category_id1,
  NULLIF(split_part(full_name, '>', 1), '') AS category_name1,
  TRY_CAST(split_part(full_id, '>', 2) AS INT) AS category_id2,
  NULLIF(split_part(full_name, '>', 2), '') AS category_name2,
  TRY_CAST(split_part(full_id, '>', 3) AS INT) AS category_id3,
  NULLIF(split_part(full_name, '>', 3), '') AS category_name3,
  TRY_CAST(split_part(full_id, '>', 4) AS INT) AS category_id4,
  NULLIF(split_part(full_name, '>', 4), '') AS category_name4
FROM raw
"""

ORACLES["smartstore_pageview_products"] = r"""
WITH raw AS (
  SELECT
    CASE WHEN event_id % 4 = 0 THEN '/mystore/products/' || CAST(event_id % 900 AS VARCHAR)
         WHEN event_id % 4 = 1 THEN '/mystore'
         WHEN event_id % 4 = 2 THEN '/mystore/reviews/' || CAST(event_id % 50 AS VARCHAR)
         ELSE NULL END AS url,
    CAST(event_id % 300 AS BIGINT) AS page_click,
    CAST(event_id % 200 AS BIGINT) AS user_click,
    CAST(event_id % 5000 AS BIGINT) AS time_on_site,
    CAST(ts AS DATE) AS ymd
  FROM events
), items AS (
  SELECT CAST(3100 AS BIGINT) AS mall_seq,
    (CASE
      WHEN regexp_matches(url, '^/[^/]+/products/\d+$')
        THEN CAST(regexp_extract(url, '(\d+)$') AS BIGINT)
      WHEN regexp_matches(url, '^/[^/]+$') THEN 10
      ELSE NULL END) AS product_id,
    page_click, user_click, time_on_site, ymd
  FROM raw WHERE url IS NOT NULL
)
SELECT * FROM items WHERE product_id IS NOT NULL
"""

# --- coupang wing product ---------------------------------------------------
ORACLES["coupang_rocket_options"] = """
WITH raw AS (
  SELECT p_partkey AS pk, (p_partkey % 9 != 0) AS dto_present,
    (p_partkey % 5 = 0) AS hidden, (p_partkey % 3 = 0) AS on_sale
  FROM part
)
SELECT
  CAST(pk % 400 AS BIGINT) AS vendor_inventory_id,
  CASE WHEN dto_present THEN CAST(pk % 5000 AS BIGINT) END AS vendor_inventory_item_id,
  CAST(pk % 800 AS BIGINT) AS product_id,
  CAST(pk AS BIGINT) AS option_id,
  CASE WHEN dto_present THEN CAST(pk % 1000 AS BIGINT) END AS item_id,
  CAST(NULL AS VARCHAR) AS barcode,
  COALESCE(CASE WHEN dto_present AND pk % 4 != 0
                THEN 'v' || CAST(pk % 3 AS VARCHAR) END, 'vfallback') AS vendor_id,
  COALESCE(CASE WHEN dto_present AND pk % 6 != 0
                THEN 'pn' || CAST(pk % 40 AS VARCHAR) END,
           'vin' || CAST(pk % 40 AS VARCHAR)) AS product_name,
  CASE WHEN dto_present THEN 'on' || CAST(pk % 30 AS VARCHAR) END AS option_name,
  CAST(CASE WHEN dto_present THEN COALESCE(
    CASE WHEN pk % 7 != 0 THEN CAST(pk % 50 + 5000 AS VARCHAR) END,
    CASE WHEN pk % 6 != 0 THEN CAST(pk % 50 + 4000 AS VARCHAR) END,
    CASE WHEN pk % 5 != 0 THEN CAST(pk % 50 + 3000 AS VARCHAR) END,
    CASE WHEN pk % 4 != 0 THEN CAST(pk % 50 + 2000 AS VARCHAR) END,
    CASE WHEN pk % 3 != 0 THEN CAST(pk % 50 + 1000 AS VARCHAR) END
  ) END AS INT) AS display_category_id,
  CASE WHEN dto_present THEN CAST(pk % 200 AS INT) END AS category_id,
  CASE WHEN dto_present THEN 'cat' || CAST(pk % 200 AS VARCHAR) END AS category_name,
  CAST(CASE WHEN hidden THEN 2
            WHEN dto_present THEN (CASE WHEN on_sale THEN 0 ELSE 1 END)
            ELSE NULL END AS TINYINT) AS product_status,
  CAST(NULL AS INT) AS price,
  TRY_CAST(CASE WHEN pk % 31 = 0 THEN 'junk'
                ELSE CAST((pk % 90) * 100 AS VARCHAR) END AS INT) AS sales_price,
  CAST(pk % 70 AS INT) AS order_quantity,
  CAST(pk % 500 AS INT) AS stock_quantity,
  strftime(TRY_CAST(
    '1995-' || lpad(CAST(pk % 12 + 1 AS VARCHAR), 2, '0') || '-'
    || lpad(CAST(pk % 28 + 1 AS VARCHAR), 2, '0') || ' 08:00:00'
    AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS register_dt
FROM raw
"""

# --- naver main + sabangnet product ----------------------------------------
ORACLES["naver_cafe_articles"] = """
SELECT CAST(event_id % 800 AS BIGINT) AS cafe_id,
  CAST(event_id AS BIGINT) AS article_id,
  'https://cafe/' || CAST(event_id % 800 AS VARCHAR) AS cafe_url,
  'cafe ' || CAST(event_id % 800 AS VARCHAR) AS cafe_name,
  'menu' || CAST(event_id % 9 AS VARCHAR) AS menu_name,
  '글제목 ' || CAST(event_id % 537 AS VARCHAR) AS title,
  '#tag' || CAST(event_id % 30 AS VARCHAR) AS tags,
  'user' || CAST(event_id % 70 AS VARCHAR) AS nick_name,
  CAST(LENGTH('글제목 ' || CAST(event_id % 537 AS VARCHAR)) AS INTEGER) AS title_length,
  CAST(event_id % 4000 AS INT) AS content_length,
  CAST(event_id % 15 AS INT) AS image_count,
  CAST(event_id % 90000 AS INT) AS read_count,
  CAST(event_id % 300 AS INT) AS comment_count,
  CAST(event_id % 120 AS INT) AS commenter_count,
  strftime(make_timestamp((1700000000000 + event_id * 1777) // 1000 * 1000000),
           '%Y-%m-%d %H:%M:%S') AS write_dt
FROM events
"""

ORACLES["sabangnet_option_download"] = r"""
WITH raw AS (
  SELECT
    CASE WHEN o_orderkey % 5 = 0 THEN '합계줄-' || CAST(o_orderkey AS VARCHAR)
         ELSE lpad(CAST(o_orderkey % 999999 AS VARCHAR), 6, '0') || '-'
              || lpad(CAST(o_orderkey % 9999 AS VARCHAR), 4, '0') END AS opt_id,
    CASE WHEN o_orderkey % 7 = 0 THEN '없음'
         ELSE '880' || CAST(o_orderkey % 100000 AS VARCHAR) END AS barcode_s,
    '색상' || CAST(o_orderkey % 6 AS VARCHAR) AS opt_group,
    '옵션 ' || CAST(o_orderkey % 25 AS VARCHAR) AS opt_name,
    CASE WHEN o_orderkey % 4 = 0 THEN '100' || CAST(o_orderkey % 900 AS VARCHAR)
         ELSE NULL END AS bundle_ids,
    CAST(o_orderkey % 6 AS VARCHAR) AS status_s,
    CAST(o_orderkey % 4 AS VARCHAR) AS type_s,
    CAST(o_orderkey % 12 + 1 AS INT) AS ea,
    CASE WHEN o_orderkey % 11 = 0 THEN '-'
         ELSE CAST((o_orderkey % 30) * 100 AS VARCHAR) END AS add_amt,
    strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') || ' 09:00:00' AS reg_s
  FROM orders
)
SELECT opt_id AS option_id,
  TRY_CAST(barcode_s AS BIGINT) AS barcode,
  opt_group AS option_group,
  opt_name AS option_name,
  bundle_ids AS bundle_option_ids,
  TRY_CAST(status_s AS TINYINT) AS option_status,
  TRY_CAST(type_s AS TINYINT) AS option_type,
  ea AS option_quantity,
  TRY_CAST(add_amt AS INT) AS option_price,
  strftime(TRY_CAST(reg_s AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS register_dt
FROM raw WHERE regexp_matches(opt_id, '^\d{6}-\d{4}$')
"""

# --- order-count stack -----------------------------------------------------
ORACLES["analytics_order_count"] = """
WITH smt_detail AS (
  SELECT o_orderkey AS order_id,
    o_orderkey * 10 + 1 AS product_order_id,
    'opt' || CAST(o_orderkey % 40 AS VARCHAR) AS option_id,
    CAST(o_orderkey % 5 AS INT) AS channel_seq,
    CASE WHEN o_orderkey % 6 = 0 THEN 7 ELSE 0 END AS delivery_type,
    CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE CAST(o_orderkey % 5 AS INT) END AS order_quantity,
    o_orderdate AS payment_dt
  FROM orders WHERE o_orderkey % 3 = 0
), rel(option_id, bundle_product_ids) AS (VALUES
  ('opt0', '101:2,905'), ('opt3', '102'), ('opt6', '903,104'),
  ('opt7', '901:2'), ('opt9', '105:3'), ('opt12', '101,102,905')
), channel(channel_seq, brand_id) AS (VALUES
  (0, '3001'), (1, '3002'), (2, '3003')
), status_smt AS (
  SELECT o_orderkey * 10 + 1 AS product_order_id,
    MAX(CAST(o_orderkey % 9 AS INT)) AS status_smt
  FROM orders WHERE o_orderkey % 4 = 2 GROUP BY 1
), status_cor AS (
  SELECT o_orderkey AS order_id, MAX(CAST(o_orderkey % 4 AS INT)) AS status_cor
  FROM orders WHERE o_orderkey % 7 = 3 GROUP BY 1
), smt_bundled AS (
  SELECT d.order_id, d.product_order_id,
    COALESCE(r.bundle_product_ids, c.brand_id, '200000') AS bundle_product_ids,
    (CASE WHEN sc.status_cor IS NOT NULL THEN sc.status_cor
          WHEN ss.status_smt = 7 THEN 1
          WHEN ss.status_smt = 5 THEN 2
          WHEN ss.status_smt IN (6, 8) THEN 3
          ELSE 0 END) AS order_status,
    CASE WHEN d.delivery_type = 7 THEN 7 ELSE 0 END AS delivery_type,
    COALESCE(d.order_quantity, 0) AS order_quantity,
    CAST(d.payment_dt AS DATE) AS order_date
  FROM smt_detail d
  LEFT JOIN rel r ON d.option_id = r.option_id
  LEFT JOIN channel c ON d.channel_seq = c.channel_seq
  LEFT JOIN status_smt ss ON d.product_order_id = ss.product_order_id
  LEFT JOIN status_cor sc ON d.order_id = sc.order_id
), smt_ex AS (
  SELECT *, UNNEST(string_split(bundle_product_ids, ',')) AS bundle_product
  FROM smt_bundled
), smt_count AS (
  SELECT order_id, product_order_id, order_date,
    string_split(bundle_product, ':')[1] AS product_id,
    delivery_type,
    CASE WHEN order_status = 0 AND LEFT(bundle_product, 1) = '9' THEN 3
         ELSE order_status END AS order_status,
    SUM(order_quantity) AS order_quantity
  FROM smt_ex GROUP BY 1, 2, 3, 4, 5, 6
), cpg_sales AS (
  SELECT o_orderkey - (o_orderkey % 9) AS order_id,
    'copt' || CAST((o_orderkey - (o_orderkey % 9)) % 30 AS VARCHAR) AS option_id,
    'v' || CAST((o_orderkey - (o_orderkey % 9)) % 4 AS VARCHAR) AS vendor_id,
    CASE WHEN (o_orderkey - (o_orderkey % 9)) % 5 = 0 THEN 0
         ELSE CAST(o_orderkey % 6 AS INT) + 1 END AS settlement_type,
    CAST(o_orderkey % 5 AS INT) - 1 AS order_quantity,
    CAST(o_orderdate AS DATE) AS sales_date
  FROM orders WHERE o_orderkey % 3 = 1
), rocket AS (
  SELECT order_id, option_id, vendor_id,
    MAX(settlement_type) AS order_status,
    SUM(order_quantity) AS order_quantity,
    MAX(sales_date) AS sales_date
  FROM cpg_sales GROUP BY 1, 2, 3
), cpg_rel(option_id, bundle_product_ids) AS (VALUES
  ('copt0', '901:2,103'), ('copt3', '104,105'), ('copt9', '902'), ('copt12', '103')
), vendor(vendor_id, bundle_brand_ids) AS (VALUES
  ('v0', '3001'), ('v1', '3002,3003')
), cpg_bundled AS (
  SELECT r.order_id,
    COALESCE(cr.bundle_product_ids, v.bundle_brand_ids, '200000') AS bundle_product_ids,
    r.order_status, r.order_quantity, r.sales_date AS order_date
  FROM rocket r
  LEFT JOIN cpg_rel cr ON r.option_id = cr.option_id
  LEFT JOIN vendor v ON r.vendor_id = v.vendor_id
  WHERE r.order_quantity != 0
), cpg_ex AS (
  SELECT *, UNNEST(string_split(bundle_product_ids, ',')) AS bundle_product
  FROM cpg_bundled
), cpg_count AS (
  SELECT order_id, order_date,
    string_split(bundle_product, ':')[1] AS product_id,
    CASE WHEN order_status = 0 AND LEFT(bundle_product, 1) = '9' THEN 6
         ELSE LEAST(order_status, 3) END AS order_status,
    SUM(order_quantity) AS order_quantity
  FROM cpg_ex GROUP BY 1, 2, 3, 4
), sbn_base AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS order_id,
    CAST(o_orderkey AS VARCHAR) || '-1' AS product_order_id,
    (['shop0075', 'shop0011', 'shop0012', 'shop0013'])[CAST(o_orderkey % 4 + 1 AS INT)] AS shop_id,
    CAST(o_orderkey % 30 + 100 AS VARCHAR) AS product_id,
    CASE WHEN o_orderkey % 5 = 0 THEN '501-A,502-B'
         WHEN o_orderkey % 5 = 1 THEN '503-C'
         ELSE NULL END AS bundle_option_ids,
    CAST(o_orderkey % 3 AS INT) AS order_status,
    CAST(o_orderkey % 4 AS INT) AS order_quantity,
    CAST(o_orderdate AS DATE) AS order_date
  FROM orders WHERE o_orderkey % 3 = 2
), sbn_pass AS (
  SELECT order_id, product_order_id, shop_id, product_id, order_status,
    order_quantity, order_date
  FROM sbn_base WHERE bundle_option_ids IS NULL
), sbn_ex AS (
  SELECT order_id, product_order_id, shop_id,
    string_split(UNNEST(string_split(bundle_option_ids, ',')), '-')[1] AS product_id,
    order_status, order_quantity, order_date
  FROM sbn_base WHERE bundle_option_ids IS NOT NULL
), sbn_count AS (
  SELECT order_id, product_order_id, order_date, product_id, shop_id,
    order_status, SUM(order_quantity) AS order_quantity
  FROM (SELECT * FROM sbn_pass UNION ALL SELECT * FROM sbn_ex)
  GROUP BY 1, 2, 3, 4, 5, 6
), fact AS (
  SELECT order_id, product_order_id, shop_id, product_id, order_status,
    order_quantity, order_date
  FROM (
    SELECT order_id, product_order_id, shop_id, product_id, order_status,
      order_quantity, order_date
    FROM sbn_count
    UNION ALL
    SELECT CAST(order_id AS VARCHAR), CAST(product_order_id AS VARCHAR),
      CASE WHEN delivery_type = 7 THEN 'shop9000' ELSE 'shop0055' END,
      product_id, order_status, order_quantity, order_date
    FROM smt_count
    UNION ALL
    SELECT CAST(order_id AS VARCHAR), CAST(NULL AS VARCHAR), 'shop9001',
      product_id, order_status, order_quantity, order_date
    FROM cpg_count
  )
  WHERE order_status = 0 AND order_quantity != 0
), item(product_id, item_id, item_seq, team_name, brand_name, category_name1,
        category_name2, category_name3, category_name4, color, product_name,
        unit_name) AS (VALUES
  ('101', 'IT-101', 1, '팀A', '브랜드A', '패션', '아우터', '자켓', '봄', '검정', '자켓 상품', 'EA'),
  ('102', 'IT-102', 2, '팀A', '브랜드B', '식품', '간편식', '라면', '매운맛', NULL, '라면 상품', NULL),
  ('103', 'IT-103', 3, '팀B', '브랜드B', '뷰티', '스킨', '토너', '-', '흰색', '토너 상품', 'ML'),
  ('905', 'IT-905', 4, '팀C', '브랜드C', '사은품', '증정', '샘플', '-', '-', '샘플 상품', NULL),
  ('501', 'IT-501', 5, '팀B', '브랜드D', '리빙', '주방', '컵', '-', '투명', '컵 상품', 'EA')
), shop(shop_id, shop_group, shop_alias) AS (VALUES
  ('shop0055', '스마트스토어', '본점'), ('shop9000', '스마트스토어', '도착보장'),
  ('shop9001', '쿠팡', '로켓그로스'), ('shop0075', '쿠팡', '마켓플레이스'),
  ('shop0011', '오픈마켓', '지마켓')
), status_map(code, label) AS (VALUES
  (0, '결제완료'), (1, '발송대기'), (2, '배송중'),
  (3, '배송완료'), (4, '구매확정'), (5, '취소')
)
SELECT f.order_id, f.product_order_id, f.product_id,
  COALESCE(item.item_id, 'NA-AAAAAA-00') AS item_id,
  COALESCE(item.item_seq, 99999999) AS item_seq,
  COALESCE(item.team_name, '담당팀 없음') AS team_name,
  COALESCE(item.brand_name, '브랜드 없음') AS brand_name,
  COALESCE(item.category_name1, '-') AS category_name1,
  COALESCE(item.category_name2, '-') AS category_name2,
  COALESCE(item.category_name3, '-') AS category_name3,
  COALESCE(item.category_name4, '-') AS category_name4,
  COALESCE(item.color, '-') AS color,
  COALESCE(item.product_name, '매칭 불가 상품') AS product_name,
  COALESCE(
    CASE WHEN item.unit_name IS NULL THEN item.category_name3
         ELSE item.category_name3 || ' (' || item.unit_name || ')' END,
    '-') AS category_unit_name,
  f.shop_id,
  COALESCE(shop.shop_group, '-') AS shop_group,
  COALESCE(shop.shop_alias, '-') AS shop_name,
  COALESCE(st.label, '알 수 없음') AS order_status,
  CAST(f.order_quantity AS BIGINT) AS order_quantity, f.order_date
FROM fact AS f
LEFT JOIN item ON f.product_id = item.product_id
LEFT JOIN shop ON f.shop_id = shop.shop_id
LEFT JOIN status_map AS st ON f.order_status = st.code
"""

ORACLES["order_count_mom"] = """
WITH fact_all AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS order_id,
    'p' || CAST(o_orderkey % 25 AS VARCHAR) AS product_id,
    (['shop0055', 'shop9000', 'shop9001'])[CAST(o_orderkey % 3 + 1 AS INT)] AS shop_id,
    '브랜드' || CAST(o_orderkey % 4 AS VARCHAR) AS brand_name,
    CAST(o_orderkey % 4 + 1 AS INT) AS order_quantity,
    CAST(o_orderdate AS DATE) AS order_date
  FROM orders
), ds AS (
  SELECT *,
    MIN(order_date) OVER () AS order_start_date,
    MAX(order_date) OVER () AS order_end_date,
    DATE '1996-04-01' AS order_ym
  FROM fact_all
  WHERE order_date BETWEEN DATE '1996-04-05' AND DATE '1996-04-20'
), lb AS (
  SELECT *,
    MIN(order_date) OVER (PARTITION BY date_trunc('month', order_date)) AS order_start_date,
    MAX(order_date) OVER (PARTITION BY date_trunc('month', order_date)) AS order_end_date,
    CAST(date_trunc('month', order_date) AS DATE) AS order_ym
  FROM fact_all
  WHERE order_date BETWEEN DATE '1996-02-01' AND DATE '1996-03-31'
), u AS (
  SELECT order_id, product_id, shop_id, brand_name, order_quantity,
    order_ym, order_start_date, order_end_date
  FROM (SELECT * FROM ds UNION ALL SELECT * FROM lb)
), dow_map(dayofweek, name_ko) AS (VALUES
  (1, '(일)'), (2, '(월)'), (3, '(화)'), (4, '(수)'),
  (5, '(목)'), (6, '(금)'), (7, '(토)')
)
SELECT f.order_id, f.product_id, f.shop_id, f.brand_name, f.order_quantity,
  f.order_ym, f.order_start_date, f.order_end_date,
  CONCAT(
    '[ ', strftime(f.order_end_date, '%y'), '년 ',
    strftime(f.order_end_date, '%m'), '월 ]', chr(10),
    CASE WHEN f.order_start_date != f.order_end_date
      THEN CONCAT(strftime(f.order_start_date, '%y/%m/%d'), sd.name_ko,
                  chr(10), '~ ')
      ELSE chr(10) END,
    strftime(f.order_end_date, '%y/%m/%d'), ed.name_ko) AS order_date_range
FROM u AS f
LEFT JOIN dow_map AS sd ON dayofweek(f.order_start_date) + 1 = sd.dayofweek
LEFT JOIN dow_map AS ed ON dayofweek(f.order_end_date) + 1 = ed.dayofweek
"""

ORACLES["core_sales_daily"] = """
WITH base AS (
  SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS d,
    CAST(o_totalprice AS DECIMAL(18,2)) AS tp
  FROM orders
), sales_proj AS (
  SELECT k, d,
    CASE WHEN k % 30 = 0 THEN '200000'
         ELSE 'P' || CAST(k % 20 AS VARCHAR) END AS product_id,
    CAST(k % 4 AS INT) AS order_status,
    k % 5 AS sku_quantity,
    CAST(FLOOR(tp) AS BIGINT) AS payment_amount,
    CAST(FLOOR(tp * CAST('0.9' AS DECIMAL(2,1))) AS BIGINT) AS supply_amount,
    CAST(FLOOR(tp * CAST('0.6' AS DECIMAL(2,1))) AS BIGINT) AS supply_cost,
    (k % 7) * 100 AS delivery_fee
  FROM base
), smt AS (
  SELECT product_id,
    CASE WHEN k % 6 = 0 THEN 'shop9000' ELSE 'shop0055' END AS shop_id,
    order_status, sku_quantity, payment_amount, supply_amount, supply_cost,
    delivery_fee, d AS order_date
  FROM sales_proj WHERE k % 3 = 0
), sbn AS (
  SELECT product_id,
    (['shop0075', 'shop0011', 'shop0012'])[CAST((k % 9) // 3 + 1 AS INT)] AS shop_id,
    order_status, sku_quantity, payment_amount, supply_amount, supply_cost,
    delivery_fee, d AS order_date
  FROM sales_proj WHERE k % 3 = 1
), cpg AS (
  SELECT product_id, 'shop9001' AS shop_id,
    order_status, sku_quantity, payment_amount, supply_amount, supply_cost,
    delivery_fee, d AS order_date
  FROM sales_proj WHERE k % 3 = 2
), extra_sales AS (
  SELECT
    CASE WHEN k % 30 = 0 THEN '200000'
         ELSE 'P' || CAST(k % 20 AS VARCHAR) END AS product_id,
    'shop0100' AS shop_id, 0 AS order_status,
    CAST(FLOOR(tp * CAST('0.5' AS DECIMAL(2,1))) AS BIGINT) AS payment_amount,
    CAST(FLOOR(tp * CAST('0.4' AS DECIMAL(2,1))) AS BIGINT) AS supply_amount,
    d AS order_date
  FROM base WHERE k % 40 = 21
), pm AS (
  SELECT 'P' || CAST(i AS VARCHAR) AS product_id,
    'Brand' || CAST(i % 3 AS VARCHAR) AS brand_name
  FROM range(15) t(i)
), ads_proj AS (
  SELECT k, d,
    CASE WHEN k % 25 = 0 THEN '200000'
         ELSE 'P' || CAST(k % 20 AS VARCHAR) END AS product_id
  FROM base
), sa_insight AS (
  SELECT order_date, product_id, shop_id, SUM(ad_cost) AS ad_cost FROM (
    SELECT product_id, 'shop0055' AS shop_id, (k % 9 + 1) * 10 AS ad_cost, d AS order_date
    FROM ads_proj WHERE k % 5 = 0
  ) GROUP BY 1, 2, 3
), sa_contract AS (
  SELECT order_date, product_id, shop_id, SUM(ad_cost) AS ad_cost FROM (
    SELECT product_id, 'shop0055' AS shop_id, (k % 5 + 1) * 7 AS ad_cost, d AS order_date
    FROM ads_proj WHERE k % 11 = 0
  ) GROUP BY 1, 2, 3
), cpg_ads AS (
  SELECT order_date, product_id, shop_id, SUM(ad_cost) AS ad_cost FROM (
    SELECT product_id, 'shop9001' AS shop_id, (k % 6 + 1) * 5 AS ad_cost, d AS order_date
    FROM ads_proj WHERE k % 7 = 0
  ) GROUP BY 1, 2, 3
), google AS (
  SELECT order_date, product_id, shop_id, SUM(ad_cost) AS ad_cost FROM (
    SELECT product_id, 'adop0001' AS shop_id, (k % 4 + 1) * 3 AS ad_cost, d AS order_date
    FROM ads_proj WHERE k % 13 = 0
  ) GROUP BY 1, 2, 3
), meta AS (
  SELECT order_date, product_id, shop_id, SUM(ad_cost) AS ad_cost FROM (
    SELECT product_id, 'adop0002' AS shop_id, (k % 3 + 1) * 2 AS ad_cost, d AS order_date
    FROM ads_proj WHERE k % 17 = 0
  ) GROUP BY 1, 2, 3
), dable AS (
  SELECT order_date, product_id, shop_id, SUM(ad_cost) AS ad_cost FROM (
    SELECT product_id, 'adop0009' AS shop_id, (k % 5 + 1) * 4 AS ad_cost, d AS order_date
    FROM ads_proj WHERE k % 19 = 0
  ) GROUP BY 1, 2, 3
), extra_ads AS (
  SELECT product_id, 'adop0008' AS shop_id, (k % 7 + 1) * 6 AS ad_cost, d AS order_date
  FROM ads_proj WHERE k % 23 = 0
), smt_prd AS (
  SELECT order_date, product_id, shop_id FROM (
    SELECT order_date, product_id, shop_id, SUM(payment_amount) AS pay
    FROM smt GROUP BY 1, 2, 3
  ) QUALIFY ROW_NUMBER() OVER (PARTITION BY order_date, product_id
                               ORDER BY pay DESC, shop_id ASC) = 1
), smt_brd AS (
  SELECT order_date, brand_name, shop_id FROM (
    SELECT s.order_date, p.brand_name, s.shop_id, SUM(s.payment_amount) AS pay
    FROM smt s INNER JOIN pm p ON NULLIF(s.product_id, '200000') = p.product_id
    GROUP BY 1, 2, 3
  ) QUALIFY ROW_NUMBER() OVER (PARTITION BY order_date, brand_name
                               ORDER BY pay DESC, shop_id ASC) = 1
), cpg_pool AS (
  SELECT * FROM cpg UNION ALL SELECT * FROM sbn WHERE shop_id = 'shop0075'
), cpg_prd AS (
  SELECT order_date, product_id, shop_id FROM (
    SELECT order_date, product_id, shop_id, SUM(payment_amount) AS pay
    FROM cpg_pool GROUP BY 1, 2, 3
  ) QUALIFY ROW_NUMBER() OVER (PARTITION BY order_date, product_id
                               ORDER BY pay DESC, shop_id DESC) = 1
), cpg_brd AS (
  SELECT order_date, brand_name, shop_id FROM (
    SELECT s.order_date, p.brand_name, s.shop_id, SUM(s.payment_amount) AS pay
    FROM cpg_pool s INNER JOIN pm p ON NULLIF(s.product_id, '200000') = p.product_id
    GROUP BY 1, 2, 3
  ) QUALIFY ROW_NUMBER() OVER (PARTITION BY order_date, brand_name
                               ORDER BY pay DESC, shop_id DESC) = 1
), sa_mapped AS (
  SELECT ads.product_id,
    COALESCE(prd.shop_id, brd.shop_id, ads.shop_id) AS shop_id,
    ads.ad_cost, ads.order_date
  FROM (SELECT * FROM sa_insight UNION ALL SELECT * FROM sa_contract) ads
  LEFT JOIN pm itm ON ads.product_id = itm.product_id
  LEFT JOIN smt_prd prd
    ON ads.order_date = prd.order_date AND ads.product_id = prd.product_id
  LEFT JOIN smt_brd brd
    ON ads.order_date = brd.order_date AND itm.brand_name = brd.brand_name
), cpg_mapped AS (
  SELECT ads.product_id,
    COALESCE(prd.shop_id, brd.shop_id, ads.shop_id) AS shop_id,
    ads.ad_cost, ads.order_date
  FROM cpg_ads ads
  LEFT JOIN pm itm ON ads.product_id = itm.product_id
  LEFT JOIN cpg_prd prd
    ON ads.order_date = prd.order_date AND ads.product_id = prd.product_id
  LEFT JOIN cpg_brd brd
    ON ads.order_date = brd.order_date AND itm.brand_name = brd.brand_name
), expense AS (
  SELECT '200000' AS product_id, 'adop0005' AS shop_id,
    SUM((k % 11 + 1) * 9) AS extra_cost, d AS order_date
  FROM base WHERE k % 29 = 0 GROUP BY d
), opex AS (
  SELECT 'P' || CAST(k % 4 AS VARCHAR) AS product_id,
    CASE WHEN k % 2 = 1 THEN 'adop0004' ELSE 'adop0003' END AS shop_id,
    SUM((k % 13 + 1) * 8) AS extra_cost, d AS order_date
  FROM base WHERE k % 31 = 0 GROUP BY 1, 2, 4
), insight AS (
  SELECT product_id, shop_id, CAST(8 AS INT) AS order_status,
    NULL::BIGINT AS sku_quantity, NULL::BIGINT AS payment_amount,
    NULL::BIGINT AS supply_amount, NULL::BIGINT AS supply_cost,
    NULL::BIGINT AS delivery_fee, ad_cost, NULL::BIGINT AS extra_cost, order_date
  FROM (
    SELECT * FROM sa_mapped UNION ALL SELECT * FROM cpg_mapped
    UNION ALL SELECT product_id, shop_id, ad_cost, order_date FROM google
    UNION ALL SELECT product_id, shop_id, ad_cost, order_date FROM meta
    UNION ALL SELECT product_id, shop_id, ad_cost, order_date FROM dable
    UNION ALL SELECT product_id, shop_id, ad_cost, order_date FROM extra_ads
  )
), cost_frame AS (
  SELECT product_id, shop_id, CAST(9 AS INT) AS order_status,
    NULL::BIGINT AS sku_quantity, NULL::BIGINT AS payment_amount,
    NULL::BIGINT AS supply_amount, NULL::BIGINT AS supply_cost,
    NULL::BIGINT AS delivery_fee, NULL::BIGINT AS ad_cost, extra_cost, order_date
  FROM (SELECT * FROM expense UNION ALL SELECT * FROM opex)
), all_frames AS (
  SELECT product_id, shop_id, order_status, sku_quantity, payment_amount,
    supply_amount, supply_cost, delivery_fee,
    NULL::BIGINT AS ad_cost, NULL::BIGINT AS extra_cost, order_date
  FROM sbn
  UNION ALL
  SELECT product_id, shop_id, order_status, sku_quantity, payment_amount,
    supply_amount, supply_cost, delivery_fee,
    NULL::BIGINT, NULL::BIGINT, order_date
  FROM smt
  UNION ALL
  SELECT product_id, shop_id, order_status, sku_quantity, payment_amount,
    supply_amount, supply_cost, delivery_fee,
    NULL::BIGINT, NULL::BIGINT, order_date
  FROM cpg
  UNION ALL
  SELECT product_id, shop_id, order_status, NULL::BIGINT, payment_amount,
    supply_amount, NULL::BIGINT, NULL::BIGINT,
    NULL::BIGINT, NULL::BIGINT, order_date
  FROM extra_sales
  UNION ALL
  SELECT * FROM insight
  UNION ALL
  SELECT * FROM cost_frame
)
SELECT order_date, product_id, shop_id, order_status,
  SUM(sku_quantity) AS sku_quantity,
  SUM(payment_amount) AS payment_amount,
  SUM(supply_amount) AS supply_amount,
  SUM(supply_cost) AS supply_cost,
  SUM(delivery_fee) AS delivery_fee,
  SUM(ad_cost) AS ad_cost,
  SUM(extra_cost) AS extra_cost
FROM all_frames
GROUP BY 1, 2, 3, 4
"""

# --- round-3: profit grain variants ----------------------------------------
_PROFIT_PM_CTE = """
pm AS (
  SELECT 'p' || CAST(i AS VARCHAR) AS product_id,
    'IT-' || lpad(CAST(i AS VARCHAR), 6, '0') AS item_id,
    CAST(i * 10 AS INT) AS item_seq,
    'team' || CAST(i % 3 AS VARCHAR) AS team_name,
    'brand' || CAST(i % 5 AS VARCHAR) AS brand_name,
    'cat' || CAST(i % 2 AS VARCHAR) AS category_name1,
    'sub' || CAST(i % 3 AS VARCHAR) AS category_name2,
    'leaf' || CAST(i % 4 AS VARCHAR) AS category_name3,
    'g4-' || CAST(i % 5 AS VARCHAR) AS category_name4,
    'color' || CAST(i % 4 AS VARCHAR) AS color,
    'product ' || CAST(i AS VARCHAR) AS product_name,
    CASE WHEN i % 3 = 0 THEN NULL ELSE 'ea' || CAST(i % 3 AS VARCHAR) END AS unit_name,
    CAST(i % 4 + 1 AS INT) AS unit_scale
  FROM range(35) AS t(i)
)
"""

_PROFIT_SHOP_STATUS_CTE = """
shop_dim(shop_id, shop_group, shop_alias) AS (VALUES
  ('shop0055', 'smartstore', 'SS-A'),
  ('shop0075', 'coupang', 'CP-A'),
  ('adop0001', 'adops', 'Google'),
  ('adop0002', 'adops', 'Meta'),
  ('adop9000', 'extra', 'Manual')
), status_map(code, label) AS (VALUES
  (0, '결제완료'), (1, '발송대기'), (2, '배송중'),
  (3, '배송완료'), (4, '구매확정'), (5, '취소')
)
"""

_ITEM_ATTRS_SQL = """
  COALESCE(item.item_id, 'NA-AAAAAA-00') AS item_id,
  COALESCE(item.item_seq, 99999999) AS item_seq,
  COALESCE(item.team_name, '담당팀 없음') AS team_name,
  COALESCE(item.brand_name, '브랜드 없음') AS brand_name,
  COALESCE(item.category_name1, '-') AS category_name1,
  COALESCE(item.category_name2, '-') AS category_name2,
  COALESCE(item.category_name3, '-') AS category_name3,
  COALESCE(item.category_name4, '-') AS category_name4,
  COALESCE(item.color, '-') AS color,
  COALESCE(item.product_name, '매칭 불가 상품') AS product_name,
  COALESCE(
    CASE WHEN item.unit_name IS NULL THEN item.category_name3
         ELSE item.category_name3 || ' (' || item.unit_name || ')' END,
    '-') AS category_unit_name
"""

_PROFIT_SHOP_STATUS_SELECT = """
  f.shop_id,
  COALESCE(shop.shop_group, '-') AS shop_group,
  COALESCE(shop.shop_alias, '-') AS shop_name,
  COALESCE(st.label, '알 수 없음') AS order_status,
  CAST(COALESCE(f.sku_quantity * COALESCE(item.unit_scale, 1), 0) AS BIGINT) AS unit_quantity
"""

ORACLES["profit_daily"] = f"""
WITH {_PROFIT_FACT_CTE},
pb_all AS (
  SELECT * FROM pb WHERE order_date BETWEEN DATE '1995-06-01' AND DATE '1995-06-30'
  UNION ALL
  SELECT * FROM extra WHERE order_date BETWEEN DATE '1995-06-01' AND DATE '1995-06-30'
), {_PROFIT_PM_CTE}, {_PROFIT_SHOP_STATUS_CTE}
SELECT f.product_id,
  {_ITEM_ATTRS_SQL},
  {_PROFIT_SHOP_STATUS_SELECT},
  f.sku_quantity, f.payment_amount, f.supply_amount, f.supply_cost,
  f.delivery_fee, f.margin_amount, f.ad_cost, f.extra_cost, f.profit,
  f.order_date
FROM pb_all AS f
LEFT JOIN pm AS item ON f.product_id = item.product_id
LEFT JOIN shop_dim AS shop ON f.shop_id = shop.shop_id
LEFT JOIN status_map AS st ON f.order_status = st.code
"""

ORACLES["profit_monthly"] = f"""
WITH {_PROFIT_FACT_CTE},
pb_all AS (
  SELECT * FROM pb WHERE order_date BETWEEN DATE '1995-05-01' AND DATE '1995-06-30'
  UNION ALL
  SELECT * FROM extra WHERE order_date BETWEEN DATE '1995-05-01' AND DATE '1995-06-30'
), monthly AS (
  SELECT CAST(date_trunc('month', order_date) AS DATE) AS order_ym,
    product_id, shop_id, order_status,
    CAST(SUM(sku_quantity) AS BIGINT) AS sku_quantity,
    CAST(SUM(payment_amount) AS BIGINT) AS payment_amount,
    CAST(SUM(supply_amount) AS BIGINT) AS supply_amount,
    CAST(SUM(supply_cost) AS BIGINT) AS supply_cost,
    CAST(SUM(delivery_fee) AS BIGINT) AS delivery_fee,
    CAST(SUM(margin_amount) AS BIGINT) AS margin_amount,
    CAST(SUM(ad_cost) AS BIGINT) AS ad_cost,
    CAST(SUM(extra_cost) AS BIGINT) AS extra_cost,
    CAST(SUM(profit) AS BIGINT) AS profit,
    MIN(order_date) AS order_start_date,
    MAX(order_date) AS order_end_date
  FROM pb_all GROUP BY 1, 2, 3, 4
), {_PROFIT_PM_CTE}, {_PROFIT_SHOP_STATUS_CTE}
SELECT f.product_id,
  {_ITEM_ATTRS_SQL},
  {_PROFIT_SHOP_STATUS_SELECT},
  f.sku_quantity, f.payment_amount, f.supply_amount, f.supply_cost,
  f.delivery_fee, f.margin_amount, f.ad_cost, f.extra_cost, f.profit,
  f.order_start_date, f.order_end_date, f.order_ym
FROM monthly AS f
LEFT JOIN pm AS item ON f.product_id = item.product_id
LEFT JOIN shop_dim AS shop ON f.shop_id = shop.shop_id
LEFT JOIN status_map AS st ON f.order_status = st.code
"""

# --- stock batch family --------------------------------------------------
# Shared input synthesis (queries._stock_ecount_product / _stock_qty_inputs
# re-expressed in SQL) + core__stock_qty_batch semantics: the DISTINCT ON
# sku relation, three channel feeds, UNION ALL, per-channel conditional
# sums (dbt core__stock_qty_batch.sql:18-104).

_STOCK_ECOUNT_CTE = """
ecount_product AS (
  SELECT 'pc' || CAST(p_partkey AS VARCHAR) AS product_code,
    CASE WHEN p_partkey % 17 = 0 THEN ''
         WHEN p_partkey % 13 = 0 THEN NULL
         ELSE 'p' || CAST(p_partkey % 40 AS VARCHAR)
              || '-' || CAST(p_partkey % 4 AS VARCHAR) END AS option_id,
    CASE WHEN p_partkey % 11 = 0 THEN 'baddate'
         ELSE '1997' || lpad(CAST(p_partkey % 12 + 1 AS VARCHAR), 2, '0')
              || lpad(CAST(p_partkey % 28 + 1 AS VARCHAR), 2, '0') END AS expiration_date,
    CASE WHEN p_partkey % 19 = 0 THEN CAST(NULL AS TIMESTAMP)
         ELSE CAST('1996-01-01 ' || lpad(CAST(p_partkey % 24 AS VARCHAR), 2, '0')
              || ':00:00' AS TIMESTAMP) END AS updated_at,
    CAST((p_partkey % 90) * 100 AS BIGINT) AS org_price
  FROM part
)
"""

_STOCK_FEEDS_CTE = """
feed AS (
  SELECT o_orderkey AS ok, CAST(o_orderdate AS DATE) AS ymd,
    CAST((o_orderkey % 2) * 10 + 10 AS INT) AS batch,
    CASE WHEN o_orderkey % 9 = 0 THEN DATE '2999-12-31'
         ELSE make_date(1997, CAST(o_orderkey % 12 + 1 AS INT),
                        CAST(o_orderkey % 28 + 1 AS INT)) END AS expiration_date
  FROM orders
)
"""

_STOCK_REL_CTE = """
rel AS (
  SELECT product_id, expiration_date, product_code FROM (
    SELECT product_id, expiration_date, product_code, option_id,
      ROW_NUMBER() OVER (
        PARTITION BY product_id, expiration_date
        ORDER BY updated_at DESC NULLS LAST, product_code ASC, option_id ASC
      ) AS rn
    FROM (
      SELECT product_code,
        COALESCE(split_part(NULLIF(option_id, ''), '-', 1), '200000') AS product_id,
        NULLIF(option_id, '') AS option_id,
        CASE WHEN regexp_matches(expiration_date, '^[0-9]{8}$')
             THEN CAST(strptime(expiration_date, '%Y%m%d') AS DATE)
             ELSE DATE '2999-12-31' END AS expiration_date,
        updated_at
      FROM ecount_product
      WHERE NULLIF(option_id, '') IS NOT NULL
    )
  ) WHERE rn = 1
)
"""

_STOCK_QTY_BATCH_CTE = f"""
{_STOCK_ECOUNT_CTE.strip().rstrip()},
{_STOCK_FEEDS_CTE.strip()},
{_STOCK_REL_CTE.strip()},
eco_feed AS (
  SELECT ymd, batch, 'pc' || CAST(ok % 2400 AS VARCHAR) AS product_code,
         CAST(ok % 50 AS BIGINT) AS stock_quantity
  FROM feed WHERE ok % 3 = 0 AND ymd BETWEEN DATE '1996-01-01' AND DATE '1996-03-31'
), cj_feed AS (
  SELECT ymd, batch, 'p' || CAST(ok % 44 AS VARCHAR) AS product_id,
         expiration_date, CAST(ok % 30 AS BIGINT) AS stock_quantity
  FROM feed WHERE ok % 3 = 1 AND ymd BETWEEN DATE '1996-01-01' AND DATE '1996-03-31'
), rfm_feed AS (
  SELECT ymd, batch, 'p' || CAST(ok % 44 AS VARCHAR) AS product_id,
         expiration_date, CAST(ok % 20 AS BIGINT) AS stock_quantity
  FROM feed WHERE ok % 3 = 2 AND ymd BETWEEN DATE '1996-01-01' AND DATE '1996-03-31'
), unioned AS (
  SELECT q.ymd, q.batch, COALESCE(c.product_code, '') AS product_code,
         0 AS group_id, q.stock_quantity
  FROM eco_feed q LEFT JOIN (SELECT product_code FROM ecount_product) c
    ON q.product_code = c.product_code
  UNION ALL
  SELECT q.ymd, q.batch, COALESCE(r.product_code, '') AS product_code,
         1 AS group_id, q.stock_quantity
  FROM cj_feed q LEFT JOIN rel r
    ON q.product_id = r.product_id AND q.expiration_date = r.expiration_date
  UNION ALL
  SELECT q.ymd, q.batch, COALESCE(r.product_code, '') AS product_code,
         2 AS group_id, q.stock_quantity
  FROM rfm_feed q LEFT JOIN rel r
    ON q.product_id = r.product_id AND q.expiration_date = r.expiration_date
), qty_batch AS (
  SELECT ymd, batch, product_code,
    CAST(SUM(stock_quantity) AS BIGINT) AS stock_qty,
    CAST(SUM(CASE WHEN group_id = 0 THEN stock_quantity END) AS BIGINT) AS ecount__stock_qty,
    CAST(SUM(CASE WHEN group_id = 1 THEN stock_quantity END) AS BIGINT) AS cj_eflexs__stock_qty,
    CAST(SUM(CASE WHEN group_id = 2 THEN stock_quantity END) AS BIGINT) AS coupang_rfm__stock_qty
  FROM unioned GROUP BY 1, 2, 3
)
"""

ORACLES["stock_qty_batch"] = f"""
WITH {_STOCK_QTY_BATCH_CTE}
SELECT * FROM qty_batch
"""

ORACLES["stock_time_batch"] = """
WITH feed AS (
  SELECT o_orderkey AS ok, o_orderkey % 3 AS grp,
    CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)
      + to_seconds(CAST(o_orderkey % 86400 AS BIGINT)) AS updated_at
  FROM orders
), ranged AS (
  SELECT CAST(updated_at AS DATE) AS ymd,
    CASE WHEN strftime(updated_at, '%H:%M:%S') < '17:00:00' THEN 10 ELSE 20 END AS batch,
    grp AS group_id, updated_at
  FROM feed
  WHERE updated_at >= TIMESTAMP '1996-01-01 00:00:00'
    AND updated_at < TIMESTAMP '1996-04-01 00:00:00'
)
SELECT ymd, batch,
  strftime(MAX(updated_at), '%Y-%m-%d %H:%M:%S') AS max_updated_at,
  strftime(MAX(CASE WHEN group_id = 0 THEN updated_at END), '%Y-%m-%d %H:%M:%S') AS ecount__max_updated_at,
  strftime(MAX(CASE WHEN group_id = 1 THEN updated_at END), '%Y-%m-%d %H:%M:%S') AS cj_eflexs__max_updated_at,
  strftime(MAX(CASE WHEN group_id = 2 THEN updated_at END), '%Y-%m-%d %H:%M:%S') AS coupang_rfm__max_updated_at
FROM ranged GROUP BY 1, 2
"""

# analytics__stock_cost_mom: month-end batch via two windows over the
# aggregated batch table, zero-cost sales fallbacks, item + DOW label
# enrichment (dbt analytics__stock_cost_mom.sql:26-147). Params:
# ds 1996-03-01..1996-03-31, interval 2 -> lookback floor 1996-01-01,
# prev month end 1996-02-29.
ORACLES["stock_cost_mom"] = f"""
WITH {_STOCK_QTY_BATCH_CTE},
prd AS (
  SELECT product_code, split_part(option_id, '-', 1) AS product_id, org_price
  FROM ecount_product WHERE NULLIF(option_id, '') IS NOT NULL
), costed AS (
  SELECT COALESCE(p.product_id, '200000') AS product_id,
    COALESCE(p.org_price, 0) * COALESCE(q.stock_qty, 0) AS stock_cost,
    q.ymd AS stock_ymd, q.batch AS stock_batch,
    MAX(q.ymd) OVER (PARTITION BY date_trunc('month', q.ymd)) AS max_month_ymd,
    MAX(q.batch) OVER (PARTITION BY q.ymd) AS max_day_batch
  FROM qty_batch q LEFT JOIN prd p ON q.product_code = p.product_code
  WHERE q.ymd BETWEEN DATE '1996-01-01' AND DATE '1996-03-31'
), monthly AS (
  SELECT stock_ymd, product_id, CAST(SUM(stock_cost) AS BIGINT) AS stock_cost,
    CAST(date_trunc('month', stock_ymd) AS DATE) AS order_ym
  FROM costed
  WHERE stock_ymd = max_month_ymd AND stock_batch = max_day_batch
  GROUP BY 1, 2
), sales_daily AS (
  SELECT 'p' || CAST(o_orderkey % 48 AS VARCHAR) AS product_id,
    CAST(o_orderdate AS DATE) AS order_date
  FROM orders
), sales AS (
  SELECT DISTINCT product_id, DATE '1996-03-31' AS stock_ymd,
    DATE '1996-03-01' AS order_ym
  FROM sales_daily
  WHERE order_date BETWEEN DATE '1996-03-01' AND DATE '1996-03-31'
  UNION
  SELECT DISTINCT product_id, last_day(order_date) AS stock_ymd,
    CAST(date_trunc('month', order_date) AS DATE) AS order_ym
  FROM sales_daily
  WHERE order_date BETWEEN DATE '1996-01-01' AND DATE '1996-02-29'
), month_dates AS (
  SELECT DISTINCT order_ym, stock_ymd FROM monthly
), fallback AS (
  SELECT s.product_id, CAST(0 AS BIGINT) AS stock_cost,
    COALESCE(md.stock_ymd, s.stock_ymd) AS stock_ymd, s.order_ym
  FROM sales s
  LEFT JOIN month_dates md ON s.order_ym = md.order_ym
  WHERE NOT EXISTS (
    SELECT 1 FROM monthly m
    WHERE m.product_id = s.product_id AND m.order_ym = s.order_ym
  )
), fact AS (
  SELECT product_id, stock_cost, stock_ymd, order_ym FROM monthly
  UNION ALL
  SELECT product_id, stock_cost, stock_ymd, order_ym FROM fallback
), {_PROFIT_PM_CTE.strip()},
dow(dn, name_ko) AS (VALUES
  (1, '(일)'), (2, '(월)'), (3, '(화)'), (4, '(수)'),
  (5, '(목)'), (6, '(금)'), (7, '(토)')
)
SELECT f.product_id,
  {_ITEM_ATTRS_SQL},
  f.stock_cost, f.stock_ymd, f.order_ym,
  '[ ' || strftime(f.stock_ymd, '%y/%m/%d') || d.name_ko || ' ]' AS stock_date_label
FROM fact f
LEFT JOIN pm AS item ON f.product_id = item.product_id
LEFT JOIN dow d ON dayofweek(f.stock_ymd) + 1 = d.dn
"""

# --- relation views ------------------------------------------------------
# relation__smt_prd_to_ranged_sbn_ids: effective-dating a flat bundle
# relation around the 100088 pivot (dbt relation__smt_prd_to_ranged_
# sbn_ids.sql:10-77); input synthesis mirrors q_smt_prd_ranged_relation.
ORACLES["smt_prd_ranged_relation"] = """
WITH rel AS (
  SELECT 'sp' || CAST(ok AS VARCHAR) AS product_id,
    CASE WHEN ok % 7 = 0 THEN f1 ELSE f1 || ',' || f2 END AS bundle_product_ids
  FROM (
    SELECT o_orderkey AS ok,
      CAST(100080 + o_orderkey % 10 AS VARCHAR) AS f1,
      CAST(100080 + (o_orderkey % 30) // 3 AS VARCHAR) AS f2
    FROM orders WHERE o_orderkey % 5 = 0
  )
), flagged AS (
  SELECT *, list_contains(string_split(bundle_product_ids, ','), '100088') AS has_pivot
  FROM rel
)
SELECT product_id, bundle_product_ids,
  DATE '2000-01-01' AS start_date, DATE '2999-12-31' AS end_date
FROM flagged WHERE NOT has_pivot
UNION ALL
SELECT product_id, bundle_product_ids, DATE '2000-01-01', DATE '2026-06-09'
FROM flagged WHERE has_pivot
UNION ALL
SELECT product_id,
  CASE WHEN bundle_product_ids = '100088'
       THEN '100081,100082,100083,100084,100085,100086,100087'
       ELSE NULLIF(array_to_string(
              list_filter(string_split(bundle_product_ids, ','), x -> x <> '100088'),
              ','), '')
  END,
  DATE '2026-06-10', DATE '2999-12-31'
FROM flagged WHERE has_pivot
"""

# relation__smt_opt_to_sbn_ids: type-0/1/2 auto-matching, the '$수량$'
# placeholder regex compile, '-NNNN' bundle stripping, fewest-items-
# first pick (dbt relation__smt_opt_to_sbn_ids.sql:10-130); inputs
# mirror q_smt_opt_relation.
ORACLES["smt_opt_relation"] = r"""
WITH feed AS (SELECT o_orderkey AS ok FROM orders),
existing AS (
  SELECT 'so' || CAST(ok AS VARCHAR) AS option_id,
         'B' || CAST(ok % 3 AS VARCHAR) AS bundle_product_ids
  FROM feed WHERE ok % 11 = 0
), opts AS (
  SELECT 'so' || CAST(ok AS VARCHAR) AS option_id,
    ok % 30 AS product_id,
    CAST(ok % 3 AS INT) AS product_type,
    CASE WHEN ok % 3 = 2
         THEN '[g' || CAST(ok % 4 AS VARCHAR) || '] ad-name-' || CAST(ok % 6 AS VARCHAR)
         ELSE 'name' || CAST(ok % 6 AS VARCHAR) END AS product_name,
    CASE WHEN ok % 3 = 2 AND ok % 5 = 0
         THEN 'group ' || CAST(ok % 4 AS VARCHAR) || ' : ad-name-' || CAST(ok % 6 AS VARCHAR)
         WHEN ok % 4 = 0
         THEN '색상 (레드) / ' || CAST(ok % 5 + 1 AS VARCHAR) || '개'
         ELSE '옵션' || CAST(ok % 8 AS VARCHAR) || ' (단품)' END AS option_name
  FROM feed
), new_opts AS (
  SELECT o.* FROM opts o
  WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.option_id = o.option_id)
), mapping_id AS (
  SELECT 'shop0055' AS shop_id, CAST(i AS VARCHAR) AS product_id_shop,
         'P' || CAST(i AS VARCHAR) AS product_id
  FROM range(0, 30, 2) t(i)
  UNION ALL SELECT 'shop0099', '1', 'X1'
), mapping_name AS (
  SELECT 'shop0055' AS shop_id, CAST(i AS VARCHAR) AS product_id_shop,
         '색상 (레드) / $수량$' AS sku_name,
         'N' || CAST(i AS VARCHAR) || '-0001' AS option_id
  FROM range(30) t(i) WHERE i % 3 = 1
  UNION ALL
  SELECT 'shop0055', CAST(i AS VARCHAR),
         '옵션' || CAST(i % 8 AS VARCHAR) || ' (단품)',
         'N' || CAST(i AS VARCHAR) || '-0002'
  FROM range(30) t(i) WHERE i % 3 = 1
), add_product AS (
  SELECT 'g' || CAST(g AS VARCHAR) AS group_id,
    'group ' || CAST(g AS VARCHAR) AS group_name,
    'ad-name-' || CAST(n AS VARCHAR) AS option_name,
    'A' || CAST(g AS VARCHAR) || CAST(n AS VARCHAR) || '-0003' AS option_id
  FROM range(4) tg(g) CROSS JOIN range(6) tn(n)
), sbn_options AS (
  SELECT 'P' || CAST(i AS VARCHAR) || '-0001' AS option_id,
    'P' || CAST(i AS VARCHAR) || '-0001:1,Q' || CAST(i AS VARCHAR) || '-0002:2' AS bundle_option_ids
  FROM range(0, 30, 2) t(i)
  UNION ALL
  SELECT 'N' || CAST(i AS VARCHAR) || '-0001', NULL
  FROM range(30) t(i) WHERE i % 3 = 1 AND i % 2 = 0
), type0 AS (
  SELECT o.option_id AS option_id_smt, m.product_id || '-0001' AS option_id_sbn
  FROM new_opts o JOIN mapping_id m
    ON m.shop_id = 'shop0055' AND CAST(o.product_id AS VARCHAR) = m.product_id_shop
  WHERE o.product_type = 0
), m_name AS (
  SELECT *, replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(replace(sku_name, '$수량$', '__수량__'),
            '([\*\+\?\$\^\.\[\]\{\}\(\)\|])', '\\\1', 'g'),
          '^__수량__', '[^/]*'),
        '__수량__$', '[^/]*'),
      '__수량__', '[^/]* / [^/]*') AS sku_pattern
  FROM mapping_name WHERE shop_id = 'shop0055'
), type1 AS (
  SELECT o.option_id AS option_id_smt, m.option_id AS option_id_sbn
  FROM new_opts o JOIN m_name m
    ON CAST(o.product_id AS VARCHAR) = m.product_id_shop
   AND CASE WHEN contains(m.sku_name, '$수량$')
            THEN regexp_matches(o.option_name, m.sku_pattern)
            ELSE o.option_name = m.sku_name END
  WHERE o.product_type = 1
), t2 AS (
  SELECT option_id AS option_id_smt,
    NULLIF(regexp_extract(product_name, '^\[([^\]]+)\]', 1), '') AS opt_group_id,
    trim(regexp_replace(product_name, '^\[[^\]]+\]', '')) AS opt_product_name,
    option_name AS opt_option_name
  FROM new_opts WHERE product_type = 2
), type2 AS (
  SELECT t.option_id_smt, p.option_id AS option_id_sbn
  FROM t2 t JOIN add_product p
    ON (t.opt_group_id = p.group_id AND t.opt_product_name = p.option_name)
    OR (replace(t.opt_option_name, ' ', '')
        = replace(p.group_name, ' ', '') || ':' || replace(p.option_name, ' ', ''))
), matched AS (
  SELECT * FROM type0 UNION ALL SELECT * FROM type1 UNION ALL SELECT * FROM type2
), auto AS (
  SELECT m.option_id_smt, m.option_id_sbn,
    regexp_replace(COALESCE(s.bundle_option_ids, m.option_id_sbn || ':1'),
                   '-[0-9]{4}', '', 'g') AS bundle_product_ids
  FROM matched m LEFT JOIN sbn_options s ON m.option_id_sbn = s.option_id
), best AS (
  SELECT option_id_smt AS option_id, bundle_product_ids FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY option_id_smt
      ORDER BY len(string_split(bundle_product_ids, ',')) ASC, option_id_sbn ASC) AS rn
    FROM auto) WHERE rn = 1
)
SELECT option_id, bundle_product_ids FROM existing
UNION ALL
SELECT option_id, bundle_product_ids FROM best
"""

# --- ad-platform masters -------------------------------------------------
# Label vocabularies are rendered as VALUES CTEs from the same Python
# constants the Spark side looks up as map literals (marts/masters.py,
# ``functions.scalar.lookup``), so the twins can never drift on mapping
# data.
from linkmerce_spark.marts import masters as _m


def _vals3(rows) -> str:
    out = []
    for seq, code, label in rows:
        c = f"'{code}'" if isinstance(code, str) else str(code)
        out.append(f"({seq}, {c}, '{label}')")
    return ", ".join(out)


def _arr(codes) -> str:
    return "[" + ", ".join(f"'{c}'" for c in codes) + "]"


ORACLES["searchad_campaign_master"] = f"""
WITH campaign AS (
  SELECT CAST(o_orderkey % 5 AS INT) AS customer_id,
    'cmp' || CAST(o_orderkey AS VARCHAR) AS campaign_id,
    'campaign ' || CAST(o_orderkey % 20 AS VARCHAR) AS campaign_name,
    CAST(o_orderkey % 15 AS INT) AS campaign_type,
    o_orderkey % 2 = 0 AS is_enabled,
    o_orderkey % 6 = 0 AS is_deleted,
    CAST(o_orderdate AS DATE) AS created_at,
    CASE WHEN o_orderkey % 6 = 0 THEN CAST(o_orderdate AS DATE) + 30 END AS deleted_at
  FROM orders WHERE o_orderkey % 7 = 0
), account(customer_id, account_name, account_type, account_seq) AS (VALUES
  (0, 'acct-a', 'agency', 1), (1, 'acct-b', 'direct', 2),
  (2, 'acct-c', 'agency', 3), (3, 'acct-d', 'direct', NULL)
), ctype(seq, code, label) AS (VALUES {_vals3(_m.SEARCHAD_CAMPAIGN_TYPES)}),
adtype(seq, code, label) AS (VALUES {_vals3(_m.SEARCHAD_CAMPAIGN_AD_TYPES)})
SELECT cmp.customer_id, acc.account_name, acc.account_type,
  cmp.campaign_id, cmp.campaign_name,
  ct.label AS campaign_type, at.label AS ad_type,
  cmp.is_enabled, cmp.is_deleted, cmp.created_at, cmp.deleted_at,
  (CASE WHEN cmp.is_deleted THEN 2 ELSE 1 END) * 10000
    + COALESCE(acc.account_seq, 99) * 100 + COALESCE(ct.seq, 99) AS sort_key
FROM campaign cmp
LEFT JOIN account acc ON cmp.customer_id = acc.customer_id
LEFT JOIN ctype ct ON cmp.campaign_type = ct.code
LEFT JOIN adtype at ON cmp.campaign_type = at.code
"""

_META_OBJS = _arr([c for _, c, _ in _m.META_OBJECTIVES[:8]] + ["UNMAPPED_OBJ"])
_META_STS = _arr([c for _, c, _ in _m.META_EFFECTIVE_STATUSES[:6]])

ORACLES["meta_campaign_master"] = f"""
WITH campaign AS (
  SELECT 'act' || CAST(o_orderkey % 4 AS VARCHAR) AS account_id,
    'mc' || CAST(o_orderkey AS VARCHAR) AS campaign_id,
    'meta campaign ' || CAST(o_orderkey % 12 AS VARCHAR) AS campaign_name,
    ({_META_OBJS})[o_orderkey % 9 + 1] AS objective,
    ({_META_STS})[o_orderkey % 6 + 1] AS effective_status,
    CAST(o_orderdate AS DATE) AS created_at
  FROM orders WHERE o_orderkey % 9 = 0
), account(account_id, account_name, account_seq) AS (VALUES
  ('act0', 'meta-a', 1), ('act1', 'meta-b', 2), ('act2', 'meta-c', NULL)
), obj(seq, code, label) AS (VALUES {_vals3(_m.META_OBJECTIVES)}),
st(seq, code, label) AS (VALUES {_vals3(_m.META_EFFECTIVE_STATUSES)})
SELECT cmp.account_id, acc.account_name, cmp.campaign_id, cmp.campaign_name,
  ob.label AS objective, es.label AS effective_status, cmp.created_at,
  (CASE WHEN cmp.effective_status = 'DELETED' THEN 2 ELSE 1 END) * 10000
    + COALESCE(acc.account_seq, 99) * 100 + COALESCE(ob.seq, 99) AS sort_key
FROM campaign cmp
LEFT JOIN account acc ON cmp.account_id = acc.account_id
LEFT JOIN obj ob ON cmp.objective = ob.code
LEFT JOIN st es ON cmp.effective_status = es.code
"""

ORACLES["coupang_campaign_master"] = f"""
WITH campaign AS (
  SELECT 'v' || CAST(o_orderkey % 4 AS VARCHAR) AS vendor_id,
    CAST(o_orderkey % 2 AS INT) AS vendor_type,
    'cc' || CAST(o_orderkey AS VARCHAR) AS campaign_id,
    'coupang campaign ' || CAST(o_orderkey % 10 AS VARCHAR) AS campaign_name,
    CASE WHEN o_orderkey % 5 = 0 THEN 'BR' ELSE 'PA' END AS campaign_type,
    CAST(o_orderkey % 4 AS INT) AS goal_type,
    o_orderkey % 2 = 0 AS is_active,
    o_orderkey % 10 = 0 AS is_deleted,
    CAST((o_orderkey % 40) * 10 AS BIGINT) AS roas_target,
    CAST(o_orderdate AS DATE) AS created_at,
    CAST(o_orderdate AS DATE) + 7 AS updated_at
  FROM orders WHERE o_orderkey % 8 = 0
), vendor(vendor_id, vendor_name, vendor_alias, vendor_seq) AS (VALUES
  ('v0', 'vendor-0', 'V0', 1), ('v1', 'vendor-1', 'V1', 2),
  ('v2', 'vendor-2', 'V2', NULL)
), vtype(seq, code, label) AS (VALUES {_vals3(_m.COUPANG_VENDOR_TYPES)}),
ctype(seq, code, label) AS (VALUES {_vals3(_m.COUPANG_CAMPAIGN_TYPES)}),
gtype(seq, code, label) AS (VALUES {_vals3(_m.COUPANG_GOAL_TYPES)})
SELECT cmp.vendor_id, vdr.vendor_name, vdr.vendor_alias,
  vt.label AS vendor_type, cmp.campaign_id, cmp.campaign_name,
  COALESCE(ct.label, cmp.campaign_type) AS campaign_type,
  gt.label AS goal_type, cmp.is_active, cmp.is_deleted,
  cmp.roas_target, cmp.created_at, cmp.updated_at,
  (CASE WHEN cmp.is_deleted THEN 2 ELSE 1 END) * 1000
    + COALESCE(vdr.vendor_seq, 99) * 10 + COALESCE(gt.seq, 9) AS sort_key
FROM campaign cmp
LEFT JOIN vendor vdr ON cmp.vendor_id = vdr.vendor_id
LEFT JOIN vtype vt ON cmp.vendor_type = vt.code
LEFT JOIN ctype ct ON cmp.campaign_type = ct.code
LEFT JOIN gtype gt ON cmp.goal_type = gt.code
"""

_G_AD_TYPES10 = _arr([c for _, c, _ in _m.GOOGLE_AD_TYPES[:10]])
_G_STATUSES = _arr([c for _, c, _ in _m.GOOGLE_STATUSES])
_G_STATUSES3 = _arr([c for _, c, _ in _m.GOOGLE_STATUSES[:3]])
_G_CTYPES = _arr([c for _, c, _ in _m.GOOGLE_CAMPAIGN_TYPES])
_G_BIDS8 = _arr([c for _, c, _ in _m.GOOGLE_BIDDING_STRATEGIES[:8]])
_G_GTYPES12 = _arr([c for _, c, _ in _m.GOOGLE_ADGROUP_TYPES[:12]])

ORACLES["google_ad_master"] = f"""
WITH ad AS (
  SELECT CAST(o_orderkey % 3 AS INT) AS customer_id,
    'gc' || CAST(o_orderkey % 12 AS VARCHAR) AS campaign_id,
    'gg' || CAST(o_orderkey % 24 AS VARCHAR) AS adgroup_id,
    'ga' || CAST(o_orderkey AS VARCHAR) AS ad_id,
    'google ad ' || CAST(o_orderkey % 30 AS VARCHAR) AS ad_name,
    ({_G_AD_TYPES10})[o_orderkey % 10 + 1] AS ad_type,
    ({_G_STATUSES})[o_orderkey % 5 + 1] AS ad_status,
    CAST(o_orderkey % 1000 AS BIGINT) AS impression_count_30d,
    CAST(o_orderkey % 100 AS BIGINT) AS click_count_30d,
    CAST((o_orderkey % 90) * 10 AS BIGINT) AS ad_cost_30d
  FROM orders WHERE o_orderkey % 6 = 0
), campaign AS (
  SELECT 'gc' || CAST(i AS VARCHAR) AS campaign_id,
    'g campaign ' || CAST(i AS VARCHAR) AS campaign_name,
    ({_G_CTYPES})[i % 14 + 1] AS campaign_type,
    ({_G_BIDS8})[i % 8 + 1] AS bidding_strategy,
    ({_G_STATUSES3})[i % 3 + 1] AS campaign_status,
    make_date(2024, CAST(i % 12 + 1 AS INT), 1) AS created_at
  FROM range(12) t(i)
), adgroup AS (
  SELECT 'gg' || CAST(i AS VARCHAR) AS adgroup_id,
    'g adgroup ' || CAST(i AS VARCHAR) AS adgroup_name,
    ({_G_GTYPES12})[i % 12 + 1] AS adgroup_type,
    ({_G_STATUSES3})[i % 3 + 1] AS adgroup_status
  FROM range(24) t(i)
), account(customer_id, account_name, account_seq) AS (VALUES
  (0, 'google-a', 1), (1, 'google-b', 2), (2, 'google-c', NULL)
), relation AS (
  SELECT 'gc' || CAST(i AS VARCHAR) AS ad_id, 0 AS ad_level,
         '100001,100002' AS bundle_product_ids
  FROM range(0, 12, 2) t(i)
  UNION ALL
  SELECT 'gg' || CAST(i AS VARCHAR), 1, '100003' FROM range(0, 24, 3) t(i)
  UNION ALL
  SELECT 'ga' || CAST(i AS VARCHAR), 2, '100004,100005,100006'
  FROM range(0, 48, 6) t(i)
), st_map(seq, code, label) AS (VALUES {_vals3(_m.GOOGLE_STATUSES)}),
ctype(seq, code, label) AS (VALUES {_vals3(_m.GOOGLE_CAMPAIGN_TYPES)}),
btype(seq, code, label) AS (VALUES {_vals3(_m.GOOGLE_BIDDING_STRATEGIES)}),
gtype(seq, code, label) AS (VALUES {_vals3(_m.GOOGLE_ADGROUP_TYPES)}),
atype(seq, code, label) AS (VALUES {_vals3(_m.GOOGLE_AD_TYPES)})
SELECT ad.customer_id, acc.account_name, ad.campaign_id, cmp.campaign_name,
  ct.label AS campaign_type, bt.label AS bidding_strategy,
  ad.adgroup_id, grp.adgroup_name, agt.label AS adgroup_type,
  ad.ad_id, ad.ad_name, adt.label AS ad_type, sf.label AS ad_status,
  COALESCE(ra.bundle_product_ids, rg.bundle_product_ids, rc.bundle_product_ids)
    AS bundle_product_ids,
  ad.impression_count_30d, ad.click_count_30d, ad.ad_cost_30d,
  cmp.created_at,
  (CASE WHEN sf.code = 'REMOVED' THEN 2 ELSE 1 END) * 100000000
    + COALESCE(acc.account_seq, 99) * 1000000 + COALESCE(ct.seq, 99) * 10000
    + COALESCE(agt.seq, 99) * 100 + COALESCE(adt.seq, 99) AS sort_key
FROM ad
LEFT JOIN account acc ON ad.customer_id = acc.customer_id
LEFT JOIN campaign cmp ON ad.campaign_id = cmp.campaign_id
LEFT JOIN adgroup grp ON ad.adgroup_id = grp.adgroup_id
LEFT JOIN ctype ct ON cmp.campaign_type = ct.code
LEFT JOIN btype bt ON cmp.bidding_strategy = bt.code
LEFT JOIN gtype agt ON grp.adgroup_type = agt.code
LEFT JOIN atype adt ON ad.ad_type = adt.code
LEFT JOIN st_map sc ON cmp.campaign_status = sc.code
LEFT JOIN st_map sg ON grp.adgroup_status = sg.code
LEFT JOIN st_map sa ON ad.ad_status = sa.code
LEFT JOIN st_map sf ON GREATEST(sc.seq, sg.seq, sa.seq) = sf.seq
LEFT JOIN (SELECT ad_id, bundle_product_ids FROM relation WHERE ad_level = 0) rc
  ON ad.campaign_id = rc.ad_id
LEFT JOIN (SELECT ad_id, bundle_product_ids FROM relation WHERE ad_level = 1) rg
  ON ad.adgroup_id = rg.ad_id
LEFT JOIN (SELECT ad_id, bundle_product_ids FROM relation WHERE ad_level = 2) ra
  ON ad.ad_id = ra.ad_id
"""

# --- total_order stack ---------------------------------------------------
# analytics__total_order sabangnet pipeline (dbt analytics__total_order
# .sql + sabangnet__sales_daily.sql:56-474): bundle explode with the
# first-row payment idiom (ordinal tiebreak), DISTINCT ON ecount cost
# attach, order-total amount split, CJ delivery COALESCE chain, max-ABS
# fee pick + fee split, per-status metric gates.

_TIERS_CTE = """
tiers_raw(delivery_group, min_unit, delivery_fee, coolant_cost, label_cost,
          wrap_cost, box_cost, n_arrival_fee, n_arrival_add) AS (VALUES
  ('G1', 1, 100, 10, 5, 0, 15, 200, 50),
  ('G1', 5, 80, 0, 0, 20, 0, 150, 30),
  ('G2', NULL, 250, NULL, NULL, NULL, 30, 0, 0)
), tiers AS (
  SELECT delivery_group,
    COALESCE(min_unit, 1) AS min_unit,
    CASE WHEN MAX(min_unit) OVER (PARTITION BY delivery_group) = min_unit
         THEN 9999
         ELSE LEAD(min_unit) OVER (PARTITION BY delivery_group
                                   ORDER BY min_unit ASC NULLS FIRST) END AS max_unit,
    COALESCE(delivery_fee, 0) AS delivery_fee,
    COALESCE(coolant_cost, 0) + COALESCE(label_cost, 0)
      + COALESCE(wrap_cost, 0) + COALESCE(box_cost, 0) AS extra_cost,
    COALESCE(n_arrival_fee, 0) AS n_arrival_fee,
    COALESCE(n_arrival_add, 0) AS n_arrival_add
  FROM tiers_raw
)
"""

ORACLES["sabangnet_total_order"] = f"""
WITH bpo AS (
  SELECT o_orderkey AS order_seq,
    'O' || CAST(o_orderkey - o_orderkey % 9 AS VARCHAR) AS order_id,
    'INV' || CAST(o_orderkey - o_orderkey % 4 AS VARCHAR) AS invoice_no,
    CAST((o_orderkey - o_orderkey % 9) % 7 AS INT) AS account_no,
    (['shop0075', 'shop0011', 'shop0012'])[CAST((o_orderkey % 6) / 2 + 1 AS INT)] AS shop_id,
    'P' || CAST(o_orderkey % 10 AS VARCHAR) AS product_id,
    'OPT' || CAST(o_orderkey % 12 AS VARCHAR) AS option_id,
    CASE WHEN o_orderkey % 5 = 0 THEN '601-A:2,602-B'
         WHEN o_orderkey % 5 = 1 THEN '603-C' END AS bundle_option_ids,
    CAST(o_orderkey % 6 AS INT) AS order_status,
    o_orderkey % 3 + 1 AS order_quantity,
    o_orderkey % 4 + 1 AS sku_quantity,
    CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,2))) AS BIGINT) AS payment_amount,
    CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(0.9 AS DECIMAL(2,1))) AS BIGINT) AS supply_amount,
    CAST(o_orderdate AS DATE) AS order_date
  FROM orders WHERE o_orderkey % 2 = 0
), ecount_raw(option_id, expiration_date, product_code, org_price) AS (VALUES
  ('601-A', DATE '2024-01-01', 'PCA', 500),
  ('601-A', DATE '2024-06-01', 'PCB', 700),
  ('603-C', DATE '2024-03-01', 'PCC', 400),
  ('OPT3', DATE '2024-02-01', 'PCD', 300),
  ('OPT3', DATE '2024-02-01', 'PCE', 350)
), ecount AS (
  SELECT split_part(option_id, '-', 1) AS product_id, option_id, org_price FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY option_id
      ORDER BY expiration_date ASC, product_code DESC) AS rn
    FROM ecount_raw) WHERE rn = 1
), item(product_id, org_price, extra_cost, delivery_group, delivery_fee) AS (VALUES
  ('P0', 1000, 50, 'G1', 0), ('P1', 1100, 0, 'G2', 120), ('P3', 900, 25, 'G1', -80),
  ('601', 800, 0, 'G2', 100), ('602', 760, 10, 'G1', 0), ('603', 640, 0, NULL, 90)
), cj_inv AS (
  SELECT 'INV' || CAST(o_orderkey AS VARCHAR) AS invoice_no,
    (o_orderkey % 5 - 2) * 100 AS delivery_fee,
    (o_orderkey % 3) * 50 AS box_cost
  FROM orders WHERE o_orderkey % 8 = 0
), cj_ord AS (
  SELECT 'O' || CAST(o_orderkey AS VARCHAR) AS order_id,
    (o_orderkey % 7) * 80 AS delivery_fee,
    (o_orderkey % 2) * 30 AS box_cost
  FROM orders WHERE o_orderkey % 18 = 0
), unit(product_id, unit) AS (VALUES ('P0', 2), ('601', 3), ('P2', 1), ('603', 2)),
{_TIERS_CTE.strip().lstrip()},
exploded0 AS (
  SELECT order_seq, order_id, invoice_no, account_no, shop_id,
    UNNEST(string_split(bundle_option_ids, ',')) AS bundle_option,
    UNNEST(range(1, len(string_split(bundle_option_ids, ',')) + 1)) AS bundle_pos,
    order_quantity, payment_amount AS pay0, supply_amount AS sup0,
    order_status, order_date
  FROM bpo WHERE bundle_option_ids IS NOT NULL
), exploded AS (
  SELECT order_id, invoice_no, account_no, shop_id,
    split_part(bundle_option, '-', 1) AS product_id,
    split_part(bundle_option, ':', 1) AS option_id,
    order_status,
    (CASE WHEN regexp_matches(split_part(bundle_option, ':', 2), '^[0-9]+$')
          THEN CAST(split_part(bundle_option, ':', 2) AS INT) ELSE 1 END)
      * order_quantity AS sku_quantity,
    CASE WHEN ROW_NUMBER() OVER (PARTITION BY account_no, order_id
                                 ORDER BY order_seq, bundle_pos) = 1
         THEN MAX(pay0) OVER (PARTITION BY account_no, order_id) ELSE 0 END AS payment_amount,
    CASE WHEN ROW_NUMBER() OVER (PARTITION BY account_no, order_id
                                 ORDER BY order_seq, bundle_pos) = 1
         THEN MAX(sup0) OVER (PARTITION BY account_no, order_id) ELSE 0 END AS supply_amount,
    order_date
  FROM exploded0
), unioned AS (
  SELECT order_id, invoice_no, account_no, shop_id, product_id, option_id,
    order_status, sku_quantity, payment_amount, supply_amount, order_date
  FROM bpo WHERE bundle_option_ids IS NULL
  UNION ALL
  SELECT * FROM exploded
), costed AS (
  SELECT u.*,
    COALESCE(ec.org_price, it.org_price, 0) + COALESCE(it.extra_cost, 0) AS org_price,
    COALESCE(it.delivery_group, '-') AS delivery_group,
    COALESCE(it.delivery_fee, 0) AS own_delivery_fee,
    COUNT(*) OVER (PARTITION BY u.account_no, u.order_id) AS bundle_product_count,
    (COALESCE(ec.org_price, it.org_price, 0) + COALESCE(it.extra_cost, 0))
      * u.sku_quantity AS cost_amount
  FROM unioned u
  LEFT JOIN ecount ec ON u.option_id = ec.option_id
  LEFT JOIN item it ON u.product_id = it.product_id
), marked AS (
  SELECT *,
    COUNT(*) OVER (PARTITION BY account_no, order_id) AS n,
    SUM(cost_amount) OVER (PARTITION BY account_no, order_id) AS total_cost,
    ROW_NUMBER() OVER (PARTITION BY account_no, order_id ORDER BY product_id ASC) AS rn,
    SUM(payment_amount) OVER (PARTITION BY account_no, order_id) AS pay_total,
    SUM(supply_amount) OVER (PARTITION BY account_no, order_id) AS sup_total
  FROM costed
), splits AS (
  SELECT *,
    COALESCE(CAST(FLOOR(pay_total * (cost_amount / NULLIF(total_cost, 0)) + 0.5) AS BIGINT), 0) AS pay_split,
    COALESCE(CAST(FLOOR(sup_total * (cost_amount / NULLIF(total_cost, 0)) + 0.5) AS BIGINT), 0) AS sup_split
  FROM marked
), allocated AS (
  SELECT * REPLACE (
    CASE WHEN n > 1 THEN
      (CASE WHEN rn = 1 THEN pay_total - SUM(pay_split) OVER (PARTITION BY account_no, order_id) ELSE 0 END) + pay_split
    ELSE payment_amount END AS payment_amount,
    CASE WHEN n > 1 THEN
      (CASE WHEN rn = 1 THEN sup_total - SUM(sup_split) OVER (PARTITION BY account_no, order_id) ELSE 0 END) + sup_split
    ELSE supply_amount END AS supply_amount)
  FROM splits
), dlv AS (
  SELECT a.order_id, a.invoice_no, a.account_no, a.shop_id, a.product_id,
    a.option_id, a.order_status, a.sku_quantity, a.payment_amount,
    a.supply_amount, a.order_date, a.org_price, a.delivery_group,
    a.bundle_product_count, a.cost_amount,
    a.org_price * a.sku_quantity AS supply_cost,
    a.sku_quantity * COALESCE(un.unit, 1) AS delivery_quantity,
    COALESCE(ci.delivery_fee, co.delivery_fee, a.own_delivery_fee, 0) AS delivery_fee,
    COALESCE(ci.box_cost, co.box_cost, 0) AS box_cost
  FROM allocated a
  LEFT JOIN cj_inv ci ON a.invoice_no = ci.invoice_no
  LEFT JOIN cj_ord co ON a.order_id = co.order_id
  LEFT JOIN unit un ON a.product_id = un.product_id
), fee_agg AS (
  SELECT order_id, invoice_no, delivery_group,
    MAX(delivery_fee) AS delivery_fee, SUM(box_cost) AS box_cost,
    COALESCE(SUM(delivery_quantity), 0) AS delivery_quantity
  FROM dlv GROUP BY 1, 2, 3
), fee_scored AS (
  SELECT f.order_id, f.invoice_no, f.delivery_group,
    CASE WHEN t.delivery_group IS NULL THEN f.delivery_fee
         WHEN f.delivery_fee > 0 THEN f.delivery_fee
              + (CASE WHEN f.box_cost > 0 THEN f.box_cost ELSE t.extra_cost END)
         ELSE t.delivery_fee + t.extra_cost END AS fee
  FROM fee_agg f LEFT JOIN tiers t
    ON f.delivery_group = t.delivery_group
   AND f.delivery_quantity BETWEEN t.min_unit AND t.max_unit
), fee_top AS (
  SELECT order_id, invoice_no, fee FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY order_id, invoice_no
      ORDER BY ABS(fee) DESC, fee DESC, delivery_group ASC) AS frn
    FROM fee_scored) WHERE frn = 1
), attached AS (
  SELECT d.* REPLACE (ft.fee AS delivery_fee),
    COUNT(*) OVER (PARTITION BY d.order_id, d.invoice_no) AS fn,
    SUM(d.cost_amount) OVER (PARTITION BY d.order_id, d.invoice_no) AS ftotal_cost,
    ROW_NUMBER() OVER (PARTITION BY d.order_id, d.invoice_no ORDER BY d.product_id ASC) AS frn
  FROM dlv d LEFT JOIN fee_top ft
    ON d.order_id = ft.order_id AND d.invoice_no = ft.invoice_no
), fee_split AS (
  SELECT *,
    COALESCE(CAST(FLOOR(delivery_fee * (cost_amount / NULLIF(ftotal_cost, 0)) + 0.5) AS BIGINT), 0) AS f_split
  FROM attached
), final AS (
  SELECT * REPLACE (
    CASE WHEN fn > 1 THEN
      (CASE WHEN frn = 1 THEN delivery_fee - SUM(f_split) OVER (PARTITION BY order_id, invoice_no) ELSE 0 END) + f_split
    ELSE delivery_fee END AS delivery_fee)
  FROM fee_split
)
SELECT order_id, product_id, shop_id, order_status,
  CAST(CASE WHEN order_status = 0 THEN COALESCE(sku_quantity, 0) ELSE 0 END AS BIGINT) AS sku_quantity,
  CAST(CASE WHEN shop_id = 'adop9000' THEN 0
       WHEN order_status = 0 THEN COALESCE(payment_amount, 0) ELSE 0 END AS BIGINT) AS payment_amount,
  CAST(CASE WHEN order_status = 0 THEN COALESCE(supply_amount, 0) ELSE 0 END AS BIGINT) AS supply_amount,
  CAST(CASE WHEN order_status IN (0, 2, 6) THEN COALESCE(supply_cost, 0) ELSE 0 END AS BIGINT) AS supply_cost,
  CAST(CASE WHEN order_status IN (0, 1, 2, 5, 7) THEN COALESCE(delivery_fee, 0) ELSE 0 END AS BIGINT) AS delivery_fee,
  order_date
FROM final
"""

# coupang_rfm pipeline of analytics__total_order (coupang_rfm__sales_
# daily.sql:829-1059): FULL OUTER sales/shipping merge with NULL->7 /
# LEAST(status,3), bundle COALESCE chain with the 200000 catch-all,
# 9-prefix status-6 promotion, per-product cost attach, tier-ranged
# delivery extra, status-6 zero-cost rule, 3-amount cost-weight split.
ORACLES["coupang_total_order"] = f"""
WITH sales AS (
  SELECT grp AS order_id, 'OPT' || CAST(grp % 12 AS VARCHAR) AS option_id,
    MIN('v' || CAST(grp % 3 AS VARCHAR)) AS vendor_id,
    MAX(CASE WHEN grp % 5 = 0 THEN 0 ELSE CAST(k % 6 AS INT) END) AS order_status,
    SUM(k % 4) AS order_quantity,
    SUM(COALESCE((k % 7) * 100, 0) * COALESCE(k % 4, 0)
        - COALESCE((k % 5) * 10, 0) - COALESCE((k % 3) * 5, 0)) AS sales_amount,
    SUM(CAST(FLOOR(tp * CAST(0.8 AS DECIMAL(2,1))) AS BIGINT)) AS settlement_amount,
    MAX(d) AS sales_date
  FROM (
    SELECT o_orderkey AS k, o_orderkey - o_orderkey % 9 AS grp,
      CAST(o_orderdate AS DATE) AS d, CAST(o_totalprice AS DECIMAL(18,2)) AS tp
    FROM orders WHERE o_orderkey % 3 = 0
  ) GROUP BY 1, 2
), ship AS (
  SELECT grp AS order_id, 'OPT' || CAST(grp % 12 AS VARCHAR) AS option_id,
    MIN('v' || CAST(grp % 3 AS VARCHAR)) AS vendor_id,
    SUM(COALESCE((k % 6) * 20, 0) - COALESCE((k % 4) * 10, 0)
        + COALESCE((k % 5) * 5, 0)) AS delivery_fee,
    MAX(d) AS sales_date
  FROM (
    SELECT o_orderkey AS k, o_orderkey - o_orderkey % 9 AS grp,
      CAST(o_orderdate AS DATE) AS d
    FROM orders WHERE o_orderkey % 3 = 1
  ) GROUP BY 1, 2
), merged0 AS (
  SELECT COALESCE(s.order_id, h.order_id) AS order_id,
    COALESCE(s.option_id, h.option_id) AS option_id,
    COALESCE(s.vendor_id, h.vendor_id) AS vendor_id,
    s.order_status, s.order_quantity, s.sales_amount, s.settlement_amount,
    h.delivery_fee, COALESCE(s.sales_date, h.sales_date) AS sales_date
  FROM sales s FULL OUTER JOIN ship h
    ON s.order_id = h.order_id AND s.option_id = h.option_id
), merged AS (
  SELECT sales_date, order_id, option_id,
    MIN(vendor_id) AS vendor_id,
    CASE WHEN MAX(order_status) IS NULL THEN 7
         ELSE LEAST(MAX(order_status), 3) END AS order_status,
    COALESCE(SUM(order_quantity), 0) AS order_quantity,
    COALESCE(SUM(sales_amount), 0) AS sales_amount,
    COALESCE(SUM(settlement_amount), 0) AS settlement_amount,
    COALESCE(SUM(delivery_fee), 0) AS delivery_fee
  FROM merged0 GROUP BY 1, 2, 3
), rel(option_id, bundle_product_ids) AS (VALUES
  ('OPT0', '901:2,P3'), ('OPT3', 'P4,P5'), ('OPT6', '902'), ('OPT9', 'P6:3')
), vendor(vendor_id, bundle_brand_ids) AS (VALUES
  ('v0', 'B1'), ('v1', 'B2,903')
), ecount(product_id, org_price) AS (VALUES
  ('P3', 300), ('P4', 400), ('901', 900)
), item(product_id, org_price, extra_cost, delivery_group) AS (VALUES
  ('P3', 350, 10, 'G1'), ('P5', 550, 0, 'G2'), ('902', 20, 5, 'G1'),
  ('B1', 100, 0, NULL), ('903', 130, 0, 'G1')
), unit(product_id, unit) AS (VALUES ('P3', 2), ('902', 1), ('B1', 4)),
{_TIERS_CTE.strip().lstrip()},
bundled AS (
  SELECT m.order_id, m.option_id,
    COALESCE(r.bundle_product_ids, v.bundle_brand_ids, '200000') AS bundle_product_ids,
    m.order_status, m.order_quantity,
    m.sales_amount AS payment_amount,
    m.settlement_amount AS supply_amount,
    m.delivery_fee, m.sales_date AS order_date
  FROM merged m
  LEFT JOIN rel r ON m.option_id = r.option_id
  LEFT JOIN vendor v ON m.vendor_id = v.vendor_id
  WHERE NOT (m.order_quantity = 0 AND m.delivery_fee = 0)
), ex AS (
  SELECT *, UNNEST(string_split(bundle_product_ids, ',')) AS bundle_product
  FROM bundled
), exploded AS (
  SELECT b.order_id, b.option_id,
    split_part(b.bundle_product, ':', 1) AS product_id,
    CASE WHEN b.order_status = 0 AND substr(b.bundle_product, 1, 1) = '9' THEN 6
         ELSE b.order_status END AS order_status,
    (CASE WHEN regexp_matches(split_part(b.bundle_product, ':', 2), '^[0-9]+$')
          THEN CAST(split_part(b.bundle_product, ':', 2) AS INT)
          ELSE 1 END) * b.order_quantity AS sku_quantity,
    b.payment_amount, b.supply_amount,
    COALESCE(ec.org_price, it.org_price, 0) + COALESCE(it.extra_cost, 0) AS org_price,
    b.delivery_fee, it.delivery_group, b.order_date
  FROM ex b
  LEFT JOIN ecount ec ON split_part(b.bundle_product, ':', 1) = ec.product_id
  LEFT JOIN item it ON split_part(b.bundle_product, ':', 1) = it.product_id
), with_extra AS (
  SELECT e.*, t.extra_cost AS t_extra
  FROM exploded e
  LEFT JOIN unit un ON e.product_id = un.product_id
  LEFT JOIN tiers t ON e.delivery_group = t.delivery_group
    AND (e.sku_quantity * COALESCE(un.unit, 1)) BETWEEN t.min_unit AND t.max_unit
), projected AS (
  SELECT order_id, option_id, product_id, order_status, sku_quantity,
    payment_amount, supply_amount,
    org_price * sku_quantity AS supply_cost,
    COALESCE(MAX(t_extra) OVER (PARTITION BY order_id, option_id), 0)
      + delivery_fee AS delivery_fee,
    order_date,
    CASE WHEN order_status = 6 THEN 0
         ELSE org_price * sku_quantity END AS cost_amount
  FROM with_extra
), marked AS (
  SELECT *,
    COUNT(*) OVER (PARTITION BY order_id, option_id) AS n,
    SUM(cost_amount) OVER (PARTITION BY order_id, option_id) AS total_cost,
    ROW_NUMBER() OVER (PARTITION BY order_id, option_id ORDER BY product_id ASC) AS rn
  FROM projected
), splits AS (
  SELECT *,
    COALESCE(CAST(FLOOR(payment_amount * (cost_amount / NULLIF(total_cost, 0)) + 0.5) AS BIGINT), 0) AS pay_split,
    COALESCE(CAST(FLOOR(supply_amount * (cost_amount / NULLIF(total_cost, 0)) + 0.5) AS BIGINT), 0) AS sup_split,
    COALESCE(CAST(FLOOR(delivery_fee * (cost_amount / NULLIF(total_cost, 0)) + 0.5) AS BIGINT), 0) AS fee_split
  FROM marked
), final AS (
  SELECT * REPLACE (
    CASE WHEN n > 1 THEN
      (CASE WHEN rn = 1 THEN payment_amount - SUM(pay_split) OVER (PARTITION BY order_id, option_id) ELSE 0 END) + pay_split
    ELSE payment_amount END AS payment_amount,
    CASE WHEN n > 1 THEN
      (CASE WHEN rn = 1 THEN supply_amount - SUM(sup_split) OVER (PARTITION BY order_id, option_id) ELSE 0 END) + sup_split
    ELSE supply_amount END AS supply_amount,
    CASE WHEN n > 1 THEN
      (CASE WHEN rn = 1 THEN delivery_fee - SUM(fee_split) OVER (PARTITION BY order_id, option_id) ELSE 0 END) + fee_split
    ELSE delivery_fee END AS delivery_fee)
  FROM splits
)
SELECT CAST(order_id AS VARCHAR) AS order_id, product_id,
  'shop9001' AS shop_id, CAST(order_status AS INTEGER) AS order_status,
  CAST(sku_quantity AS BIGINT) AS sku_quantity,
  CAST(payment_amount AS BIGINT) AS payment_amount,
  CAST(supply_amount AS BIGINT) AS supply_amount,
  CAST(supply_cost AS BIGINT) AS supply_cost,
  CAST(delivery_fee AS BIGINT) AS delivery_fee, order_date
FROM final
"""

# --- core masters + CJ delivery pair -------------------------------------
# Shared synthetic item catalog (queries._core_item_feed in SQL).
_CORE_ITEM_CTE = """
item AS (
  SELECT
    CASE WHEN p_partkey % 13 = 0 THEN NULL
         WHEN p_partkey % 4 = 0 THEN '2' || CAST(p_partkey % 60 AS VARCHAR)
         ELSE '1' || CAST(p_partkey % 80 AS VARCHAR) END AS product_id,
    'IT-' || lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS item_id,
    CASE WHEN p_partkey % 11 = 0 THEN NULL
         ELSE CAST(p_partkey % 97 AS INT) END AS item_seq,
    CASE WHEN p_partkey % 7 = 0 THEN NULL
         ELSE 'team' || CAST(p_partkey % 5 AS VARCHAR) END AS team_name,
    CASE WHEN p_partkey % 6 = 0 THEN '브랜드 없음'
         ELSE 'brand' || CAST(p_partkey % 9 AS VARCHAR) END AS brand_name,
    'c1-' || CAST(p_partkey % 3 AS VARCHAR) AS category_name1,
    'c2-' || CAST(p_partkey % 4 AS VARCHAR) AS category_name2,
    'c3-' || CAST(p_partkey % 5 AS VARCHAR) AS category_name3,
    'c4-' || CAST(p_partkey % 6 AS VARCHAR) AS category_name4,
    'color' || CAST(p_partkey % 7 AS VARCHAR) AS color,
    'product ' || CAST(p_partkey % 80 AS VARCHAR) AS product_name,
    CASE WHEN p_partkey % 3 = 0 THEN NULL
         ELSE 'ea' || CAST(p_partkey % 3 AS VARCHAR) END AS unit_name,
    CAST(p_partkey % 4 + 1 AS INT) AS unit_scale
  FROM part
)
"""

# core__product_master.sql:10-31 (DISTINCT ON product_id, item_seq ASC
# NULLS LAST; item_id appended as the documented determinism tiebreak).
ORACLES["core_product_master"] = f"""
WITH {_CORE_ITEM_CTE.strip()}
SELECT product_id, item_id, item_seq, team_name, brand_name,
  category_name1, category_name2, category_name3, category_name4,
  color, product_name, unit_name, unit_scale, CAST(rn AS INTEGER) AS rn
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY product_id
    ORDER BY item_seq ASC NULLS LAST, item_id ASC) AS rn
  FROM item WHERE product_id IS NOT NULL
) WHERE rn = 1
"""

# core__brand_master.sql:10-34 with the documented (item_seq, item_id)
# determinism tiebreaks on every window.
ORACLES["core_brand_master"] = f"""
WITH {_CORE_ITEM_CTE.strip()},
base AS (
  SELECT product_id AS brand_id, item_id, item_seq, team_name, brand_name
  FROM item
  WHERE starts_with(product_id, '2')
    AND NULLIF(brand_name, '브랜드 없음') IS NOT NULL
), seq AS (
  SELECT *,
    ROW_NUMBER() OVER (ORDER BY team_name DESC NULLS LAST, brand_id ASC,
                       item_seq ASC NULLS LAST, item_id ASC) AS brand_seq,
    ROW_NUMBER() OVER (PARTITION BY brand_id
                       ORDER BY item_seq ASC NULLS LAST, item_id ASC) AS rn1,
    ROW_NUMBER() OVER (PARTITION BY brand_name
                       ORDER BY item_seq ASC NULLS LAST, item_id ASC) AS rn2
  FROM base
)
SELECT brand_id, item_id, item_seq, team_name, brand_name, brand_seq
FROM seq WHERE rn1 = 1 AND rn2 = 1
"""

# cj__invoice.sql:16-55 / cj__invoice_order.sql:16-59 with the callers'
# ±7-day widening (window 1996-02-01..1996-03-31 -> 01-25..04-07).
_CJ_FEEDS_CTE = """
lois AS (
  SELECT replace('LP-' || CAST(o_orderkey % 600 AS VARCHAR) || '-X', '-', '') AS invoice_no,
    COALESCE(CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE 'ORD' || CAST(o_orderkey % 400 AS VARCHAR) END, 'none') AS order_id,
    SUM((o_orderkey % 9) * 100) AS delivery_fee,
    CAST(0 AS BIGINT) AS box_cost
  FROM orders
  WHERE o_orderkey % 2 = 0
    AND CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-25' AND DATE '1996-04-07'
  GROUP BY 1, 2
), eflexs AS (
  SELECT 'LP' || CAST(o_orderkey % 600 AS VARCHAR) || 'X' AS invoice_no,
    'ORD' || CAST(o_orderkey % 400 AS VARCHAR) AS order_id,
    SUM((o_orderkey % 5) * 80) AS delivery_fee,
    CAST(SUM((o_orderkey % 3) * 50) AS BIGINT) AS box_cost
  FROM orders
  WHERE o_orderkey % 2 = 1
    AND CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-25' AND DATE '1996-04-07'
  GROUP BY 1, 2
), unioned AS (
  SELECT * FROM lois UNION ALL SELECT * FROM eflexs
)
"""

ORACLES["cj_invoice"] = f"""
WITH {_CJ_FEEDS_CTE.strip()}
SELECT invoice_no, CAST(SUM(delivery_fee) AS BIGINT) AS delivery_fee,
  CAST(SUM(box_cost) AS BIGINT) AS box_cost
FROM unioned GROUP BY 1
"""

ORACLES["cj_invoice_order"] = f"""
WITH {_CJ_FEEDS_CTE.strip()}
SELECT order_id, CAST(SUM(delivery_fee) AS BIGINT) AS delivery_fee,
  CAST(SUM(box_cost) AS BIGINT) AS box_cost
FROM unioned WHERE order_id != 'none' GROUP BY 1
"""

# --- remaining entity masters --------------------------------------------
_SEARCHAD_ACC = """
account(customer_id, account_name, account_type, account_seq) AS (VALUES
  (0, 'acct-a', 'agency', 1), (1, 'acct-b', 'direct', 2),
  (2, 'acct-c', 'agency', 3), (3, 'acct-d', 'direct', NULL)
)
"""

ORACLES["searchad_adgroup_master"] = f"""
WITH adgroup AS (
  SELECT CAST(o_orderkey % 4 AS INT) AS customer_id,
    'cmp' || CAST(o_orderkey % 35 AS VARCHAR) AS campaign_id,
    'grp' || CAST(o_orderkey AS VARCHAR) AS adgroup_id,
    'adgroup ' || CAST(o_orderkey % 25 AS VARCHAR) AS adgroup_name,
    CASE WHEN o_orderkey % 13 = 0 THEN 999
         ELSE CAST(o_orderkey % 12 AS INT) END AS adgroup_type,
    CAST((o_orderkey % 50) * 10 AS BIGINT) AS bid_amount,
    o_orderkey % 2 = 0 AS is_enabled,
    o_orderkey % 9 = 0 AS is_deleted,
    CAST(o_orderdate AS DATE) AS created_at,
    CASE WHEN o_orderkey % 9 = 0 THEN CAST(o_orderdate AS DATE) + 14 END AS deleted_at
  FROM orders WHERE o_orderkey % 5 = 0
), campaign AS (
  SELECT 'cmp' || CAST(i AS VARCHAR) AS campaign_id,
    'campaign ' || CAST(i AS VARCHAR) AS campaign_name,
    CAST(i % 15 AS INT) AS campaign_type, i % 3 > 0 AS is_enabled
  FROM range(35) t(i)
), {_SEARCHAD_ACC.strip()},
ctype(seq, code, label) AS (VALUES {_vals3(_m.SEARCHAD_CAMPAIGN_TYPES)}),
gtype(seq, code, label) AS (VALUES {_vals3(_m.SEARCHAD_ADGROUP_TYPES)})
SELECT grp.customer_id, acc.account_name, acc.account_type,
  grp.campaign_id, cmp.campaign_name, ct.label AS campaign_type,
  grp.adgroup_id, grp.adgroup_name, gt.label AS adgroup_type,
  grp.bid_amount,
  COALESCE(cmp.is_enabled AND grp.is_enabled, grp.is_enabled) AS is_enabled,
  grp.is_deleted, grp.created_at, grp.deleted_at,
  (CASE WHEN grp.is_deleted THEN 2 ELSE 1 END) * 1000000
    + COALESCE(acc.account_seq, 99) * 10000
    + COALESCE(ct.seq, 99) * 100 + COALESCE(gt.seq, 99) AS sort_key
FROM adgroup grp
LEFT JOIN account acc ON grp.customer_id = acc.customer_id
LEFT JOIN campaign cmp ON grp.campaign_id = cmp.campaign_id
LEFT JOIN ctype ct ON cmp.campaign_type = ct.code
LEFT JOIN gtype gt ON grp.adgroup_type = gt.code
"""

ORACLES["searchad_ad_master"] = f"""
WITH ad AS (
  SELECT CAST(o_orderkey % 4 AS INT) AS customer_id,
    'grp' || CAST(o_orderkey % 30 AS VARCHAR) AS adgroup_id,
    'ad' || CAST(o_orderkey AS VARCHAR) AS ad_id,
    'title ' || CAST(o_orderkey % 40 AS VARCHAR) AS title,
    'desc ' || CAST(o_orderkey % 10 AS VARCHAR) AS description,
    CASE WHEN o_orderkey % 17 = 0 THEN 999
         ELSE CAST(o_orderkey % 14 AS INT) END AS ad_type,
    CASE WHEN o_orderkey % 3 = 0
         THEN 'mp' || CAST(o_orderkey % 50 AS VARCHAR) END AS product_id,
    CAST((o_orderkey % 45) * 10 AS BIGINT) AS bid_amount,
    o_orderkey % 2 = 0 AS is_enabled,
    o_orderkey % 11 = 0 AS is_deleted,
    'https://pc/' || CAST(o_orderkey % 5 AS VARCHAR) AS landing_url_pc,
    CASE WHEN o_orderkey % 4 = 0
         THEN 'https://m/' || CAST(o_orderkey % 5 AS VARCHAR) END AS landing_url_mobile,
    CAST(o_orderdate AS DATE) AS created_at,
    CASE WHEN o_orderkey % 11 = 0 THEN CAST(o_orderdate AS DATE) + 21 END AS deleted_at
  FROM orders WHERE o_orderkey % 7 = 0
), adgroup AS (
  SELECT 'grp' || CAST(i AS VARCHAR) AS adgroup_id,
    'adgroup ' || CAST(i AS VARCHAR) AS adgroup_name,
    'cmp' || CAST(i % 12 AS VARCHAR) AS campaign_id,
    CAST(i % 12 AS INT) AS adgroup_type, i % 4 > 0 AS is_enabled
  FROM range(30) t(i)
), campaign AS (
  SELECT 'cmp' || CAST(i AS VARCHAR) AS campaign_id,
    'campaign ' || CAST(i AS VARCHAR) AS campaign_name,
    CAST(i % 15 AS INT) AS campaign_type, i % 2 = 0 AS is_enabled
  FROM range(12) t(i)
), {_SEARCHAD_ACC.strip()},
relation AS (
  SELECT 'cmp' || CAST(i AS VARCHAR) AS ad_id, 0 AS ad_level,
         '100010,100011' AS bundle_product_ids FROM range(0, 12, 2) t(i)
  UNION ALL
  SELECT 'grp' || CAST(i AS VARCHAR), 1, '100012' FROM range(0, 30, 3) t(i)
  UNION ALL
  SELECT 'ad' || CAST(i AS VARCHAR), 2, '100013,100014' FROM range(0, 140, 14) t(i)
), product_rel AS (
  SELECT 'mp' || CAST(i AS VARCHAR) AS product_id,
         '1000' || CAST(i AS VARCHAR) AS bundle_product_ids
  FROM range(0, 50, 5) t(i)
), ctype(seq, code, label) AS (VALUES {_vals3(_m.SEARCHAD_CAMPAIGN_TYPES)}),
gtype(seq, code, label) AS (VALUES {_vals3(_m.SEARCHAD_ADGROUP_TYPES)}),
atype(seq, code, label) AS (VALUES {_vals3(_m.SEARCHAD_AD_TYPES)})
SELECT ad.customer_id, acc.account_name, acc.account_type,
  grp.campaign_id, cmp.campaign_name, ct.label AS campaign_type,
  ad.adgroup_id, grp.adgroup_name, gt.label AS adgroup_type,
  ad.ad_id, ad.title, ad.description, at.label AS ad_type,
  ad.product_id AS mall_product_id,
  COALESCE(rp.bundle_product_ids, ra.bundle_product_ids,
           rg.bundle_product_ids, rc.bundle_product_ids) AS bundle_product_ids,
  ad.bid_amount,
  COALESCE(cmp.is_enabled AND grp.is_enabled AND ad.is_enabled, ad.is_enabled) AS is_enabled,
  ad.is_deleted, ad.landing_url_pc, ad.landing_url_mobile,
  ad.created_at, ad.deleted_at,
  (CASE WHEN ad.is_deleted THEN 2 ELSE 1 END) * 100000000
    + COALESCE(acc.account_seq, 99) * 1000000 + COALESCE(ct.seq, 99) * 10000
    + COALESCE(gt.seq, 99) * 100 + COALESCE(at.seq, 99) AS sort_key
FROM ad
LEFT JOIN account acc ON ad.customer_id = acc.customer_id
LEFT JOIN adgroup grp ON ad.adgroup_id = grp.adgroup_id
LEFT JOIN campaign cmp ON grp.campaign_id = cmp.campaign_id
LEFT JOIN ctype ct ON cmp.campaign_type = ct.code
LEFT JOIN gtype gt ON grp.adgroup_type = gt.code
LEFT JOIN atype at ON ad.ad_type = at.code
LEFT JOIN (SELECT ad_id, bundle_product_ids FROM relation WHERE ad_level = 0) rc
  ON grp.campaign_id = rc.ad_id
LEFT JOIN (SELECT ad_id, bundle_product_ids FROM relation WHERE ad_level = 1) rg
  ON ad.adgroup_id = rg.ad_id
LEFT JOIN (SELECT ad_id, bundle_product_ids FROM relation WHERE ad_level = 2) ra
  ON ad.ad_id = ra.ad_id
LEFT JOIN product_rel rp ON ad.product_id = rp.product_id
"""

_META_ACC = """
account(account_id, account_name, account_seq) AS (VALUES
  ('act0', 'meta-a', 1), ('act1', 'meta-b', 2), ('act2', 'meta-c', NULL)
)
"""

ORACLES["meta_adset_master"] = f"""
WITH adset AS (
  SELECT 'act' || CAST(o_orderkey % 3 AS VARCHAR) AS account_id,
    'mc' || CAST(o_orderkey % 16 AS VARCHAR) AS campaign_id,
    'as' || CAST(o_orderkey AS VARCHAR) AS adset_id,
    'adset ' || CAST(o_orderkey % 20 AS VARCHAR) AS adset_name,
    ({_META_STS})[o_orderkey % 6 + 1] AS effective_status,
    CAST((o_orderkey % 30) * 1000 AS BIGINT) AS daily_budget,
    CASE WHEN o_orderkey % 5 = 0 THEN NULL
         ELSE CAST(o_orderdate AS DATE) END AS created_at
  FROM orders WHERE o_orderkey % 8 = 0
), campaign AS (
  SELECT 'mc' || CAST(i AS VARCHAR) AS campaign_id,
    'act' || CAST(i % 3 AS VARCHAR) AS account_id,
    'meta campaign ' || CAST(i AS VARCHAR) AS campaign_name,
    ({_META_OBJS})[i % 8 + 1] AS objective,
    ({_META_STS})[i % 6 + 1] AS effective_status,
    make_date(2024, CAST(i % 12 + 1 AS INT), 5) AS created_at
  FROM range(16) t(i)
), {_META_ACC.strip()},
obj(seq, code, label) AS (VALUES {_vals3(_m.META_OBJECTIVES)}),
st(seq, code, label) AS (VALUES {_vals3(_m.META_EFFECTIVE_STATUSES)})
SELECT adset.account_id, acc.account_name, adset.campaign_id,
  cmp.campaign_name, ob.label AS objective,
  adset.adset_id, adset.adset_name, sf.label AS effective_status,
  adset.daily_budget,
  COALESCE(adset.created_at, cmp.created_at) AS created_at,
  (CASE WHEN sf.code = 'DELETED' THEN 2 ELSE 1 END) * 10000
    + COALESCE(acc.account_seq, 99) * 100 + COALESCE(ob.seq, 99) AS sort_key
FROM adset
LEFT JOIN account acc ON adset.account_id = acc.account_id
LEFT JOIN campaign cmp
  ON adset.account_id = cmp.account_id AND adset.campaign_id = cmp.campaign_id
LEFT JOIN obj ob ON cmp.objective = ob.code
LEFT JOIN st sc ON cmp.effective_status = sc.code
LEFT JOIN st sa ON adset.effective_status = sa.code
LEFT JOIN st sf ON GREATEST(sc.seq, sa.seq) = sf.seq
"""

ORACLES["meta_ad_master"] = f"""
WITH ad AS (
  SELECT 'act' || CAST(CAST((o_orderkey % 27) / 9 AS INT) AS VARCHAR) AS account_id,
    'mc' || CAST(o_orderkey % 16 AS VARCHAR) AS campaign_id,
    'as' || CAST(o_orderkey % 24 AS VARCHAR) AS adset_id,
    'mad' || CAST(o_orderkey AS VARCHAR) AS ad_id,
    'meta ad ' || CAST(o_orderkey % 14 AS VARCHAR) AS ad_name,
    ({_META_STS})[CAST((o_orderkey % 54) / 9 AS INT) + 1] AS effective_status,
    CASE WHEN o_orderkey % 4 = 0 THEN NULL
         ELSE CAST(o_orderdate AS DATE) END AS created_at
  FROM orders WHERE o_orderkey % 9 = 0
), adset AS (
  SELECT 'as' || CAST(i AS VARCHAR) AS adset_id,
    'adset ' || CAST(i AS VARCHAR) AS adset_name,
    ({_META_STS})[i % 6 + 1] AS effective_status,
    CASE WHEN i % 3 = 0 THEN NULL
         ELSE make_date(2024, CAST(i % 12 + 1 AS INT), 10) END AS created_at
  FROM range(24) t(i)
), campaign AS (
  SELECT 'mc' || CAST(i AS VARCHAR) AS campaign_id,
    'meta campaign ' || CAST(i AS VARCHAR) AS campaign_name,
    ({_META_OBJS})[i % 8 + 1] AS objective,
    ({_META_STS})[i % 6 + 1] AS effective_status,
    make_date(2024, CAST(i % 12 + 1 AS INT), 15) AS created_at
  FROM range(16) t(i)
), {_META_ACC.strip()},
relation AS (
  SELECT 'mc' || CAST(i AS VARCHAR) AS ad_id, 0 AS ad_level,
         '200001,200002' AS bundle_product_ids FROM range(0, 16, 2) t(i)
  UNION ALL
  SELECT 'as' || CAST(i AS VARCHAR), 1, '200003' FROM range(0, 24, 3) t(i)
  UNION ALL
  SELECT 'mad' || CAST(i AS VARCHAR), 2, '200004' FROM range(0, 180, 18) t(i)
), obj(seq, code, label) AS (VALUES {_vals3(_m.META_OBJECTIVES)}),
st(seq, code, label) AS (VALUES {_vals3(_m.META_EFFECTIVE_STATUSES)})
SELECT ad.account_id, acc.account_name, ad.campaign_id, cmp.campaign_name,
  ob.label AS objective, ad.adset_id, adset.adset_name,
  ad.ad_id, ad.ad_name, sf.label AS effective_status,
  COALESCE(ra.bundle_product_ids, rs.bundle_product_ids,
           rc.bundle_product_ids) AS bundle_product_ids,
  COALESCE(ad.created_at, adset.created_at, cmp.created_at) AS created_at,
  (CASE WHEN sf.code = 'DELETED' THEN 2 ELSE 1 END) * 10000
    + COALESCE(acc.account_seq, 99) * 100 + COALESCE(ob.seq, 99) AS sort_key
FROM ad
LEFT JOIN account acc ON ad.account_id = acc.account_id
LEFT JOIN campaign cmp ON ad.campaign_id = cmp.campaign_id
LEFT JOIN adset ON ad.adset_id = adset.adset_id
LEFT JOIN obj ob ON cmp.objective = ob.code
LEFT JOIN st sc ON cmp.effective_status = sc.code
LEFT JOIN st ss ON adset.effective_status = ss.code
LEFT JOIN st sa ON ad.effective_status = sa.code
LEFT JOIN st sf ON GREATEST(sc.seq, ss.seq, sa.seq) = sf.seq
LEFT JOIN (SELECT ad_id, bundle_product_ids FROM relation WHERE ad_level = 0) rc
  ON ad.campaign_id = rc.ad_id
LEFT JOIN (SELECT ad_id, bundle_product_ids FROM relation WHERE ad_level = 1) rs
  ON ad.adset_id = rs.ad_id
LEFT JOIN (SELECT ad_id, bundle_product_ids FROM relation WHERE ad_level = 2) ra
  ON ad.ad_id = ra.ad_id
"""

ORACLES["coupang_adgroup_master"] = f"""
WITH adgroup AS (
  SELECT 'v' || CAST(o_orderkey % 3 AS VARCHAR) AS vendor_id,
    'cc' || CAST(o_orderkey % 20 AS VARCHAR) AS campaign_id,
    'cg' || CAST(o_orderkey AS VARCHAR) AS adgroup_id,
    'cp adgroup ' || CAST(o_orderkey % 15 AS VARCHAR) AS adgroup_name,
    CAST(o_orderkey % 4 AS INT) AS goal_type,
    o_orderkey % 2 = 0 AS is_active,
    o_orderkey % 12 = 0 AS is_deleted,
    CAST((o_orderkey % 35) * 10 AS BIGINT) AS roas_target,
    CAST(o_orderdate AS DATE) AS created_at,
    CAST(o_orderdate AS DATE) + 3 AS updated_at
  FROM orders WHERE o_orderkey % 6 = 0
), campaign AS (
  SELECT 'cc' || CAST(i AS VARCHAR) AS campaign_id,
    'coupang campaign ' || CAST(i AS VARCHAR) AS campaign_name,
    CAST(i % 3 AS INT) AS vendor_type,
    CASE WHEN i % 4 = 0 THEN 'BR' ELSE 'PA' END AS campaign_type
  FROM range(20) t(i)
), vendor(vendor_id, vendor_name, vendor_alias, vendor_seq) AS (VALUES
  ('v0', 'vendor-0', 'V0', 1), ('v1', 'vendor-1', 'V1', 2),
  ('v2', 'vendor-2', 'V2', NULL)
), vtype(seq, code, label) AS (VALUES {_vals3(_m.COUPANG_VENDOR_TYPES)}),
ctype(seq, code, label) AS (VALUES {_vals3(_m.COUPANG_CAMPAIGN_TYPES)}),
gtype(seq, code, label) AS (VALUES {_vals3(_m.COUPANG_GOAL_TYPES)})
SELECT grp.vendor_id, vdr.vendor_name, vdr.vendor_alias,
  vt.label AS vendor_type, grp.campaign_id, cmp.campaign_name,
  COALESCE(ct.label, cmp.campaign_type) AS campaign_type,
  grp.adgroup_id, grp.adgroup_name, gt.label AS goal_type,
  grp.is_active, grp.is_deleted, grp.roas_target,
  grp.created_at, grp.updated_at,
  (CASE WHEN grp.is_deleted THEN 2 ELSE 1 END) * 1000
    + COALESCE(vdr.vendor_seq, 99) * 10 + COALESCE(gt.seq, 9) AS sort_key
FROM adgroup grp
LEFT JOIN campaign cmp ON grp.campaign_id = cmp.campaign_id
LEFT JOIN vendor vdr ON grp.vendor_id = vdr.vendor_id
LEFT JOIN vtype vt ON cmp.vendor_type = vt.code
LEFT JOIN ctype ct ON cmp.campaign_type = ct.code
LEFT JOIN gtype gt ON grp.goal_type = gt.code
"""

_G_CAMPAIGN_DIM = f"""
campaign AS (
  SELECT 'gc' || CAST(i AS VARCHAR) AS campaign_id,
    'g campaign ' || CAST(i AS VARCHAR) AS campaign_name,
    ({_G_CTYPES})[i % 14 + 1] AS campaign_type,
    ({_G_BIDS8})[i % 8 + 1] AS bidding_strategy,
    ({_G_STATUSES3})[i % 3 + 1] AS campaign_status,
    make_date(2024, CAST(i % 12 + 1 AS INT), 1) AS created_at
  FROM range(12) t(i)
), account(customer_id, account_name, account_seq) AS (VALUES
  (0, 'google-a', 1), (1, 'google-b', 2), (2, 'google-c', NULL)
)
"""

ORACLES["google_adgroup_master"] = f"""
WITH adgroup AS (
  SELECT CAST(o_orderkey % 3 AS INT) AS customer_id,
    'gc' || CAST(o_orderkey % 12 AS VARCHAR) AS campaign_id,
    'gg' || CAST(o_orderkey AS VARCHAR) AS adgroup_id,
    'g adgroup ' || CAST(o_orderkey % 22 AS VARCHAR) AS adgroup_name,
    ({_G_GTYPES12})[o_orderkey % 12 + 1] AS adgroup_type,
    ({_G_STATUSES})[o_orderkey % 5 + 1] AS adgroup_status,
    CAST((o_orderkey % 40) * 100 AS BIGINT) AS target_cpa,
    CAST(o_orderkey % 900 AS BIGINT) AS impression_count_30d,
    CAST(o_orderkey % 90 AS BIGINT) AS click_count_30d,
    CAST((o_orderkey % 80) * 10 AS BIGINT) AS ad_cost_30d
  FROM orders WHERE o_orderkey % 4 = 0
), {_G_CAMPAIGN_DIM.strip()},
st_map(seq, code, label) AS (VALUES {_vals3(_m.GOOGLE_STATUSES)}),
ctype(seq, code, label) AS (VALUES {_vals3(_m.GOOGLE_CAMPAIGN_TYPES)}),
btype(seq, code, label) AS (VALUES {_vals3(_m.GOOGLE_BIDDING_STRATEGIES)}),
gtype(seq, code, label) AS (VALUES {_vals3(_m.GOOGLE_ADGROUP_TYPES)})
SELECT grp.customer_id, acc.account_name, grp.campaign_id,
  cmp.campaign_name, ct.label AS campaign_type, bt.label AS bidding_strategy,
  grp.adgroup_id, grp.adgroup_name, agt.label AS adgroup_type,
  sf.label AS adgroup_status, grp.target_cpa,
  grp.impression_count_30d, grp.click_count_30d, grp.ad_cost_30d,
  cmp.created_at,
  (CASE WHEN sf.code = 'REMOVED' THEN 2 ELSE 1 END) * 1000000
    + COALESCE(acc.account_seq, 99) * 10000 + COALESCE(ct.seq, 99) * 100
    + COALESCE(agt.seq, 99) AS sort_key
FROM adgroup grp
LEFT JOIN account acc ON grp.customer_id = acc.customer_id
LEFT JOIN campaign cmp ON grp.campaign_id = cmp.campaign_id
LEFT JOIN ctype ct ON cmp.campaign_type = ct.code
LEFT JOIN btype bt ON cmp.bidding_strategy = bt.code
LEFT JOIN gtype agt ON grp.adgroup_type = agt.code
LEFT JOIN st_map sc ON cmp.campaign_status = sc.code
LEFT JOIN st_map sg ON grp.adgroup_status = sg.code
LEFT JOIN st_map sf ON GREATEST(sc.seq, sg.seq) = sf.seq
"""

ORACLES["google_campaign_master"] = f"""
WITH campaign AS (
  SELECT CAST(o_orderkey % 3 AS INT) AS customer_id,
    'gcm' || CAST(o_orderkey AS VARCHAR) AS campaign_id,
    'g campaign ' || CAST(o_orderkey % 18 AS VARCHAR) AS campaign_name,
    ({_G_CTYPES})[o_orderkey % 14 + 1] AS campaign_type,
    ({_G_BIDS8})[o_orderkey % 8 + 1] AS bidding_strategy,
    ({_G_STATUSES})[o_orderkey % 5 + 1] AS campaign_status,
    CAST((o_orderkey % 60) * 1000 AS BIGINT) AS campaign_budget,
    CAST(o_orderkey % 1000 AS BIGINT) AS impression_count_30d,
    CAST(o_orderkey % 100 AS BIGINT) AS click_count_30d,
    CAST((o_orderkey % 90) * 10 AS BIGINT) AS ad_cost_30d,
    CAST(o_orderdate AS DATE) AS created_at
  FROM orders WHERE o_orderkey % 10 = 0
), account(customer_id, account_name, account_seq) AS (VALUES
  (0, 'google-a', 1), (1, 'google-b', 2), (2, 'google-c', NULL)
), st_map(seq, code, label) AS (VALUES {_vals3(_m.GOOGLE_STATUSES)}),
ctype(seq, code, label) AS (VALUES {_vals3(_m.GOOGLE_CAMPAIGN_TYPES)}),
btype(seq, code, label) AS (VALUES {_vals3(_m.GOOGLE_BIDDING_STRATEGIES)})
SELECT cmp.customer_id, acc.account_name, cmp.campaign_id, cmp.campaign_name,
  ct.label AS campaign_type, cs.label AS campaign_status,
  bt.label AS bidding_strategy, cmp.campaign_budget,
  cmp.impression_count_30d, cmp.click_count_30d, cmp.ad_cost_30d,
  cmp.created_at,
  (CASE WHEN cmp.campaign_status = 'REMOVED' THEN 2 ELSE 1 END) * 10000
    + COALESCE(acc.account_seq, 99) * 100 + COALESCE(ct.seq, 99) AS sort_key
FROM campaign cmp
LEFT JOIN account acc ON cmp.customer_id = acc.customer_id
LEFT JOIN ctype ct ON cmp.campaign_type = ct.code
LEFT JOIN btype bt ON cmp.bidding_strategy = bt.code
LEFT JOIN st_map cs ON cmp.campaign_status = cs.code
"""

# --- product-family masters ----------------------------------------------
from linkmerce_spark.marts import product as _p

_SMT_PS = _arr([c for _, c, _ in _p.SMARTSTORE_PRODUCT_STATUSES])
_SMT_DP = _arr([c for _, c, _ in _p.SMARTSTORE_DISPLAY_TYPES])

_SMT_PM_CTE = f"""
ss_product AS (
  SELECT 'sp' || CAST(o_orderkey AS VARCHAR) AS product_id,
    CAST(o_orderkey % 100000 AS BIGINT) AS product_no,
    CASE WHEN o_orderkey % 5 = 0 THEN NULL
         ELSE 'cat' || CAST(o_orderkey % 300 AS VARCHAR) END AS catalog_id,
    CAST(o_orderkey % 6 AS INT) AS channel_seq,
    'ss product ' || CAST(o_orderkey % 35 AS VARCHAR) AS product_name,
    ({_SMT_PS})[o_orderkey % 9 + 1] AS status_type,
    ({_SMT_DP})[o_orderkey % 3 + 1] AS display_type,
    CAST(o_orderkey % 13 AS INT) AS delivery_type,
    'c' || CAST(o_orderkey % 40 AS VARCHAR) AS category_id,
    'tag' || CAST(o_orderkey % 7 AS VARCHAR) AS tags,
    CAST((o_orderkey % 500) * 100 AS BIGINT) AS price,
    CAST((o_orderkey % 450) * 100 AS BIGINT) AS sales_price,
    CAST((o_orderkey % 4) * 2500 AS BIGINT) AS delivery_fee,
    CAST(o_orderdate AS DATE) AS register_dt,
    CAST(o_orderdate AS DATE) + 1 AS modify_dt
  FROM orders WHERE o_orderkey % 3 = 0
), ss_channel AS (
  SELECT CAST(i AS INT) AS channel_seq, 'team' || CAST(i % 3 AS VARCHAR) AS team_name,
    'brand' || CAST(i AS VARCHAR) AS brand_name,
    CASE WHEN i % 5 = 4 THEN NULL ELSE CAST(i + 1 AS INT) END AS brand_seq
  FROM range(6) t(i)
), ss_category AS (
  SELECT 'c' || CAST(i AS VARCHAR) AS category_id,
    'k1-' || CAST(i % 3 AS VARCHAR) AS category_name1,
    'k2-' || CAST(i % 4 AS VARCHAR) AS category_name2,
    'k3-' || CAST(i % 5 AS VARCHAR) AS category_name3,
    'k4-' || CAST(i % 6 AS VARCHAR) AS category_name4
  FROM range(40) t(i)
), ss_st(seq, code, label) AS (VALUES {_vals3(_p.SMARTSTORE_PRODUCT_STATUSES)}),
ss_dp(seq, code, label) AS (VALUES {_vals3(_p.SMARTSTORE_DISPLAY_TYPES)}),
ss_dl(seq, code, label) AS (VALUES {_vals3(_p.SMARTSTORE_DELIVERY_TYPES)}),
ss_pm AS (
  SELECT prd.product_id, prd.product_no, prd.catalog_id,
    chl.team_name, chl.brand_name, prd.product_name,
    st.label AS status_type, dp.label AS display_type, dl.label AS delivery_type,
    prd.category_id, cat.category_name1, cat.category_name2,
    cat.category_name3, cat.category_name4,
    prd.tags, prd.price, prd.sales_price, prd.delivery_fee,
    prd.register_dt, prd.modify_dt,
    CAST(COALESCE(chl.brand_seq, 99) * 1000
         + COALESCE(prd.delivery_type, 99) * 10
         + COALESCE(st.seq, 9) AS INT) AS sort_key
  FROM ss_product prd
  LEFT JOIN ss_channel chl ON prd.channel_seq = chl.channel_seq
  LEFT JOIN ss_st st ON prd.status_type = st.code
  LEFT JOIN ss_dp dp ON prd.display_type = dp.code
  LEFT JOIN ss_dl dl ON prd.delivery_type = dl.code
  LEFT JOIN ss_category cat ON prd.category_id = cat.category_id
)
"""

ORACLES["smartstore_product_master"] = f"""
WITH {_SMT_PM_CTE.strip()}
SELECT * FROM ss_pm
"""

ORACLES["smartstore_option_master"] = f"""
WITH {_SMT_PM_CTE.strip()},
ss_opt AS (
  SELECT 'sp' || CAST(o_orderkey % 1000 AS VARCHAR) AS product_id,
    'so' || CAST(o_orderkey AS VARCHAR) AS option_id,
    CAST(o_orderkey % 6 AS INT) AS channel_seq,
    'ss product ' || CAST(o_orderkey % 35 AS VARCHAR) AS product_name,
    'option ' || CAST(o_orderkey % 12 AS VARCHAR) AS option_name,
    CAST(o_orderkey % 4 AS INT) AS product_type,
    'SPC' || CAST(o_orderkey % 30 AS VARCHAR) AS seller_product_code,
    CASE WHEN o_orderkey % 6 = 0 THEN NULL
         ELSE 'SOC' || CAST(o_orderkey % 25 AS VARCHAR) END AS seller_option_code,
    CAST((o_orderkey % 450) * 100 AS BIGINT) AS sales_price,
    CAST((o_orderkey % 20) * 50 AS BIGINT) AS option_price,
    CAST(o_orderdate AS DATE) AS first_payment_dt,
    CAST(o_orderdate AS DATE) + 30 AS last_payment_dt
  FROM orders WHERE o_orderkey % 4 = 0
), ss_pt(seq, code, label) AS (VALUES {_vals3(_p.SMARTSTORE_PRODUCT_TYPES)}),
nines AS (
  SELECT CAST(repeat('9', length(CAST(MAX(sort_key) AS VARCHAR))) AS BIGINT) AS n
  FROM ss_pm
)
SELECT opt.product_id, opt.option_id, chl.team_name, chl.brand_name,
  opt.product_name, opt.option_name, pt.label AS product_type,
  opt.seller_product_code, opt.seller_option_code,
  opt.sales_price, opt.option_price,
  opt.first_payment_dt, opt.last_payment_dt,
  CAST(COALESCE(CAST(prd.sort_key AS BIGINT), nines.n) AS INT) AS sort_key1,
  opt.product_type AS sort_key2
FROM ss_opt opt
LEFT JOIN ss_channel chl ON opt.channel_seq = chl.channel_seq
LEFT JOIN ss_pm prd ON opt.product_id = prd.product_id
LEFT JOIN ss_pt pt ON opt.product_type = pt.code
CROSS JOIN nines
"""

_CORE_PM_SUB = """
core_pm AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY product_id
      ORDER BY item_seq ASC NULLS LAST, item_id ASC) AS rn
    FROM item WHERE product_id IS NOT NULL
  ) WHERE rn = 1
)
"""

_CORE_BM_SUB = """
core_bm AS (
  SELECT brand_id, item_id, item_seq, team_name, brand_name, brand_seq FROM (
    SELECT *,
      ROW_NUMBER() OVER (ORDER BY team_name DESC NULLS LAST, brand_id ASC,
                         item_seq ASC NULLS LAST, item_id ASC) AS brand_seq,
      ROW_NUMBER() OVER (PARTITION BY brand_id
                         ORDER BY item_seq ASC NULLS LAST, item_id ASC) AS rn1,
      ROW_NUMBER() OVER (PARTITION BY brand_name
                         ORDER BY item_seq ASC NULLS LAST, item_id ASC) AS rn2
    FROM (
      SELECT product_id AS brand_id, item_id, item_seq, team_name, brand_name
      FROM item
      WHERE starts_with(product_id, '2')
        AND NULLIF(brand_name, '브랜드 없음') IS NOT NULL
    )
  ) WHERE rn1 = 1 AND rn2 = 1
)
"""

ORACLES["coupang_option_master"] = f"""
WITH {_CORE_ITEM_CTE.strip()}, {_CORE_PM_SUB.strip()},
cp_opt AS (
  SELECT CAST(o_orderkey % 3000 AS BIGINT) AS product_id,
    'co' || CAST(o_orderkey AS VARCHAR) AS option_id,
    CASE WHEN o_orderkey % 4 = 0 THEN NULL
         ELSE 'ob' || CAST(o_orderkey % 6 AS VARCHAR) END AS brand_name,
    'cp product ' || CAST(o_orderkey % 25 AS VARCHAR) AS product_name,
    'cp option ' || CAST(o_orderkey % 9 AS VARCHAR) AS option_name,
    CAST(o_orderkey % 4 AS INT) AS product_status,
    o_orderkey % 10 = 0 AS is_deleted,
    'ccat' || CAST(o_orderkey % 8 AS VARCHAR) AS category_name,
    'v' || CAST(o_orderkey % 4 AS VARCHAR) AS vendor_id,
    CAST((o_orderkey % 300) * 100 AS BIGINT) AS sales_price,
    CAST(o_orderdate AS DATE) AS register_dt,
    CAST(o_orderdate AS DATE) + 5 AS modify_dt
  FROM orders WHERE o_orderkey % 5 = 0
), cp_vendor(vendor_id, vendor_name, vendor_seq) AS (VALUES
  ('v0', 'vendor-0', 1), ('v1', 'vendor-1', 2), ('v2', 'vendor-2', NULL)
), cp_rel AS (
  SELECT 'co' || CAST(i AS VARCHAR) AS option_id,
    CASE WHEN i % 2 = 0 THEN '2' || CAST(i % 60 AS VARCHAR)
         ELSE '2' || CAST(i % 60 AS VARCHAR) || ',77' END AS bundle_product_ids
  FROM range(0, 3000, 15) t(i)
)
SELECT opt.product_id, opt.option_id, itm.team_name,
  COALESCE(itm.brand_name, opt.brand_name) AS brand_name,
  opt.product_name, opt.option_name,
  CASE WHEN opt.product_status = 0 THEN '판매중'
       WHEN opt.product_status = 1 THEN '품절'
       WHEN opt.product_status = 2 THEN '숨김상품' END AS product_status,
  opt.is_deleted, opt.category_name, vdr.vendor_name, opt.sales_price,
  opt.register_dt, opt.modify_dt,
  (CASE WHEN opt.is_deleted THEN 2 ELSE 1 END) * 100
    + COALESCE(vdr.vendor_seq, 99) AS sort_key1,
  COALESCE(opt.product_status, 9) AS sort_key2
FROM cp_opt opt
LEFT JOIN cp_vendor vdr ON opt.vendor_id = vdr.vendor_id
LEFT JOIN cp_rel rel ON opt.option_id = rel.option_id
LEFT JOIN core_pm itm ON left(rel.bundle_product_ids, 6) = itm.product_id
"""

_SBN_FEEDS_CTE = """
sbn_product AS (
  SELECT product_id, model_code, model_id, product_name, product_keyword,
    brand_name, product_status, manufacture_year, sales_price, org_price,
    image_file, register_dt, modify_dt
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY product_id ORDER BY k) AS prn
    FROM (
      SELECT o_orderkey AS k,
        CASE WHEN o_orderkey % 5 = 0 THEN '2' || CAST(o_orderkey % 60 AS VARCHAR)
             ELSE 'sb' || CAST(o_orderkey AS VARCHAR) END AS product_id,
        'MC' || CAST(o_orderkey % 50 AS VARCHAR) AS model_code,
        CAST(o_orderkey % 500 AS BIGINT) AS model_id,
        'sb name ' || CAST(o_orderkey % 30 AS VARCHAR) AS product_name,
        CASE WHEN o_orderkey % 7 = 0 THEN NULL
             ELSE 'kw' || CAST(o_orderkey % 10 AS VARCHAR) END AS product_keyword,
        'brand' || CAST(o_orderkey % 9 AS VARCHAR) AS brand_name,
        CAST(o_orderkey % 9 AS INT) AS product_status,
        CAST(1990 + o_orderkey % 30 AS INT) AS manufacture_year,
        CAST((o_orderkey % 400) * 100 AS BIGINT) AS sales_price,
        CAST((o_orderkey % 350) * 100 AS BIGINT) AS org_price,
        CASE WHEN o_orderkey % 3 = 0
             THEN 'img' || CAST(o_orderkey AS VARCHAR) || '.jpg' END AS image_file,
        CAST(o_orderdate AS DATE) AS register_dt,
        CAST(o_orderdate AS DATE) + 2 AS modify_dt
      FROM orders WHERE o_orderkey % 6 = 0
    )
  ) WHERE prn = 1
), sbn_option AS (
  SELECT
    (CASE WHEN o_orderkey % 5 = 0 THEN '2' || CAST(o_orderkey % 60 AS VARCHAR)
          ELSE 'sb' || CAST(o_orderkey AS VARCHAR) END)
      || '-' || CAST(o_orderkey % 10000 AS VARCHAR) AS option_id,
    CASE WHEN o_orderkey % 3 = 0
         THEN '1' || CAST(o_orderkey % 80 AS VARCHAR) || '-0001:2,2'
              || CAST(o_orderkey % 60 AS VARCHAR) || '-0002'
         WHEN o_orderkey % 3 = 1 THEN NULL
         ELSE '9' || CAST(o_orderkey % 100 AS VARCHAR) || ':x' END AS bundle_option_ids,
    CAST(o_orderkey % 5 AS INT) AS option_type,
    'og' || CAST(o_orderkey % 5 AS VARCHAR) AS option_group,
    'sb option ' || CAST(o_orderkey % 11 AS VARCHAR) AS option_name,
    CAST(o_orderkey % 4 AS INT) AS option_status,
    CAST(o_orderkey % 5 + 1 AS INT) AS option_quantity,
    CAST((o_orderkey % 40) * 100 AS BIGINT) AS option_price,
    CAST(o_orderdate AS DATE) AS register_dt
  FROM orders WHERE o_orderkey % 4 = 0
)
"""

_SBN_PM_SQL = f"""
sbn_ex AS (
  SELECT split_part(option_id, '-', 1) AS opt_product_id, option_type,
    UNNEST(string_split(COALESCE(bundle_option_ids, option_id), ',')) AS element
  FROM sbn_option
), sbn_joined AS (
  SELECT e.opt_product_id, c.item_id, c.item_seq, e.option_type,
    COUNT(*) OVER (PARTITION BY e.opt_product_id) AS option_count,
    CASE WHEN regexp_matches(split_part(e.element, ':', 2), '^[0-9]+$')
         THEN CAST(split_part(e.element, ':', 2) AS INT) ELSE 1 END AS option_quantity,
    e.element
  FROM sbn_ex e LEFT JOIN core_pm c ON split_part(e.element, '-', 1) = c.product_id
), sbn_primary AS (
  SELECT opt_product_id AS product_id, item_id, item_seq, option_type,
    option_count, option_quantity
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY opt_product_id
      ORDER BY item_seq ASC NULLS LAST, option_quantity DESC, element ASC) AS rn
    FROM sbn_joined
  ) WHERE rn = 1
), sbn_scale AS (
  SELECT POWER(10, MAX(length(CAST(option_quantity AS VARCHAR)))) AS s
  FROM sbn_primary
), sbn_st(seq, code, label) AS (VALUES {_vals3(_p.SABANGNET_PRODUCT_STATUSES)}),
sbn_ot(seq, code, label) AS (VALUES {_vals3(_p.SABANGNET_OPTION_TYPES)}),
sbn_pm AS (
  SELECT prd.product_id, prd.model_code, prd.model_id, prd.product_name,
    prd.product_keyword, prd.brand_name,
    itm.category_name1, itm.category_name2, itm.category_name3, itm.category_name4,
    st.label AS product_status,
    CASE WHEN main.product_id IS NOT NULL THEN '대표' ELSE ot.label END AS option_type,
    opt.option_count, prd.manufacture_year, prd.sales_price, prd.org_price,
    CASE WHEN prd.image_file IS NOT NULL
         THEN 'https://pic.sabangnet.co.kr/product_image/mw115815/100/' || prd.image_file
    END AS image_url,
    prd.register_dt, prd.modify_dt,
    CAST(
      COALESCE(CAST(opt.item_seq AS DOUBLE),
               CAST(COALESCE(brd.item_seq, 99000000) AS DOUBLE) + 999999)
        * q.s * 10
      + CAST(CASE WHEN main.product_id IS NOT NULL THEN 0
                  ELSE COALESCE(opt.option_type, 9) END AS DOUBLE) * q.s
      + CAST(opt.option_quantity AS DOUBLE)
    AS BIGINT) AS sort_key
  FROM sbn_product prd
  LEFT JOIN sbn_primary opt ON prd.product_id = opt.product_id
  LEFT JOIN item itm ON opt.item_id = itm.item_id
  LEFT JOIN core_pm main ON prd.product_id = main.product_id
  LEFT JOIN sbn_st st ON prd.product_status = st.code
  LEFT JOIN sbn_ot ot ON opt.option_type = ot.code
  LEFT JOIN core_bm brd ON prd.brand_name = brd.brand_name
  CROSS JOIN sbn_scale q
)
"""

ORACLES["sabangnet_product_master"] = f"""
WITH {_CORE_ITEM_CTE.strip()}, {_CORE_PM_SUB.strip()}, {_CORE_BM_SUB.strip()},
{_SBN_FEEDS_CTE.strip()},
{_SBN_PM_SQL.strip()}
SELECT * FROM sbn_pm
"""

ORACLES["sabangnet_option_master"] = f"""
WITH {_CORE_ITEM_CTE.strip()}, {_CORE_PM_SUB.strip()}, {_CORE_BM_SUB.strip()},
{_SBN_FEEDS_CTE.strip()},
{_SBN_PM_SQL.strip()},
opt_ex AS (
  SELECT option_id,
    UNNEST(string_split(COALESCE(bundle_option_ids, option_id), ',')) AS element
  FROM sbn_option
), opt_primary AS (
  SELECT option_id AS p_opt, item_id AS p_item FROM (
    SELECT e.option_id, c.item_id,
      ROW_NUMBER() OVER (PARTITION BY e.option_id
        ORDER BY c.item_seq ASC NULLS LAST, e.element ASC) AS rn
    FROM opt_ex e LEFT JOIN core_pm c ON split_part(e.element, '-', 1) = c.product_id
  ) WHERE rn = 1
), opt_bex AS (
  SELECT option_id,
    UNNEST(string_split(bundle_option_ids, ',')) AS element,
    UNNEST(range(1, len(string_split(bundle_option_ids, ',')) + 1)) AS pos
  FROM sbn_option WHERE bundle_option_ids IS NOT NULL
), bundle_names AS (
  SELECT b.option_id AS b_opt,
    string_agg(
      COALESCE(c.product_name || ' x '
               || COALESCE(NULLIF(split_part(b.element, ':', 2), ''), '1'),
               '상품코드 불일치'),
      chr(10) ORDER BY b.pos) AS bundle_option_names
  FROM opt_bex b
  LEFT JOIN core_pm c
    ON split_part(split_part(b.element, ':', 1), '-', 1) = c.product_id
  GROUP BY b.option_id
), opt_st(seq, code, label) AS (VALUES {_vals3(_p.SABANGNET_OPTION_STATUSES)}),
opt_ty(seq, code, label) AS (VALUES {_vals3(_p.SABANGNET_OPTION_TYPES)}),
sbn_nines AS (
  SELECT CAST(repeat('9', length(CAST(MAX(sort_key) AS VARCHAR))) AS BIGINT) AS n
  FROM sbn_pm
)
SELECT split_part(opt.option_id, '-', 1) AS product_id,
  opt.option_id, prd.model_code, prd.model_id, prd.product_name,
  prd.product_keyword, opt.option_group, opt.option_name, prd.brand_name,
  itm.category_name1, itm.category_name2, itm.category_name3, itm.category_name4,
  opt.bundle_option_ids, bundle.bundle_option_names,
  ost.label AS option_status,
  CASE WHEN prd.option_type = '대표' THEN '대표' ELSE oty.label END AS option_type,
  opt.option_quantity, opt.option_price, opt.register_dt,
  COALESCE(prd.sort_key, sbn_nines.n) AS sort_key
FROM sbn_option opt
LEFT JOIN sbn_pm prd ON split_part(opt.option_id, '-', 1) = prd.product_id
LEFT JOIN opt_primary main ON opt.option_id = main.p_opt
LEFT JOIN item itm ON main.p_item = itm.item_id
LEFT JOIN bundle_names bundle ON opt.option_id = bundle.b_opt
LEFT JOIN opt_st ost ON opt.option_status = ost.code
LEFT JOIN opt_ty oty ON opt.option_type = oty.code
CROSS JOIN sbn_nines
"""

# --- report_daily family -------------------------------------------------
import re as _re

from linkmerce_spark import queries as _q
from linkmerce_spark.marts import adreport as _ar

_DATE_RE = _re.compile(r"^\d{4}-\d{2}-\d{2}$")


def _sql_val(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, str) and _DATE_RE.match(v):
        return f"DATE '{v}'"
    return "'" + str(v).replace("'", "''") + "'"


def _sql_rows(rows) -> str:
    return ", ".join("(" + ", ".join(_sql_val(v) for v in r) + ")" for r in rows)


_RD_PROD_ATTRS = """
    product.item_id,
    COALESCE(product.item_seq, 99999999) AS item_seq,
    COALESCE(product.team_name, '담당팀 없음') AS team_name,
    COALESCE(product.brand_name, '브랜드 없음') AS brand_name,
    COALESCE(product.category_name1, '-') AS category_name1,
    COALESCE(product.category_name2, '-') AS category_name2,
    COALESCE(product.category_name3, '-') AS category_name3,
    COALESCE(product.category_name4, '-') AS category_name4,
    COALESCE(product.color, '-') AS color,
    COALESCE(product.product_name, '-') AS product_name
"""

_RD_SA_CTES = f"""
sa_ins AS (
  SELECT CAST(o_orderdate AS DATE) AS ymd,
    'cmp' || CAST(o_orderkey % 12 AS VARCHAR) AS campaign_id,
    'ad' || CAST(o_orderkey % 15 AS VARCHAR) AS ad_id,
    '1' || CAST(o_orderkey % 80 AS VARCHAR) AS product_id,
    CASE WHEN o_orderkey % 11 = 0 THEN 9 ELSE CAST(o_orderkey % 4 AS INT) END AS device_type,
    CAST(o_orderkey % 500 AS BIGINT) AS impression_count,
    CAST(o_orderkey % 50 AS BIGINT) AS click_count,
    CAST((o_orderkey % 90) * 10 AS BIGINT) AS ad_cost,
    CAST(o_orderkey % 200 AS BIGINT) AS ad_rank_sum,
    CAST(o_orderkey % 5 AS BIGINT) AS conv_count,
    CAST(o_orderkey % 3 AS BIGINT) AS direct_conv_count,
    CAST((o_orderkey % 40) * 100 AS BIGINT) AS conv_amount,
    CAST((o_orderkey % 20) * 100 AS BIGINT) AS direct_conv_amount
  FROM orders WHERE o_orderkey % 2 = 0
), sa_ct AS (
  SELECT 'ct' || CAST(o_orderkey % 20 AS VARCHAR) AS contract_id,
    'cg' || CAST(o_orderkey % 8 AS VARCHAR) AS adgroup_id,
    '2' || CAST(o_orderkey % 60 AS VARCHAR) AS product_id,
    CAST((o_orderkey % 70) * 100 AS BIGINT) AS ad_cost,
    CAST(o_orderdate AS DATE) AS ymd
  FROM orders WHERE o_orderkey % 9 = 0
), sa_cmp(campaign_id, customer_id, account_name, account_type, campaign_name,
          campaign_type, ad_type, is_enabled, is_deleted) AS (VALUES
  {_sql_rows(_q.RD_SEARCHAD_CAMPAIGNS)}
), sa_ad(ad_id, customer_id, account_name, account_type, campaign_name,
         campaign_type, adgroup_id, adgroup_name, adgroup_type, title,
         description, ad_type, is_enabled, is_deleted, mall_product_id) AS (VALUES
  {_sql_rows(_q.RD_SEARCHAD_ADS)}
), sa_ctm(contract_id, customer_id, account_name, account_type, campaign_id,
          campaign_name, campaign_type, adgroup_name, adgroup_type,
          contract_name, contract_type, cancel_date) AS (VALUES
  {_sql_rows(_q.RD_SEARCHAD_CONTRACTS)}
), sa_dev(seq, code, label) AS (VALUES {_vals3(_ar.SEARCHAD_DEVICE_TYPES)}),
sa_rd AS (
  SELECT
    COALESCE(ad.customer_id, cmp.customer_id) AS customer_id,
    COALESCE(ad.account_name, cmp.account_name) AS account_name,
    COALESCE(ad.account_type, cmp.account_type) AS account_type,
    i.campaign_id,
    COALESCE(ad.campaign_name, cmp.campaign_name) AS campaign_name,
    COALESCE(ad.campaign_type, cmp.campaign_type, '캠페인 없음') AS campaign_type,
    ad.adgroup_id, ad.adgroup_name,
    COALESCE(ad.adgroup_type, cmp.account_type || '-기타', '그룹 없음') AS adgroup_type,
    i.ad_id, ad.title, ad.description,
    COALESCE(ad.ad_type, cmp.ad_type, '유형 없음') AS ad_type,
    COALESCE(ad.is_enabled, cmp.is_enabled) AS is_enabled,
    COALESCE(ad.is_deleted, cmp.is_deleted) AS is_deleted,
    ad.mall_product_id, i.product_id,
    {_RD_PROD_ATTRS.strip()},
    COALESCE(dev.label, '-') AS device_type,
    i.impression_count, i.click_count, i.ad_cost, i.ad_rank_sum,
    i.conv_count, i.direct_conv_count, i.conv_amount, i.direct_conv_amount,
    i.ymd
  FROM sa_ins i
  LEFT JOIN sa_dev dev ON i.device_type = dev.code
  LEFT JOIN sa_cmp cmp ON i.campaign_id = cmp.campaign_id
  LEFT JOIN sa_ad ad ON i.ad_id = ad.ad_id
  LEFT JOIN core_pm product ON i.product_id = product.product_id
  WHERE i.ymd BETWEEN DATE '1996-01-01' AND DATE '1996-06-30'
  UNION ALL
  SELECT
    m.customer_id, m.account_name, m.account_type, m.campaign_id,
    m.campaign_name, COALESCE(m.campaign_type, '캠페인 없음'),
    c.adgroup_id, m.adgroup_name, COALESCE(m.adgroup_type, '그룹 없음'),
    c.contract_id, m.contract_name, CAST(NULL AS VARCHAR),
    COALESCE(m.contract_type, '유형 없음'),
    m.cancel_date IS NULL, m.cancel_date IS NOT NULL,
    CAST(NULL AS VARCHAR), c.product_id,
    {_RD_PROD_ATTRS.strip()},
    '계약', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), c.ad_cost,
    CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
    CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), c.ymd
  FROM sa_ct c
  LEFT JOIN sa_ctm m ON c.contract_id = m.contract_id
  LEFT JOIN core_pm product ON c.product_id = product.product_id
  WHERE c.ymd BETWEEN DATE '1996-01-01' AND DATE '1996-06-30'
)
"""

_RD_G_CTES = f"""
g_ins AS (
  SELECT CAST(o_orderdate AS DATE) AS ymd,
    'ga' || CAST(o_orderkey % 20 AS VARCHAR) AS ad_id,
    '1' || CAST(o_orderkey % 80 AS VARCHAR) AS product_id,
    CAST(o_orderkey % 8 AS INT) AS device_type,
    CAST(o_orderkey % 400 AS BIGINT) AS impression_count,
    CAST(o_orderkey % 40 AS BIGINT) AS click_count,
    CAST((o_orderkey % 80) * 10 AS BIGINT) AS ad_cost
  FROM orders WHERE o_orderkey % 3 = 0
), g_ad(ad_id, customer_id, account_name, campaign_id, campaign_name,
        campaign_type, adgroup_id, adgroup_name, adgroup_type, ad_name,
        ad_type, ad_status) AS (VALUES
  {_sql_rows(_q.RD_GOOGLE_ADS)}
), g_dev(seq, code, label) AS (VALUES {_vals3(_ar.GOOGLE_DEVICE_TYPES)}),
g_rd AS (
  SELECT master.customer_id, master.account_name, master.campaign_id,
    master.campaign_name,
    COALESCE(master.campaign_type, '캠페인 없음') AS campaign_type,
    master.adgroup_id, master.adgroup_name,
    COALESCE(master.adgroup_type, '그룹 없음') AS adgroup_type,
    i.ad_id, master.ad_name,
    COALESCE(master.ad_type, '유형 없음') AS ad_type,
    COALESCE(master.ad_status, '알 수 없음') AS ad_status,
    i.product_id,
    {_RD_PROD_ATTRS.strip()},
    COALESCE(dev.label, '-') AS device_type,
    i.impression_count, i.click_count, i.ad_cost, i.ymd
  FROM g_ins i
  LEFT JOIN g_dev dev ON i.device_type = dev.code
  LEFT JOIN g_ad master ON i.ad_id = master.ad_id
  LEFT JOIN core_pm product ON i.product_id = product.product_id
  WHERE i.ymd BETWEEN DATE '1996-01-01' AND DATE '1996-06-30'
)
"""

_RD_M_CTES = f"""
m_ins AS (
  SELECT CAST(o_orderdate AS DATE) AS ymd,
    'mad' || CAST(o_orderkey % 15 AS VARCHAR) AS ad_id,
    '1' || CAST(o_orderkey % 80 AS VARCHAR) AS product_id,
    CAST(o_orderkey % 600 AS BIGINT) AS impression_count,
    CAST(o_orderkey % 300 AS BIGINT) AS reach_count,
    CAST(o_orderkey % 60 AS BIGINT) AS click_count,
    CAST(o_orderkey % 30 AS BIGINT) AS link_click_count,
    CAST((o_orderkey % 75) * 10 AS BIGINT) AS ad_cost
  FROM orders WHERE o_orderkey % 4 = 0
), m_ad(ad_id, account_id, account_name, campaign_id, campaign_name,
        objective, adset_id, adset_name, ad_name, effective_status) AS (VALUES
  {_sql_rows(_q.RD_META_ADS)}
), m_rd AS (
  SELECT master.account_id, master.account_name, master.campaign_id,
    master.campaign_name,
    COALESCE(master.objective, '-') AS objective,
    master.adset_id, master.adset_name,
    i.ad_id, master.ad_name,
    COALESCE(master.effective_status, '-') AS effective_status,
    i.product_id,
    {_RD_PROD_ATTRS.strip()},
    i.impression_count, i.reach_count, i.click_count, i.link_click_count,
    i.ad_cost, i.ymd
  FROM m_ins i
  LEFT JOIN m_ad master ON i.ad_id = master.ad_id
  LEFT JOIN core_pm product ON i.product_id = product.product_id
  WHERE i.ymd BETWEEN DATE '1996-01-01' AND DATE '1996-06-30'
)
"""

_RD_C_CTES = f"""
c_ins AS (
  SELECT CAST(o_orderdate AS DATE) AS ymd,
    'cc' || CAST(o_orderkey % 10 AS VARCHAR) AS campaign_id,
    'co' || CAST(o_orderkey % 40 AS VARCHAR) AS option_id,
    '2' || CAST(o_orderkey % 60 AS VARCHAR) AS product_id,
    CAST(o_orderkey % 4 AS INT) AS placement_group,
    CAST(o_orderkey % 350 AS BIGINT) AS impression_count,
    CAST(o_orderkey % 35 AS BIGINT) AS click_count,
    CAST((o_orderkey % 85) * 10 AS BIGINT) AS ad_cost,
    CAST(o_orderkey % 6 AS BIGINT) AS conv_count,
    CAST(o_orderkey % 4 AS BIGINT) AS direct_conv_count,
    CAST((o_orderkey % 45) * 100 AS BIGINT) AS conv_amount,
    CAST((o_orderkey % 25) * 100 AS BIGINT) AS direct_conv_amount
  FROM orders WHERE o_orderkey % 5 = 0
), c_cmp(campaign_id, vendor_id, vendor_name, vendor_alias, vendor_type,
         campaign_name, campaign_type, goal_type, is_active, is_deleted) AS (VALUES
  {_sql_rows(_q.RD_COUPANG_CAMPAIGNS)}
), c_opt(option_id, product_name, option_name, category_name) AS (VALUES
  {_sql_rows(_q.RD_COUPANG_OPTIONS)}
), c_pl(seq, code, label) AS (VALUES {_vals3(_ar.COUPANG_PLACEMENT_GROUPS)}),
c_rd AS (
  SELECT master.vendor_id, master.vendor_name, master.vendor_alias,
    master.vendor_type, i.campaign_id, master.campaign_name,
    COALESCE(master.campaign_type, '캠페인 없음') AS campaign_type,
    COALESCE(master.goal_type, '-') AS goal_type,
    master.is_active, master.is_deleted,
    i.product_id,
    {_RD_PROD_ATTRS.strip()},
    i.option_id,
    CASE WHEN copt.option_name IS NOT NULL
         THEN copt.product_name || ' / ' || copt.option_name
         ELSE copt.product_name END AS option_name,
    copt.category_name AS category_name_cpg,
    COALESCE(pl.label, '-') AS placement_group,
    i.impression_count, i.click_count, i.ad_cost, i.conv_count,
    i.direct_conv_count, i.conv_amount, i.direct_conv_amount, i.ymd
  FROM c_ins i
  LEFT JOIN c_pl pl ON i.placement_group = pl.code
  LEFT JOIN c_cmp master ON i.campaign_id = master.campaign_id
  LEFT JOIN core_pm product ON i.product_id = product.product_id
  LEFT JOIN c_opt copt ON i.option_id = copt.option_id
  WHERE i.ymd BETWEEN DATE '1996-01-01' AND DATE '1996-06-30'
)
"""

_RD_BASE = f"WITH {_CORE_ITEM_CTE.strip()}, {_CORE_PM_SUB.strip()}"

ORACLES["searchad_report_daily"] = f"""
{_RD_BASE}, {_RD_SA_CTES.strip()}
SELECT * FROM sa_rd
"""

ORACLES["google_report_daily"] = f"""
{_RD_BASE}, {_RD_G_CTES.strip()}
SELECT * FROM g_rd
"""

ORACLES["meta_report_daily"] = f"""
{_RD_BASE}, {_RD_M_CTES.strip()}
SELECT * FROM m_rd
"""

ORACLES["coupang_report_daily"] = f"""
{_RD_BASE}, {_RD_C_CTES.strip()}
SELECT * FROM c_rd
"""

ORACLES["adreport_daily"] = f"""
{_RD_BASE}, {_RD_SA_CTES.strip()}, {_RD_G_CTES.strip()}, {_RD_M_CTES.strip()},
{_RD_C_CTES.strip()},
dbl AS (
  SELECT 'dc' || CAST(o_orderkey % 8 AS VARCHAR) AS campaign_id,
    '1' || CAST(o_orderkey % 80 AS VARCHAR) AS product_id,
    CAST((o_orderkey % 65) * 10 AS BIGINT) AS ad_cost,
    CAST(o_orderdate AS DATE) AS ymd
  FROM orders WHERE o_orderkey % 6 = 0
), dbl_cmp(campaign_id, campaign_name) AS (VALUES
  {_sql_rows(_q.RD_DABLE_CAMPAIGNS)}
), xads AS (
  SELECT 'adop000' || CAST(o_orderkey % 4 AS VARCHAR) AS shop_id,
    '2' || CAST(o_orderkey % 60 AS VARCHAR) AS brand_id,
    CAST((o_orderkey % 55) * 100 AS BIGINT) AS ad_cost,
    CAST(o_orderdate AS DATE) AS ymd
  FROM orders WHERE o_orderkey % 7 = 0
), xshop(shop_id, shop_alias) AS (VALUES
  {_sql_rows(_q.RD_EXTRA_SHOPS)}
)
SELECT '네이버' AS platform_name, account_name, campaign_name, adgroup_name,
  title AS ad_name, ad_type, ad_cost, conv_amount, product_id, team_name,
  brand_name, category_name1, category_name2, category_name3, category_name4,
  color, product_name, ymd
FROM sa_rd
UNION ALL
SELECT '쿠팡', vendor_name, campaign_name, '-', option_name, goal_type,
  ad_cost, conv_amount, product_id, team_name, brand_name, category_name1,
  category_name2, category_name3, category_name4, color, product_name, ymd
FROM c_rd
UNION ALL
SELECT '구글', account_name, campaign_name, adgroup_name, ad_name, ad_type,
  ad_cost, CAST(NULL AS BIGINT), product_id, team_name, brand_name,
  category_name1, category_name2, category_name3, category_name4, color,
  product_name, ymd
FROM g_rd
UNION ALL
SELECT '메타', account_name, campaign_name, adset_name, ad_name, objective,
  ad_cost, CAST(NULL AS BIGINT), product_id, team_name, brand_name,
  category_name1, category_name2, category_name3, category_name4, color,
  product_name, ymd
FROM m_rd
UNION ALL
SELECT '데이블', '-', COALESCE(cmp.campaign_name, '-'), '-', '-', '-',
  report.ad_cost, CAST(NULL AS BIGINT), report.product_id,
  COALESCE(product.team_name, '담당팀 없음'),
  COALESCE(product.brand_name, '브랜드 없음'),
  COALESCE(product.category_name1, '-'), COALESCE(product.category_name2, '-'),
  COALESCE(product.category_name3, '-'), COALESCE(product.category_name4, '-'),
  COALESCE(product.color, '-'), COALESCE(product.product_name, '-'),
  report.ymd
FROM dbl report
LEFT JOIN dbl_cmp cmp ON report.campaign_id = cmp.campaign_id
LEFT JOIN core_pm product ON report.product_id = product.product_id
WHERE report.ymd BETWEEN DATE '1996-01-01' AND DATE '1996-06-30'
UNION ALL
SELECT replace(shop.shop_alias, '(광고)', ''), '-', '-', '-', '-', '-',
  ads.ad_cost, CAST(NULL AS BIGINT), ads.brand_id,
  COALESCE(product.team_name, '담당팀 없음'),
  COALESCE(product.brand_name, '브랜드 없음'),
  COALESCE(product.category_name1, '-'), COALESCE(product.category_name2, '-'),
  COALESCE(product.category_name3, '-'), COALESCE(product.category_name4, '-'),
  COALESCE(product.color, '-'), COALESCE(product.product_name, '-'),
  ads.ymd
FROM xads ads
LEFT JOIN xshop shop ON ads.shop_id = shop.shop_id
LEFT JOIN core_pm product ON ads.brand_id = product.product_id
WHERE ads.ymd BETWEEN DATE '1996-01-01' AND DATE '1996-06-30'
"""

# --- sales target pivot --------------------------------------------------
# analytics__sales_target.sql:10-100, pivot date 1995-06-21 -> window
# 1995-05-01..1995-06-21, current month 1995-06, eomonth 1995-06-30.
ORACLES["sales_target"] = f"""
WITH {_PROFIT_FACT_CTE.strip()},
pb_all AS (
  SELECT * FROM pb
  WHERE order_date BETWEEN DATE '1995-05-01' AND DATE '1995-06-21'
  UNION ALL
  SELECT * FROM extra
  WHERE order_date BETWEEN DATE '1995-05-01' AND DATE '1995-06-21'
), st_pm(product_id, brand_name) AS (VALUES
  {_sql_rows(_q.ST_PRODUCT_BRANDS)}
), st_bm(brand_id, brand_name, team_name) AS (VALUES
  {_sql_rows(_q.ST_BRANDS)}
), st_tgt(brand_id, shop_id, monthly_amount) AS (VALUES
  {_sql_rows(_q.ST_TARGETS)}
), st_shop(shop_id, shop_group, shop_alias) AS (VALUES
  {_sql_rows(_q.ST_SHOPS)}
), rel AS (
  SELECT p.product_id, b.brand_id
  FROM st_pm p LEFT JOIN st_bm b ON p.brand_name = b.brand_name
), pivot_base AS (
  SELECT COALESCE(rel.brand_id, '200000') AS brand_id,
    fact.shop_id,
    CASE WHEN CAST(date_trunc('month', fact.order_date) AS DATE) = DATE '1995-06-01'
         THEN 1 ELSE 0 END AS group_id,
    fact.payment_amount, fact.order_date
  FROM pb_all fact
  LEFT JOIN rel ON fact.product_id = rel.product_id
  WHERE fact.order_status = 0
), pivot_period AS (
  SELECT
    MIN(CASE WHEN group_id = 0 THEN order_date END) AS previous_start_date,
    MAX(CASE WHEN group_id = 0 THEN order_date END) AS previous_end_date,
    MIN(CASE WHEN group_id = 1 THEN order_date END) AS current_start_date,
    MAX(CASE WHEN group_id = 1 THEN order_date END) AS current_end_date
  FROM pivot_base
), brand_sales AS (
  SELECT brand_id, shop_id,
    CAST(SUM(CASE WHEN group_id = 0 THEN payment_amount ELSE 0 END) AS BIGINT) AS previous_sales,
    CAST(SUM(CASE WHEN group_id = 1 THEN payment_amount ELSE 0 END) AS BIGINT) AS current_sales
  FROM pivot_base WHERE payment_amount != 0
  GROUP BY brand_id, shop_id
)
SELECT COALESCE(fact.brand_id, tgt.brand_id) AS brand_id,
  brand.brand_name,
  COALESCE(fact.shop_id, tgt.shop_id) AS shop_id,
  shop.shop_group, shop.shop_alias AS shop_name, brand.team_name,
  COALESCE(fact.previous_sales, 0) AS previous_sales,
  COALESCE(fact.current_sales, 0) AS current_sales,
  NULLIF(tgt.monthly_amount, 0) AS target_sales,
  dt.previous_start_date, dt.previous_end_date,
  dt.current_start_date, dt.current_end_date,
  DATE '1995-06-30' AS current_eomonth
FROM brand_sales fact
FULL OUTER JOIN st_tgt tgt
  ON fact.brand_id = tgt.brand_id AND fact.shop_id = tgt.shop_id
LEFT JOIN st_bm brand ON COALESCE(fact.brand_id, tgt.brand_id) = brand.brand_id
LEFT JOIN st_shop shop ON COALESCE(fact.shop_id, tgt.shop_id) = shop.shop_id
CROSS JOIN pivot_period dt
"""

# --- coupang_rfm pair + ds wrappers --------------------------------------
ORACLES["rfm_stock_qty_batch"] = f"""
WITH inv AS (
  SELECT 'co' || CAST(o_orderkey % 50 AS VARCHAR) AS option_id,
    CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)
      + to_seconds(CAST(o_orderkey % 86400 AS BIGINT)) AS updated_at,
    CAST(o_orderkey % 40 AS BIGINT) AS stock_quantity
  FROM orders
), exp(option_id, expiration_date, start_time, end_time) AS (VALUES
  {_sql_rows([(o, d, f"TS::{s}", f"TS::{e}") for o, d, s, e in _q.RFM_INV_EXP]).replace("'TS::", "TIMESTAMP '")}
), rel(option_id, bundle_product_ids) AS (VALUES
  {_sql_rows(_q.RFM_STOCK_REL)}
), j AS (
  SELECT i.updated_at, i.stock_quantity, e.expiration_date,
    r.bundle_product_ids
  FROM inv i
  LEFT JOIN exp e ON i.option_id = e.option_id
    AND i.updated_at BETWEEN e.start_time AND e.end_time
  LEFT JOIN rel r ON e.option_id = r.option_id
  WHERE i.updated_at >= TIMESTAMP '1996-01-01 00:00:00'
    AND i.updated_at < TIMESTAMP '1996-04-01 00:00:00'
), exploded AS (
  SELECT updated_at, stock_quantity, expiration_date,
    UNNEST(string_split(bundle_product_ids, ',')) AS product
  FROM j WHERE bundle_product_ids IS NOT NULL
  UNION ALL
  SELECT updated_at, stock_quantity, expiration_date, NULL
  FROM j WHERE bundle_product_ids IS NULL
), rows_ AS (
  SELECT CAST(updated_at AS DATE) AS ymd,
    CASE WHEN strftime(updated_at, '%H:%M:%S') < '17:00:00' THEN 10 ELSE 20 END AS batch,
    COALESCE(NULLIF(split_part(product, ':', 1), ''), '200000') AS product_id,
    COALESCE(expiration_date, DATE '2999-12-31') AS expiration_date,
    (CASE WHEN regexp_matches(split_part(product, ':', 2), '^[0-9]+$')
          THEN CAST(split_part(product, ':', 2) AS INT) ELSE 1 END)
      * stock_quantity AS stock_quantity
  FROM exploded
)
SELECT ymd, batch, product_id, expiration_date,
  CAST(SUM(stock_quantity) AS BIGINT) AS stock_quantity
FROM rows_ GROUP BY 1, 2, 3, 4
"""

ORACLES["rfm_order_count"] = f"""
WITH sales AS (
  SELECT o_orderkey - o_orderkey % 7 AS order_id,
    'co' || CAST((o_orderkey - o_orderkey % 7) % 30 AS VARCHAR) AS option_id,
    'v' || CAST((o_orderkey - o_orderkey % 7) % 3 AS VARCHAR) AS vendor_id,
    CASE WHEN (o_orderkey - o_orderkey % 7) % 5 = 0 THEN 0
         ELSE CAST(o_orderkey % 6 AS INT) END AS settlement_type,
    o_orderkey % 4 AS order_quantity,
    CAST(o_orderdate AS DATE) AS sales_date
  FROM orders WHERE o_orderkey % 2 = 0
), rel(option_id, bundle_product_ids) AS (VALUES
  {_sql_rows(_q.RFM_OC_REL)}
), vendor(vendor_id, bundle_brand_ids) AS (VALUES
  {_sql_rows(_q.RFM_OC_VENDORS)}
), rocket AS (
  SELECT order_id, option_id, vendor_id,
    MAX(settlement_type) AS order_status,
    SUM(order_quantity) AS order_quantity,
    MAX(sales_date) AS sales_date
  FROM sales
  WHERE sales_date BETWEEN DATE '1996-01-01' AND DATE '1996-06-30'
  GROUP BY 1, 2, 3
), bundled AS (
  SELECT o.order_id,
    COALESCE(r.bundle_product_ids, v.bundle_brand_ids, '200000') AS bundle_product_ids,
    o.order_status, o.order_quantity, o.sales_date AS order_date
  FROM rocket o
  LEFT JOIN rel r ON o.option_id = r.option_id
  LEFT JOIN vendor v ON o.vendor_id = v.vendor_id
  WHERE o.sales_date BETWEEN DATE '1996-01-01' AND DATE '1996-06-30'
    AND o.order_quantity != 0
), exploded AS (
  SELECT order_id, order_status, order_quantity, order_date,
    UNNEST(string_split(bundle_product_ids, ',')) AS bundle_product
  FROM bundled
)
SELECT order_id, order_date,
  split_part(bundle_product, ':', 1) AS product_id,
  CAST(CASE WHEN order_status = 0 AND left(bundle_product, 1) = '9' THEN 6
       ELSE LEAST(order_status, 3) END AS INTEGER) AS order_status,
  CAST(SUM(order_quantity) AS BIGINT) AS order_quantity
FROM exploded
GROUP BY order_id, order_date, 3, 4
"""

_TIME_DS_SHAPE = """
  SELECT ymd AS report_date, batch AS report_batch,
    ymd - 30 AS order_start_date, ymd - 1 AS order_end_date,
    max_updated_at, ecount__max_updated_at,
    cj_eflexs__max_updated_at, coupang_rfm__max_updated_at
"""

ORACLES["stock_time_ds"] = f"""
WITH tb AS ({ORACLES["stock_time_batch"].strip()}),
pri AS (
  {_TIME_DS_SHAPE.strip()}
  FROM tb WHERE ymd = DATE '1996-04-01'
    AND batch = (SELECT MAX(batch) FROM tb WHERE ymd = DATE '1996-04-01')
), fb AS (
  {_TIME_DS_SHAPE.strip()}
  FROM tb WHERE ymd = DATE '1996-03-31'
    AND batch = (SELECT MAX(batch) FROM tb WHERE ymd = DATE '1996-03-31')
)
SELECT * FROM pri
UNION ALL
SELECT * FROM fb WHERE NOT EXISTS (SELECT 1 FROM pri)
"""

ORACLES["stock_report_ds"] = f"""
WITH pri AS ({ORACLES["stock_report"].replace("2001-06-01", "2002-03-04").strip()}),
fb AS ({ORACLES["stock_report"].replace("2001-06-01", "2002-03-03").strip()})
SELECT * FROM pri
UNION ALL
SELECT * FROM fb WHERE NOT EXISTS (SELECT 1 FROM pri)
"""

ORACLES["searchad_contract_master"] = f"""
WITH contract AS (
  SELECT CAST(o_orderkey % 4 AS INT) AS customer_id,
    'grp' || CAST(o_orderkey % 30 AS VARCHAR) AS adgroup_id,
    'sct' || CAST(o_orderkey AS VARCHAR) AS contract_id,
    'contract ' || CAST(o_orderkey % 18 AS VARCHAR) AS contract_name,
    CAST(o_orderkey % 3 AS INT) AS contract_type,
    CAST((o_orderkey % 50) * 10000 AS BIGINT) AS contract_amount,
    CAST(o_orderdate AS DATE) AS contract_start_date,
    CAST(o_orderdate AS DATE) + 90 AS contract_end_date,
    CAST(o_orderdate AS DATE) + 7 AS exposure_start_date,
    CAST(o_orderdate AS DATE) + 83 AS exposure_end_date,
    CASE WHEN o_orderkey % 5 = 0 THEN CAST(o_orderdate AS DATE) + 10 END AS cancel_date
  FROM orders WHERE o_orderkey % 8 = 0
), adgroup AS (
  SELECT 'grp' || CAST(i AS VARCHAR) AS adgroup_id,
    'adgroup ' || CAST(i AS VARCHAR) AS adgroup_name,
    'cmp' || CAST(i % 12 AS VARCHAR) AS campaign_id,
    CAST(i % 12 AS INT) AS adgroup_type
  FROM range(30) t(i)
), campaign AS (
  SELECT 'cmp' || CAST(i AS VARCHAR) AS campaign_id,
    'campaign ' || CAST(i AS VARCHAR) AS campaign_name,
    CAST(i % 15 AS INT) AS campaign_type
  FROM range(12) t(i)
), {_SEARCHAD_ACC.strip()},
ctype(seq, code, label) AS (VALUES {_vals3(_m.SEARCHAD_CAMPAIGN_TYPES)}),
gtype(seq, code, label) AS (VALUES {_vals3(_m.SEARCHAD_ADGROUP_TYPES)}),
ttype(seq, code, label) AS (VALUES {_vals3(_m.SEARCHAD_CONTRACT_TYPES)})
SELECT sad.customer_id, acc.account_name, acc.account_type,
  grp.campaign_id, cmp.campaign_name, ct.label AS campaign_type,
  sad.adgroup_id, grp.adgroup_name, gt.label AS adgroup_type,
  sad.contract_id, sad.contract_name, tt.label AS contract_type,
  sad.contract_amount, sad.contract_start_date, sad.contract_end_date,
  sad.exposure_start_date, sad.exposure_end_date, sad.cancel_date,
  (CASE WHEN sad.cancel_date IS NULL THEN 1 ELSE 2 END) * 10000000
    + COALESCE(acc.account_seq, 99) * 100000 + COALESCE(ct.seq, 99) * 1000
    + COALESCE(gt.seq, 99) * 10 + COALESCE(tt.seq, 9) AS sort_key
FROM contract sad
LEFT JOIN account acc ON sad.customer_id = acc.customer_id
LEFT JOIN adgroup grp ON sad.adgroup_id = grp.adgroup_id
LEFT JOIN campaign cmp ON grp.campaign_id = cmp.campaign_id
LEFT JOIN ctype ct ON cmp.campaign_type = ct.code
LEFT JOIN gtype gt ON grp.adgroup_type = gt.code
LEFT JOIN ttype tt ON sad.contract_type = tt.code
"""

# --- smartstore sales daily (full chain) ---------------------------------
# smartstore__sales_daily.sql:49-396 end-to-end; window 1996-02-01..
# 1996-03-31, CJ TVFs widened ±7 days (01-25..04-07).
ORACLES["smartstore_sales_daily"] = f"""
WITH od AS (
  SELECT o_orderkey AS product_order_id,
    o_orderkey - o_orderkey % 9 AS order_id,
    CAST(o_orderkey % 6 AS INT) AS channel_seq,
    'so' || CAST(o_orderkey % 40 AS VARCHAR) AS option_id,
    CASE WHEN o_orderkey % 6 = 0 THEN 7 ELSE CAST(o_orderkey % 3 AS INT) END AS delivery_type,
    (o_orderkey % 70) * 100 AS unit_price,
    (o_orderkey % 15) * 50 AS option_price,
    o_orderkey % 4 AS order_quantity,
    (o_orderkey % 5) * 20 AS seller_discount_amount,
    CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(0.9 AS DECIMAL(2,1))) AS BIGINT) AS supply_amount,
    CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)
      + to_seconds(CAST(o_orderkey % 86400 AS BIGINT)) AS payment_dt
  FROM orders WHERE o_orderkey % 2 = 0
), odlv AS (
  SELECT product_order_id, MIN(invoice_no) AS invoice_no FROM (
    SELECT o_orderkey AS product_order_id,
      'LP' || CAST(o_orderkey % 600 AS VARCHAR) || 'X' AS invoice_no,
      CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)
        + to_seconds(CAST(o_orderkey % 86400 AS BIGINT)) AS payment_dt
    FROM orders WHERE o_orderkey % 4 = 0
  ) WHERE payment_dt >= TIMESTAMP '1996-02-01 00:00:00'
      AND payment_dt < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY 1
), st_smt AS (
  SELECT product_order_id, MAX(order_status) AS order_status FROM (
    SELECT o_orderkey AS product_order_id,
      CAST(o_orderkey % 9 AS INT) AS order_status,
      CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)
        + to_seconds(CAST(o_orderkey % 86400 AS BIGINT)) AS payment_dt
    FROM orders WHERE o_orderkey % 3 = 0
  ) WHERE payment_dt >= TIMESTAMP '1996-02-01 00:00:00'
      AND payment_dt < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY 1
), st_cor AS (
  SELECT CAST(order_id AS BIGINT) AS order_id, MAX(order_status) AS order_status FROM (
    SELECT CASE WHEN o_orderkey % 7 = 0
                THEN 'X' || CAST(o_orderkey - o_orderkey % 9 AS VARCHAR)
                ELSE CAST(o_orderkey - o_orderkey % 9 AS VARCHAR) END AS order_id,
      CAST(o_orderkey % 4 AS INT) AS order_status,
      CAST(o_orderdate AS DATE) AS order_date,
      CASE WHEN o_orderkey % 11 = 0 THEN '쿠팡' ELSE '스마트스토어' END AS shop_name
    FROM orders WHERE o_orderkey % 5 = 0
  ) WHERE order_date BETWEEN DATE '1996-02-01' AND DATE '1996-03-31'
      AND shop_name = '스마트스토어' AND regexp_matches(order_id, '^[0-9]+$')
  GROUP BY 1
), opt_rel(option_id, bundle_product_ids) AS (VALUES
  {_sql_rows(_q.SMT_SD_REL)}
), channel AS (
  SELECT CAST(i AS INT) AS channel_seq,
    '2' || CAST((i * 7) % 60 AS VARCHAR) AS brand_id
  FROM range(6) t(i)
), ecount(product_id, org_price) AS (VALUES
  {_sql_rows(_q.SMT_SD_ECOUNT)}
), item(product_id, org_price, extra_cost, delivery_group, delivery_fee) AS (VALUES
  {_sql_rows(_q.SMT_SD_ITEM)}
), unit(product_id, unit) AS (VALUES
  {_sql_rows(_q.SMT_SD_UNIT)}
), {_TIERS_CTE.strip().lstrip()},
lois AS (
  SELECT replace('LP-' || CAST(o_orderkey % 600 AS VARCHAR) || '-X', '-', '') AS invoice_no,
    COALESCE(CASE WHEN o_orderkey % 6 = 0 THEN NULL
                  ELSE CAST(o_orderkey % 400 AS VARCHAR) END, 'none') AS order_id,
    SUM((o_orderkey % 8) * 100) AS delivery_fee,
    CAST(0 AS BIGINT) AS box_cost
  FROM orders WHERE o_orderkey % 4 = 1
    AND CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-25' AND DATE '1996-04-07'
  GROUP BY 1, 2
), eflexs AS (
  SELECT 'LP' || CAST(o_orderkey % 600 AS VARCHAR) || 'X' AS invoice_no,
    CAST(o_orderkey % 400 AS VARCHAR) AS order_id,
    SUM((o_orderkey % 6) * 80) AS delivery_fee,
    CAST(SUM((o_orderkey % 3) * 40) AS BIGINT) AS box_cost
  FROM orders WHERE o_orderkey % 4 = 3
    AND CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-25' AND DATE '1996-04-07'
  GROUP BY 1, 2
), cj_u AS (SELECT * FROM lois UNION ALL SELECT * FROM eflexs),
cj_inv AS (
  SELECT invoice_no, SUM(delivery_fee) AS delivery_fee, SUM(box_cost) AS box_cost
  FROM cj_u GROUP BY 1
), cj_ord AS (
  SELECT TRY_CAST(order_id AS BIGINT) AS order_id,
    SUM(delivery_fee) AS delivery_fee, SUM(box_cost) AS box_cost
  FROM cj_u WHERE order_id != 'none' GROUP BY order_id
), bundle AS (
  SELECT od.order_id, od.product_order_id,
    COALESCE(dlv.invoice_no, '-') AS invoice_no,
    COALESCE(rel.bundle_product_ids, chl.brand_id, '200000') AS bundle_product_ids,
    CASE WHEN od.delivery_type = 7 THEN 7 ELSE 0 END AS delivery_type,
    CASE WHEN sc.order_status IS NOT NULL THEN sc.order_status
         WHEN ss.order_status = 7 THEN 1
         WHEN ss.order_status = 5 THEN 2
         WHEN ss.order_status IN (6, 8) THEN 3
         ELSE 0 END AS order_status,
    COALESCE(od.order_quantity, 0) AS order_quantity,
    (COALESCE(od.unit_price, 0) + COALESCE(od.option_price, 0))
      * COALESCE(od.order_quantity, 0)
      - COALESCE(od.seller_discount_amount, 0) AS payment_amount,
    COALESCE(od.supply_amount, 0) AS supply_amount,
    CAST(od.payment_dt AS DATE) AS order_date
  FROM od
  LEFT JOIN odlv dlv ON od.product_order_id = dlv.product_order_id
  LEFT JOIN opt_rel rel ON od.option_id = rel.option_id
  LEFT JOIN channel chl ON od.channel_seq = chl.channel_seq
  LEFT JOIN st_smt ss ON od.product_order_id = ss.product_order_id
  LEFT JOIN st_cor sc ON od.order_id = sc.order_id
  WHERE od.payment_dt >= TIMESTAMP '1996-02-01 00:00:00'
    AND od.payment_dt < TIMESTAMP '1996-04-01 00:00:00'
), exploded AS (
  SELECT *,
    CASE WHEN order_status = 6 THEN 0 ELSE org_price * sku_quantity END AS cost_amount
  FROM (
    SELECT b.order_id, b.product_order_id, b.invoice_no,
      split_part(b.bundle_product, ':', 1) AS product_id,
      b.delivery_type,
      CASE WHEN b.order_status = 0 AND left(b.bundle_product, 1) = '9' THEN 6
           ELSE b.order_status END AS order_status,
      (CASE WHEN regexp_matches(split_part(b.bundle_product, ':', 2), '^[0-9]+$')
            THEN CAST(split_part(b.bundle_product, ':', 2) AS INT) ELSE 1 END)
        * b.order_quantity AS sku_quantity,
      b.payment_amount, b.supply_amount,
      COALESCE(ec.org_price, it.org_price, 0) + COALESCE(it.extra_cost, 0) AS org_price,
      COALESCE(it.delivery_group, '-') AS delivery_group,
      COALESCE(it.delivery_fee, 0) AS delivery_fee,
      b.order_date
    FROM (SELECT *, UNNEST(string_split(bundle_product_ids, ',')) AS bundle_product
          FROM bundle) b
    LEFT JOIN ecount ec ON split_part(b.bundle_product, ':', 1) = ec.product_id
    LEFT JOIN item it ON split_part(b.bundle_product, ':', 1) = it.product_id
  )
), amarked AS (
  SELECT *, COUNT(*) OVER (PARTITION BY product_order_id) AS n,
    SUM(cost_amount) OVER (PARTITION BY product_order_id) AS total_cost,
    ROW_NUMBER() OVER (PARTITION BY product_order_id ORDER BY product_id ASC) AS rn
  FROM exploded
), asplit AS (
  SELECT *,
    COALESCE(CAST(FLOOR(payment_amount * (cost_amount / NULLIF(total_cost, 0)) + 0.5) AS BIGINT), 0) AS pay_split,
    COALESCE(CAST(FLOOR(supply_amount * (cost_amount / NULLIF(total_cost, 0)) + 0.5) AS BIGINT), 0) AS sup_split
  FROM amarked
), split AS (
  SELECT * REPLACE (
    CASE WHEN n > 1 THEN
      (CASE WHEN rn = 1 THEN payment_amount - SUM(pay_split) OVER (PARTITION BY product_order_id) ELSE 0 END) + pay_split
    ELSE payment_amount END AS payment_amount,
    CASE WHEN n > 1 THEN
      (CASE WHEN rn = 1 THEN supply_amount - SUM(sup_split) OVER (PARTITION BY product_order_id) ELSE 0 END) + sup_split
    ELSE supply_amount END AS supply_amount)
  FROM asplit
), dlv2 AS (
  SELECT s.order_id, s.product_order_id, s.invoice_no, s.product_id,
    s.delivery_type, s.order_status, s.sku_quantity, s.payment_amount,
    s.supply_amount, s.org_price, s.delivery_group, s.order_date,
    s.cost_amount,
    s.org_price * s.sku_quantity AS supply_cost,
    s.sku_quantity * COALESCE(un.unit, 1) AS delivery_quantity,
    COALESCE(ci.delivery_fee, co.delivery_fee, s.delivery_fee, 0) AS delivery_fee,
    COALESCE(ci.box_cost, co.box_cost, 0) AS box_cost
  FROM split s
  LEFT JOIN cj_inv ci ON s.invoice_no = ci.invoice_no
  LEFT JOIN cj_ord co ON s.order_id = co.order_id
  LEFT JOIN unit un ON s.product_id = un.product_id
), fee_agg AS (
  SELECT order_id, invoice_no, delivery_group,
    MAX(delivery_type) AS delivery_type,
    MAX(delivery_fee) AS delivery_fee, SUM(box_cost) AS box_cost,
    COALESCE(SUM(delivery_quantity), 0) AS delivery_quantity
  FROM dlv2 GROUP BY 1, 2, 3
), fee_scored AS (
  SELECT f.order_id, f.invoice_no, f.delivery_group,
    CASE WHEN t.delivery_group IS NULL THEN f.delivery_fee
         WHEN f.delivery_fee > 0 THEN f.delivery_fee
              + (CASE WHEN f.box_cost > 0 THEN f.box_cost ELSE t.extra_cost END)
         WHEN f.delivery_type = 7 THEN t.n_arrival_fee
              + t.n_arrival_add * (f.delivery_quantity - t.min_unit)
         ELSE t.delivery_fee + t.extra_cost END AS fee
  FROM fee_agg f LEFT JOIN tiers t
    ON f.delivery_group = t.delivery_group
   AND f.delivery_quantity BETWEEN t.min_unit AND t.max_unit
), fee_top AS (
  SELECT order_id, invoice_no, fee FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY order_id, invoice_no
      ORDER BY ABS(fee) DESC, fee DESC, delivery_group ASC) AS frn
    FROM fee_scored) WHERE frn = 1
), attached AS (
  SELECT d.* REPLACE (ft.fee AS delivery_fee),
    COUNT(*) OVER (PARTITION BY d.order_id, d.invoice_no) AS fn,
    SUM(d.cost_amount) OVER (PARTITION BY d.order_id, d.invoice_no) AS ftotal_cost,
    ROW_NUMBER() OVER (PARTITION BY d.order_id, d.invoice_no ORDER BY d.product_id ASC) AS frn
  FROM dlv2 d LEFT JOIN fee_top ft
    ON d.order_id = ft.order_id AND d.invoice_no = ft.invoice_no
), fsplit AS (
  SELECT *,
    COALESCE(CAST(FLOOR(delivery_fee * (cost_amount / NULLIF(ftotal_cost, 0)) + 0.5) AS BIGINT), 0) AS f_split
  FROM attached
), final AS (
  SELECT * REPLACE (
    CASE WHEN fn > 1 THEN
      (CASE WHEN frn = 1 THEN delivery_fee - SUM(f_split) OVER (PARTITION BY order_id, invoice_no) ELSE 0 END) + f_split
    ELSE delivery_fee END AS delivery_fee)
  FROM fsplit
)
SELECT order_date, product_id, delivery_type, order_status,
  CAST(SUM(sku_quantity) AS BIGINT) AS sku_quantity,
  CAST(SUM(payment_amount) AS BIGINT) AS payment_amount,
  CAST(SUM(supply_amount) AS BIGINT) AS supply_amount,
  CAST(SUM(supply_cost) AS BIGINT) AS supply_cost,
  CAST(SUM(delivery_fee) AS BIGINT) AS delivery_fee
FROM final
GROUP BY 1, 2, 3, 4
"""

# --- remaining source models + opex --------------------------------------
ORACLES["opex_daily"] = f"""
WITH opex(expense_id, expense_name, dept_id, brand_id, amount,
          start_date, end_date) AS (VALUES
  {_sql_rows(_q.OPEX_ROWS)}
), src AS (
  SELECT expense_id, expense_name, dept_id, brand_id, amount,
    COALESCE(start_date, end_date) AS start_date, end_date,
    datediff('day', COALESCE(start_date, end_date), end_date) + 1 AS date_count
  FROM opex
), ex AS (
  SELECT *, UNNEST(range(0, date_count)) AS date_offset FROM src
)
SELECT expense_id, expense_name, dept_id, brand_id,
  CAST(amount // date_count
    + (CASE WHEN date_offset = 0 THEN amount % date_count ELSE 0 END) AS BIGINT) AS amount,
  start_date + CAST(date_offset AS INT) AS ymd
FROM ex
"""

ORACLES["ecount_stock_qty_batch"] = """
WITH inv AS (
  SELECT CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)
      + to_seconds(CAST(o_orderkey % 86400 AS BIGINT)) AS updated_at,
    'pc' || CAST(o_orderkey % 800 AS VARCHAR) AS product_code,
    CAST(o_orderkey % 60 AS BIGINT) AS quantity
  FROM orders
)
SELECT CAST(updated_at AS DATE) AS ymd,
  CASE WHEN strftime(updated_at, '%H:%M:%S') < '17:00:00' THEN 10 ELSE 20 END AS batch,
  product_code, CAST(SUM(quantity) AS BIGINT) AS stock_quantity
FROM inv
WHERE updated_at >= TIMESTAMP '1996-01-01 00:00:00'
  AND updated_at < TIMESTAMP '1996-04-01 00:00:00'
GROUP BY 1, 2, 3
"""

ORACLES["cj_eflexs_stock_qty_batch"] = f"""
WITH core_item(product_id, eflexs_item_code) AS (VALUES
  {_sql_rows(_q.CJE_ITEM_CODES)}
), mapping AS (
  SELECT DISTINCT product_id, trim(item_code) AS item_code FROM (
    SELECT product_id,
      UNNEST(string_split(COALESCE(eflexs_item_code, ''), ',')) AS item_code
    FROM core_item WHERE product_id IS NOT NULL
  ) WHERE trim(item_code) != ''
), stock AS (
  SELECT CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)
      + to_seconds(CAST(o_orderkey % 86400 AS BIGINT)) AS updated_at,
    printf('EF%03d', o_orderkey % 300) AS item_code,
    CASE WHEN o_orderkey % 6 = 0 THEN NULL
         ELSE make_date(1997, CAST(o_orderkey % 12 + 1 AS INT),
                        CAST(o_orderkey % 28 + 1 AS INT)) END AS validate_date,
    CAST(o_orderkey % 45 AS BIGINT) AS usable_quantity
  FROM orders
)
SELECT CAST(s.updated_at AS DATE) AS ymd,
  CASE WHEN strftime(s.updated_at, '%H:%M:%S') < '17:00:00' THEN 10 ELSE 20 END AS batch,
  COALESCE(m.product_id, '200000') AS product_id,
  COALESCE(s.validate_date, DATE '2999-12-31') AS expiration_date,
  CAST(SUM(s.usable_quantity) AS BIGINT) AS stock_quantity
FROM stock s LEFT JOIN mapping m ON s.item_code = m.item_code
WHERE s.updated_at >= TIMESTAMP '1996-01-01 00:00:00'
  AND s.updated_at < TIMESTAMP '1996-04-01 00:00:00'
GROUP BY 1, 2, 3, 4
"""

ORACLES["dable_report_daily"] = f"""
WITH report AS (
  SELECT 'dc' || CAST(o_orderkey % 9 AS VARCHAR) AS campaign_id,
    CAST(o_orderkey % 300 AS BIGINT) AS expose_count,
    CAST(o_orderkey % 250 AS BIGINT) AS impression_count,
    CAST(o_orderkey % 25 AS BIGINT) AS click_count,
    CAST((o_orderkey % 50) * 10 AS BIGINT) AS ad_cost,
    CAST(o_orderkey % 5 AS BIGINT) AS conv_count,
    CAST(o_orderdate AS DATE) AS ymd
  FROM orders
  WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-06-30'
), flat(campaign_id, bundle_product_ids) AS (VALUES
  ('dc0', '100863,100170'), ('dc2', '100088'),
  ('dc4', '100171,100088,100863'), ('dc6', '100172')
), flagged AS (
  SELECT *, list_contains(string_split(bundle_product_ids, ','), '100088') AS has_pivot
  FROM flat
), rel AS (
  SELECT campaign_id, bundle_product_ids,
    DATE '2000-01-01' AS start_date, DATE '2999-12-31' AS end_date
  FROM flagged WHERE NOT has_pivot
  UNION ALL
  SELECT campaign_id, bundle_product_ids, DATE '2000-01-01', DATE '1996-02-29'
  FROM flagged WHERE has_pivot
  UNION ALL
  SELECT campaign_id,
    CASE WHEN bundle_product_ids = '100088' THEN '100081,100082'
         ELSE NULLIF(array_to_string(
                list_filter(string_split(bundle_product_ids, ','), x -> x <> '100088'),
                ','), '')
    END,
    DATE '1996-03-01', DATE '2999-12-31'
  FROM flagged WHERE has_pivot
), renewal(product_id_old, product_id_new, renewal_date) AS (VALUES
  {_sql_rows(_q.DABLE_RENEWAL)}
), joined AS (
  SELECT r.*, rel.bundle_product_ids AS rel_bundle
  FROM report r LEFT JOIN rel
    ON r.campaign_id = rel.campaign_id
   AND r.ymd BETWEEN rel.start_date AND rel.end_date
), grain AS (
  SELECT ymd, campaign_id,
    MIN(COALESCE(rel_bundle, '200000')) AS bundle_product_ids,
    CAST(SUM(expose_count) AS BIGINT) AS expose_count,
    CAST(SUM(impression_count) AS BIGINT) AS impression_count,
    CAST(SUM(click_count) AS BIGINT) AS click_count,
    CAST(SUM(ad_cost) AS BIGINT) AS ad_cost,
    CAST(SUM(conv_count) AS BIGINT) AS conv_count
  FROM joined GROUP BY 1, 2
), exploded AS (
  SELECT *,
    UNNEST(string_split(bundle_product_ids, ',')) AS bundle_product_id,
    UNNEST(range(0, len(string_split(bundle_product_ids, ',')))) AS bundle_product_offset,
    len(string_split(bundle_product_ids, ',')) AS bundle_product_count
  FROM grain
), remapped AS (
  SELECT e.*, COALESCE(rn.product_id_old, e.bundle_product_id) AS final_product_id
  FROM exploded e LEFT JOIN renewal rn
    ON e.bundle_product_id = rn.product_id_new AND e.ymd < rn.renewal_date
)
SELECT campaign_id, final_product_id AS product_id,
  CAST(expose_count // bundle_product_count
    + (CASE WHEN bundle_product_offset = 0 THEN expose_count % bundle_product_count ELSE 0 END) AS BIGINT) AS expose_count,
  CAST(impression_count // bundle_product_count
    + (CASE WHEN bundle_product_offset = 0 THEN impression_count % bundle_product_count ELSE 0 END) AS BIGINT) AS impression_count,
  CAST(click_count // bundle_product_count
    + (CASE WHEN bundle_product_offset = 0 THEN click_count % bundle_product_count ELSE 0 END) AS BIGINT) AS click_count,
  CAST(ad_cost // bundle_product_count
    + (CASE WHEN bundle_product_offset = 0 THEN ad_cost % bundle_product_count ELSE 0 END) AS BIGINT) AS ad_cost,
  CAST(conv_count // bundle_product_count
    + (CASE WHEN bundle_product_offset = 0 THEN conv_count % bundle_product_count ELSE 0 END) AS BIGINT) AS conv_count,
  ymd
FROM remapped
"""

# --- IVF multi-probe top-k ANN -------------------------------------------
# Index + probe in SQL: the trained-centroid CTE chain, nprobe=2 cell
# pick per query (distance of the QUERY vector to each trained
# centroid), in-cell exact-integer cosine, rank <= 5 with id tiebreak.
ORACLES["embedding_ivf_topk"] = f"""
WITH {_IVF_TRAIN_CTE.strip()},
queries AS (
  SELECT vec_id AS query_id, q AS qq, embedding AS qv
  FROM (SELECT e.vec_id, e.embedding, iq.q
        FROM embeddings e JOIN ivf_q iq ON e.vec_id = iq.vec_id)
  WHERE vec_id % 50 = 0
), probes AS (
  SELECT query_id, qq, cell FROM (
    SELECT qu.query_id, qu.qq, t.cell,
      ROW_NUMBER() OVER (PARTITION BY qu.query_id ORDER BY
        CAST(list_sum(list_transform(range(1, 65),
          i -> (qu.qq[i] - t.q[i]) * (qu.qq[i] - t.q[i]))) AS BIGINT) ASC,
        t.cell ASC) AS pr
    FROM queries qu CROSS JOIN ivf_cents t
  ) WHERE pr <= 2
), cand AS (
  SELECT p.query_id, p.qq, c.vec_id AS neighbor_id, iq.q AS cq
  FROM probes p
  JOIN ivf_cells c ON p.cell = c.cell
  JOIN ivf_q iq ON c.vec_id = iq.vec_id
  WHERE p.query_id != c.vec_id
), scored AS (
  SELECT query_id, neighbor_id,
    FLOOR(CAST(list_sum(list_transform(range(1, 65), i -> qq[i] * cq[i])) AS DOUBLE)
          / NULLIF(sqrt(CAST(list_sum(list_transform(qq, x -> x * x)) AS DOUBLE))
                   * sqrt(CAST(list_sum(list_transform(cq, x -> x * x)) AS DOUBLE)), 0.0)
          * 1000000.0 + 0.5) / 1000000.0 AS cosine
  FROM cand
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
    ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""

ORACLES["asof_click_attribution"] = """
WITH p AS (
  SELECT event_id, user_id, ts, value AS purchase_value
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT event_id AS click_id, user_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
)
SELECT p.event_id, p.user_id,
  epoch_us(p.ts) AS purchase_us,
  CASE WHEN c.click_ts >= p.ts - INTERVAL 24 HOUR
       THEN epoch_us(c.click_ts) END AS click_us,
  CASE WHEN c.click_ts >= p.ts - INTERVAL 24 HOUR
       THEN c.click_id END AS click_id,
  CASE WHEN c.click_ts >= p.ts - INTERVAL 24 HOUR
       THEN epoch_us(p.ts) - epoch_us(c.click_ts) END AS gap_us,
  p.purchase_value
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.click_ts
"""

ORACLES["scd2_order_priority"] = """
WITH dedup AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS changed_at, o_orderpriority
  FROM (
    SELECT o_custkey, o_orderdate, o_orderpriority,
      ROW_NUMBER() OVER (PARTITION BY o_custkey, CAST(o_orderdate AS DATE)
                         ORDER BY o_orderkey DESC) AS rn
    FROM orders
  ) WHERE rn = 1
), marked AS (
  SELECT *, CASE WHEN LAG(o_orderpriority) OVER w IS NOT DISTINCT FROM o_orderpriority
                 THEN 0 ELSE 1 END AS is_new
  FROM dedup
  WINDOW w AS (PARTITION BY o_custkey ORDER BY changed_at ASC)
), regimes AS (
  SELECT o_custkey, o_orderpriority, changed_at AS effective_from,
    LEAD(changed_at) OVER (PARTITION BY o_custkey ORDER BY changed_at ASC)
      AS effective_to
  FROM marked WHERE is_new = 1
)
SELECT o_custkey, o_orderpriority, effective_from, effective_to,
  (effective_to IS NULL) AS is_current
FROM regimes
"""

ORACLES["doc_tfidf_terms"] = f"""
WITH toks AS (
  SELECT doc_id, {_DTOKS} AS t FROM documents
), terms AS (
  SELECT doc_id, UNNEST(t) AS term FROM toks
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM terms
  WHERE LENGTH(term) >= 2 GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
    tf.tf * ((1000000 * (n.n_docs + 1)) // (df.df + 1)) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
  CAST(score AS BIGINT) AS score, CAST(rank AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
    ORDER BY score DESC, term ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""

# Exact-integer leading-zero ladder for the HLL register value: the
# same 32 threshold comparisons the Spark side builds in _hll_rho.
_HLL_RHO_SQL = "CASE " + " ".join(
    f"WHEN v >= {1 << (31 - z)} THEN {z + 1}" for z in range(0, 32)
) + " ELSE 32 END"  # v==0 clamped to 32 (exact-integer contribution; see queries._hll_rho)

ORACLES["hll_distinct_sketch"] = f"""
WITH hashed AS (
  SELECT CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8) AS BIGINT) AS b32,
         CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 9, 8) AS BIGINT) AS v
  FROM orders
), regs AS (
  SELECT b32 % 512 AS bucket, MAX({_HLL_RHO_SQL}) AS max_rho
  FROM hashed GROUP BY bucket
), rollup AS (
  SELECT CAST(512 AS INT) AS m,
    CAST(COUNT(*) AS BIGINT) AS nonzero_buckets,
    CAST(SUM(CAST(1 AS BIGINT) << (32 - max_rho))
         + (512 - COUNT(*)) * 4294967296 AS BIGINT) AS sum_scaled
  FROM regs
), exact AS (
  SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct FROM orders
)
SELECT m, nonzero_buckets, sum_scaled,
  8.1040374023583E14 / CAST(sum_scaled AS DOUBLE) AS estimate,
  exact_distinct
FROM rollup CROSS JOIN exact
"""

ORACLES["interval_overlap_promos"] = """
WITH flights AS (
  SELECT o_custkey % 100 AS seg, o_orderkey AS flight_id,
    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS f_start,
    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + o_orderkey % 14 AS BIGINT) AS f_end
  FROM orders WHERE o_orderkey % 7 = 0
), promos AS (
  SELECT o_custkey % 100 AS seg, o_orderkey AS promo_id,
    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS p_start,
    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + o_orderkey % 10 AS BIGINT) AS p_end
  FROM orders WHERE o_orderkey % 11 = 0
)
SELECT f.seg, f.flight_id, p.promo_id,
  CAST(LEAST(f.f_end, p.p_end) - GREATEST(f.f_start, p.p_start) + 1 AS BIGINT) AS overlap_days
FROM flights f JOIN promos p
  ON f.seg = p.seg AND f.f_start <= p.p_end AND p.p_start <= f.f_end
"""

# CMS column index for counter row {r}: the same salted-md5 bucket the
# Spark side computes in sketches.cms_hash.
def _cms_col_sql(r: int, key: str = "o_custkey", width: int = 1024) -> str:
    return (
        f"CAST('0x' || substr(md5('cms{r}|' || CAST({key} AS VARCHAR)), 1, 8)"
        f" AS BIGINT) % {width}"
    )


_CMS_COUNTER_BRANCHES = "\n  UNION ALL\n".join(
    f"  SELECT {r} AS row, {_cms_col_sql(r)} AS col FROM orders" for r in range(4)
)

ORACLES["cms_heavy_hitters"] = f"""
WITH cells AS (
{_CMS_COUNTER_BRANCHES}
), counters AS (
  SELECT row, col, CAST(COUNT(*) AS BIGINT) AS total FROM cells GROUP BY row, col
), probes AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS exact_cnt
  FROM orders GROUP BY o_custkey
  ORDER BY exact_cnt DESC, o_custkey ASC LIMIT 20
), probe_cells AS (
  SELECT o_custkey, r.row, CASE r.row
    WHEN 0 THEN {_cms_col_sql(0)}
    WHEN 1 THEN {_cms_col_sql(1)}
    WHEN 2 THEN {_cms_col_sql(2)}
    ELSE {_cms_col_sql(3)} END AS col
  FROM probes CROSS JOIN (SELECT UNNEST(range(0, 4)) AS row) r
), est AS (
  SELECT pc.o_custkey, MIN(COALESCE(c.total, 0)) AS cms_estimate
  FROM probe_cells pc LEFT JOIN counters c ON pc.row = c.row AND pc.col = c.col
  GROUP BY pc.o_custkey
)
SELECT p.o_custkey, p.exact_cnt, CAST(e.cms_estimate AS BIGINT) AS cms_estimate
FROM probes p JOIN est e ON p.o_custkey = e.o_custkey
"""

# The bloom pre-filter is semantically transparent (false positives are
# removed by the exact join) — the oracle is the PLAIN join, so the
# gate verifies that guarantee rather than re-deriving the bitset.
ORACLES["bloom_prefilter_revenue"] = """
SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING' AND c.c_acctbal > 5000
GROUP BY o.o_orderpriority
"""

ORACLES["histogram_order_value"] = """
WITH v AS (
  SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS c FROM orders
), bins AS (
  SELECT c // 1000000 AS bin, COUNT(*) AS n FROM v GROUP BY bin
), cum AS (
  SELECT bin, n,
    SUM(n) OVER (ORDER BY bin ASC ROWS UNBOUNDED PRECEDING) AS cum_n,
    SUM(n) OVER () AS total
  FROM bins
), qs(q) AS (VALUES (25), (50), (75), (90), (99)),
hit AS (
  SELECT q, bin, cum_n,
    ROW_NUMBER() OVER (PARTITION BY q ORDER BY bin ASC) AS rn
  FROM qs CROSS JOIN cum WHERE cum_n * 100 >= q * total
)
SELECT CAST(q AS INT) AS q,
  CAST(bin * 1000000 AS BIGINT) AS bin_lo,
  CAST((bin + 1) * 1000000 - 1 AS BIGINT) AS bin_hi,
  CAST(cum_n AS BIGINT) AS cum_n
FROM hit WHERE rn = 1
"""

ORACLES["dq_orders_checks"] = """
SELECT 'not_null:o_custkey' AS rule, CAST(COUNT(*) AS BIGINT) AS n_violations
FROM orders WHERE o_custkey IS NULL
UNION ALL
SELECT 'unique:o_orderkey', CAST(COALESCE(SUM(c - 1), 0) AS BIGINT)
FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey) WHERE c > 1
UNION ALL
SELECT 'accepted_values:o_orderstatus', CAST(COUNT(*) AS BIGINT)
FROM orders WHERE o_orderstatus IS NOT NULL
  AND o_orderstatus NOT IN ('O', 'F', 'P')
UNION ALL
SELECT 'accepted_values:o_orderpriority', CAST(COUNT(*) AS BIGINT)
FROM orders WHERE o_orderpriority IS NOT NULL
  AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
UNION ALL
SELECT 'relationships:o_custkey', CAST(COUNT(*) AS BIGINT)
FROM orders o WHERE o_custkey IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
"""

ORACLES["scd2_effective_revenue"] = """
WITH dedup AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS changed_at, o_orderpriority
  FROM (
    SELECT o_custkey, o_orderdate, o_orderpriority,
      ROW_NUMBER() OVER (PARTITION BY o_custkey, CAST(o_orderdate AS DATE)
                         ORDER BY o_orderkey DESC) AS rn
    FROM orders
  ) WHERE rn = 1
), marked AS (
  SELECT *, CASE WHEN LAG(o_orderpriority) OVER w IS NOT DISTINCT FROM o_orderpriority
                 THEN 0 ELSE 1 END AS is_new
  FROM dedup
  WINDOW w AS (PARTITION BY o_custkey ORDER BY changed_at ASC)
), regimes AS (
  SELECT o_custkey, o_orderpriority, changed_at AS effective_from,
    LEAD(changed_at) OVER (PARTITION BY o_custkey ORDER BY changed_at ASC)
      AS effective_to
  FROM marked WHERE is_new = 1
)
SELECT r.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_items,
  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
LEFT JOIN regimes r ON r.o_custkey = o.o_custkey
  AND CAST(l.l_shipdate AS DATE) >= r.effective_from
  AND CAST(l.l_shipdate AS DATE) < COALESCE(r.effective_to, DATE '9999-12-31')
GROUP BY r.o_orderpriority
"""

ORACLES["cube_sales_grid"] = """
SELECT r.r_name, o.o_orderpriority,
  CAST(GROUPING(r.r_name, o.o_orderpriority) AS INT) AS gid,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY CUBE (r.r_name, o.o_orderpriority)
"""

# Same twin as asof_click_attribution: the bucketed Spark variant must
# be indistinguishable from the plain one to an independent engine.
ORACLES["asof_bucketed_attribution"] = ORACLES["asof_click_attribution"]

ORACLES["order_value_rank_quantiles"] = """
WITH v AS (
  SELECT o_orderpriority AS priority,
    CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS c
  FROM orders
), r AS (
  SELECT priority, c,
    ROW_NUMBER() OVER (PARTITION BY priority ORDER BY c ASC) AS rn,
    COUNT(*) OVER (PARTITION BY priority) AS n
  FROM v
), qs(q) AS (VALUES (25), (50), (75), (90), (99))
SELECT priority, CAST(q AS INT) AS q, CAST(c AS BIGINT) AS qv_cents
FROM r CROSS JOIN qs
WHERE rn = (q * n + 99) // 100
"""

ORACLES["doc_line_dedup"] = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
), s AS (
  SELECT doc_id, seg,
         array_to_string(list_slice(words, seg * 6 + 1, seg * 6 + 6), ' ') AS seg_text
  FROM (
    SELECT doc_id, words,
      UNNEST(range(0, (len(words) + 5) // 6)) AS seg
    FROM w
  )
), r AS (
  SELECT doc_id, seg, seg_text,
    ROW_NUMBER() OVER (PARTITION BY seg_text ORDER BY doc_id, seg) AS rn,
    COUNT(*) OVER (PARTITION BY seg_text) AS occ
  FROM s
), rb AS (
  SELECT doc_id, COUNT(*) AS n_segments,
    SUM(CASE WHEN occ >= 2 AND rn > 1 THEN 1 ELSE 0 END) AS n_dropped,
    COALESCE(string_agg(CASE WHEN occ < 2 OR rn = 1 THEN seg_text END,
                        ' ' ORDER BY seg), '') AS text_clean
  FROM r GROUP BY 1
)
SELECT d.doc_id,
  CAST(COALESCE(rb.n_segments, 0) AS BIGINT) AS n_segments,
  CAST(COALESCE(rb.n_dropped, 0) AS BIGINT) AS n_dropped,
  COALESCE(rb.text_clean, '') AS text_clean
FROM documents d LEFT JOIN rb USING (doc_id)
"""

ORACLES["doc_incremental_dedup"] = f"""
WITH toks AS (
  SELECT doc_id, source, {_DTOKS} AS t FROM documents
), sh AS (
  SELECT doc_id, source, {_shingle_sql(3)} AS shingles FROM toks
), hashed AS (
  SELECT doc_id, source,
         list_transform(shingles, s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)) AS hs
  FROM sh WHERE len(shingles) > 0
), sig AS (
  SELECT doc_id, source, [{_SIG16}] AS sig FROM hashed
), bands AS (
  SELECT doc_id, source, b.band_id,
         md5(array_to_string(list_slice(sig, b.band_id * 4 + 1, b.band_id * 4 + 4), '|')) AS band_key
  FROM sig, (SELECT UNNEST([0, 1, 2, 3]) AS band_id) b
), idx AS (
  SELECT * FROM bands WHERE CAST(substr(source, 4, 10) AS INT) < 10
), keptb AS (
  SELECT band_id, band_key FROM idx GROUP BY 1, 2 HAVING COUNT(*) <= 500
), idxc AS (
  SELECT idx.* FROM idx JOIN keptb USING (band_id, band_key)
), newb AS (
  SELECT * FROM bands WHERE CAST(substr(source, 4, 10) AS INT) >= 10
), hits AS (
  SELECT n.doc_id, COUNT(DISTINCT i.doc_id) AS n_index_matches
  FROM newb n JOIN idxc i USING (band_id, band_key) GROUP BY 1
)
SELECT d.doc_id,
  CAST(COALESCE(h.n_index_matches, 0) AS BIGINT) AS n_index_matches,
  CAST(CASE WHEN COALESCE(h.n_index_matches, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS is_dup
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE CAST(substr(d.source, 4, 10) AS INT) >= 10
"""

ORACLES["doc_bpe_pairs"] = """
WITH t AS (
  SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents
), v AS (
  SELECT tok, COUNT(*) AS wc FROM t WHERE tok <> '' GROUP BY 1
), p AS (
  SELECT substr(tok, i, 2) AS pair, wc FROM (
    SELECT tok, wc, UNNEST(range(1, len(tok))) AS i FROM v WHERE len(tok) >= 2
  )
)
SELECT pair, CAST(SUM(wc) AS BIGINT) AS pair_count
FROM p GROUP BY 1 ORDER BY pair_count DESC, pair LIMIT 50
"""

ORACLES["compaction_plan"] = """
WITH b AS (
  SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS part_month,
         29 + length(o_orderpriority) AS rb
  FROM orders
), a AS (
  SELECT part_month, COUNT(*) AS n_rows, SUM(rb) AS est_bytes FROM b GROUP BY 1
), f AS (
  SELECT part_month, n_rows, est_bytes,
         GREATEST(1, (est_bytes + 262143) // 262144) AS n_files
  FROM a
)
SELECT part_month,
  CAST(n_rows AS BIGINT) AS n_rows,
  CAST(est_bytes AS BIGINT) AS est_bytes,
  CAST(n_files AS BIGINT) AS n_files,
  CAST((n_rows + n_files - 1) // n_files AS BIGINT) AS rows_per_file
FROM f
"""

ORACLES["domain_mixture_weights"] = """
WITH per AS (
  SELECT source, COUNT(*) AS n_docs,
         SUM(len(string_split(text, ' '))) AS tokens
  FROM documents GROUP BY 1
), tot AS (
  SELECT SUM(tokens) AS tt, COUNT(*) AS nd FROM per
)
SELECT source,
  CAST(n_docs AS BIGINT) AS n_docs,
  CAST(tokens AS BIGINT) AS tokens,
  CAST((10000 * tokens) // tt AS BIGINT) AS share_bp,
  CAST(CASE WHEN tokens > 0 THEN (10000 * tt) // (nd * tokens)
       ELSE 0 END AS BIGINT) AS weight_bp
FROM per, tot
"""

ORACLES["doc_curation_gate"] = f"""
WITH ds AS ({ORACLES["doc_dup_spans"].strip()}),
sig AS (
  SELECT doc_id,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
    CAST(CASE WHEN len(string_split(text, ' ')) > 0
      THEN FLOOR(10000 * len(list_distinct(string_split(text, ' ')))
                 / len(string_split(text, ' ')))
      ELSE 0 END AS BIGINT) AS distinct_share_bp,
    CAST(CASE WHEN len(string_split(text, ' ')) > 0
      THEN FLOOR(100 * length(replace(text, ' ', ''))
                 / len(string_split(text, ' ')))
      ELSE 0 END AS BIGINT) AS mean_wlen_centi
  FROM documents
), g AS (
  SELECT s.doc_id, s.n_words, s.distinct_share_bp, ds.dup_span_bp,
         s.mean_wlen_centi,
    CASE WHEN s.n_words < 10 THEN 'too_short'
         WHEN s.n_words > 5000 THEN 'too_long'
         WHEN s.distinct_share_bp < 2000 THEN 'repetitive'
         WHEN ds.dup_span_bp >= 5000 THEN 'dup_heavy'
         WHEN s.mean_wlen_centi < 200 OR s.mean_wlen_centi > 1200
           THEN 'weird_words'
         ELSE 'ok' END AS reason
  FROM sig s JOIN ds USING (doc_id)
)
SELECT doc_id, n_words, distinct_share_bp, dup_span_bp, mean_wlen_centi,
  reason, CAST(CASE WHEN reason = 'ok' THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM g
"""

ORACLES["doc_mixture_sample"] = """
WITH per AS (
  SELECT source, SUM(len(string_split(text, ' '))) AS tokens
  FROM documents GROUP BY 1
), tot AS (
  SELECT SUM(tokens) AS tt, COUNT(*) AS nd FROM per
), w AS (
  SELECT source,
    CAST(CASE WHEN tokens > 0 THEN (10000 * tt) // (nd * tokens)
         ELSE 0 END AS BIGINT) AS weight_bp
  FROM per, tot
), k AS (
  SELECT d.source, d.doc_id
  FROM documents d JOIN w ON d.source = w.source
  WHERE CAST('0x' || substr(md5('mix' || CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        % 10000 < LEAST(w.weight_bp, 10000)
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS kept_docs,
  CAST(MIN(doc_id) AS BIGINT) AS min_doc,
  CAST(MAX(doc_id) AS BIGINT) AS max_doc
FROM k GROUP BY source
"""

ORACLES["embedding_semdedup"] = f"""
WITH {_IVF_TRAIN_CTE.strip()},
e AS (
  SELECT vec_id, {_QVEC} AS q,
         sqrt(CAST(list_sum(list_transform({_QVEC}, x -> x * x)) AS DOUBLE)) AS nrm
  FROM embeddings
), c AS (
  SELECT e.vec_id, e.q AS v, e.nrm, CAST(ic.cell AS INTEGER) AS cell
  FROM e JOIN ivf_cells ic ON e.vec_id = ic.vec_id
), doomed AS (
  SELECT DISTINCT b.vec_id
  FROM c a JOIN c b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE FLOOR(CAST(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) AS DOUBLE)
        / NULLIF(a.nrm * b.nrm, 0.0) * 1000000.0 + 0.5) / 1000000.0 >= 0.35
)
SELECT c.vec_id, c.cell FROM c
WHERE NOT EXISTS (SELECT 1 FROM doomed d WHERE d.vec_id = c.vec_id)
"""

ORACLES["embedding_cluster_stats"] = f"""
WITH {_IVF_TRAIN_CTE.strip()},
tot AS (SELECT COUNT(*) AS n FROM ivf_cells)
SELECT CAST(cell AS INTEGER) AS cell,
  CAST(COUNT(*) AS BIGINT) AS n_vecs,
  CAST(SUM(dist2) AS BIGINT) AS inertia,
  CAST(MAX(dist2) AS BIGINT) AS max_dist2,
  CAST((10000 * COUNT(*)) // MIN(tot.n) AS BIGINT) AS share_bp,
  CAST(SUM(dist2) // COUNT(*) AS BIGINT) AS mean_dist2
FROM ivf_cells, tot GROUP BY cell
"""

# Binary quantization: sign-bit codes packed into two 32-bit halves
# (DuckDB's checked arithmetic rejects 1::BIGINT << 63); Hamming
# ranking is pure integer ops, bit-identical by construction. The
# per-half bit_counts are cast to INTEGER before adding (TINYINT sums
# would overflow at 64 + 64 > 127). Bounds mirror the Spark operator
# exactly: the code covers the first 64 dims (hi range capped at
# least(len, 64)), and NULL/empty vectors take (0, 0) — list_reduce
# over an empty list errors in DuckDB, so the lo half is guarded too.
ORACLES["embedding_bq_topk"] = """
WITH sig AS (
  SELECT vec_id,
    CASE WHEN embedding IS NOT NULL AND len(embedding) > 0 THEN
      list_reduce(list_transform(range(1, least(len(embedding), 32) + 1),
        i -> CASE WHEN CAST(embedding[i] AS DOUBLE) > 0.0
                  THEN (CAST(1 AS BIGINT) << CAST(i - 1 AS INTEGER))
                  ELSE CAST(0 AS BIGINT) END),
        (a, b) -> a | b)
    ELSE CAST(0 AS BIGINT) END AS sig_lo,
    CASE WHEN embedding IS NOT NULL AND len(embedding) > 32 THEN
      list_reduce(list_transform(range(33, least(len(embedding), 64) + 1),
        i -> CASE WHEN CAST(embedding[i] AS DOUBLE) > 0.0
                  THEN (CAST(1 AS BIGINT) << CAST(i - 33 AS INTEGER))
                  ELSE CAST(0 AS BIGINT) END),
        (a, b) -> a | b)
    ELSE CAST(0 AS BIGINT) END AS sig_hi
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, sig_lo AS qlo, sig_hi AS qhi
  FROM sig WHERE vec_id % 50 = 0
), c AS (
  SELECT vec_id AS neighbor_id, sig_lo, sig_hi FROM sig
), pairs AS (
  SELECT query_id, neighbor_id,
         CAST(CAST(bit_count(xor(qlo, sig_lo)) AS INTEGER)
              + CAST(bit_count(xor(qhi, sig_hi)) AS INTEGER) AS INTEGER)
           AS hamming
  FROM c, q WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, hamming, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY hamming ASC NULLS LAST,
                                        neighbor_id ASC) AS rank
  FROM pairs
) WHERE rank <= 5
"""

# Quantized-storage round-trip capstone: SQ8 train/encode/reconstruct
# (exact IEEE trees, bit-identical to operators/quantize.sq8_reconstruct),
# sign-bit BQ over the RECONSTRUCTED vectors, Hamming top-20 pre-filter,
# integer-quantized-cosine rerank of the survivors to top-5, and a
# recall audit against the exact float path (embedding_topk's kernel).
# Every stage is deterministic: min/max has no summation, floor/div
# trees are fixed, cosine operates on int64-quantized components whose
# partial sums stay far under 2^53, and every ranking carries an id
# tiebreak with NULLS LAST pinned.
ORACLES["embedding_sq8_roundtrip"] = f"""
WITH x AS (
  SELECT vec_id, CAST(dim AS INTEGER) - 1 AS dim,
         CAST(embedding[dim] AS DOUBLE) AS x
  FROM (SELECT vec_id, embedding,
               UNNEST(range(1, len(embedding) + 1)) AS dim
        FROM embeddings)
), s AS (
  SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM x GROUP BY dim
), r AS (
  SELECT vec_id, x.dim,
    mn + (CAST(CASE WHEN mx > mn
                    THEN FLOOR((x - mn) * 255.0 / (mx - mn) + 0.5)
                    ELSE 0 END AS DOUBLE) * (mx - mn)) / 255.0 AS xhat
  FROM x JOIN s ON x.dim = s.dim
), rv AS (
  SELECT vec_id, list(xhat ORDER BY dim) AS rv FROM r GROUP BY vec_id
), sig AS (
  SELECT vec_id,
    list_reduce(list_transform(range(1, least(len(rv), 32) + 1),
      i -> CASE WHEN rv[i] > 0.0
                THEN (CAST(1 AS BIGINT) << CAST(i - 1 AS INTEGER))
                ELSE CAST(0 AS BIGINT) END),
      (a, b) -> a | b) AS sig_lo,
    CASE WHEN len(rv) > 32 THEN
      list_reduce(list_transform(range(33, least(len(rv), 64) + 1),
        i -> CASE WHEN rv[i] > 0.0
                  THEN (CAST(1 AS BIGINT) << CAST(i - 33 AS INTEGER))
                  ELSE CAST(0 AS BIGINT) END),
        (a, b) -> a | b)
    ELSE CAST(0 AS BIGINT) END AS sig_hi
  FROM rv
), qs AS (
  SELECT vec_id AS query_id, sig_lo AS qlo, sig_hi AS qhi
  FROM sig WHERE vec_id % 50 = 0
), pre AS (
  SELECT query_id, c.vec_id AS neighbor_id,
         CAST(CAST(bit_count(xor(qlo, sig_lo)) AS INTEGER)
              + CAST(bit_count(xor(qhi, sig_hi)) AS INTEGER) AS INTEGER)
           AS hamming
  FROM sig c, qs WHERE query_id <> c.vec_id
), surv AS (
  SELECT query_id, neighbor_id, hamming FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY hamming ASC NULLS LAST,
                                          neighbor_id ASC) AS hr
    FROM pre
  ) WHERE hr <= 20
), qq AS (
  SELECT vec_id,
         list_transform(rv, v -> CAST(FLOOR(v * 1000 + 0.5) AS BIGINT)) AS qv
  FROM rv
), rerank AS (
  SELECT sv.query_id, sv.neighbor_id, sv.hamming,
    FLOOR(CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
                                       i -> a.qv[i] * b.qv[i])) AS DOUBLE)
          / NULLIF(sqrt(CAST(list_sum(list_transform(a.qv, v -> v * v)) AS DOUBLE))
                   * sqrt(CAST(list_sum(list_transform(b.qv, v -> v * v)) AS DOUBLE)),
                   0.0)
          * 1000000.0 + 0.5) / 1000000.0 AS cosine_q
  FROM surv sv
  JOIN qq a ON a.vec_id = sv.query_id
  JOIN qq b ON b.vec_id = sv.neighbor_id
), top5 AS (
  SELECT query_id, neighbor_id, hamming, cosine_q,
         CAST(rk AS INTEGER) AS rank FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine_q DESC NULLS LAST,
                                          neighbor_id ASC) AS rk
    FROM rerank
  ) WHERE rk <= 5
), eq AS (
  SELECT vec_id AS query_id, {_QVEC} AS qv
  FROM embeddings WHERE vec_id % 50 = 0
), ecand AS (
  SELECT vec_id AS neighbor_id, {_QVEC} AS cv FROM embeddings
), epairs AS (
  SELECT query_id, neighbor_id,
         FLOOR(CAST(list_sum(list_transform(range(1, len(qv) + 1),
                                            i -> qv[i] * cv[i])) AS DOUBLE)
               / NULLIF(sqrt(CAST(list_sum(list_transform(qv, v -> v * v)) AS DOUBLE))
                        * sqrt(CAST(list_sum(list_transform(cv, v -> v * v)) AS DOUBLE)),
                        0.0)
               * 1000000.0 + 0.5) / 1000000.0 AS ecos
  FROM ecand, eq WHERE query_id <> neighbor_id
), exact5 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY ecos DESC NULLS LAST,
                                          neighbor_id ASC) AS er
    FROM epairs
  ) WHERE er <= 5
)
SELECT t.query_id, t.neighbor_id, t.rank, t.hamming, t.cosine_q,
       (e.neighbor_id IS NOT NULL) AS hit
FROM top5 t
LEFT JOIN exact5 e
  ON t.query_id = e.query_id AND t.neighbor_id = e.neighbor_id
"""

# SQ8 quantization audit: every float is an exact IEEE double
# (float32 widens exactly), min/max involve no summation, and the
# encode/reconstruct expression trees below mirror the Spark side of
# operators/quantize.py verbatim — so the per-element nanounit floors
# are bit-identical and their int64 sums order-independent.
ORACLES["embedding_sq8"] = """
WITH x AS (
  SELECT CAST(dim AS INTEGER) - 1 AS dim,
         CAST(embedding[dim] AS DOUBLE) AS x
  FROM (SELECT embedding,
               UNNEST(range(1, len(embedding) + 1)) AS dim
        FROM embeddings)
), s AS (
  SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM x GROUP BY dim
), q AS (
  SELECT x.dim, x.x, s.mn, s.mx,
    CASE WHEN s.mx > s.mn
      THEN CAST(FLOOR((x.x - s.mn) * 255.0 / (s.mx - s.mn) + 0.5) AS BIGINT)
      ELSE 0 END AS q
  FROM x JOIN s USING (dim)
), r AS (
  SELECT dim, q, mn, mx,
    ABS((mn + ((CAST(q AS DOUBLE) * (mx - mn)) / 255.0)) - x) AS err
  FROM q
)
SELECT CAST(dim AS INTEGER) AS dim,
  CAST(COUNT(*) AS BIGINT) AS n_values,
  CAST(FLOOR(MIN(mn) * 1000000.0 + 0.5) AS BIGINT) AS mn_micro,
  CAST(FLOOR(MAX(mx) * 1000000.0 + 0.5) AS BIGINT) AS mx_micro,
  CAST(SUM(q) AS BIGINT) AS sum_code,
  CAST(MAX(q) AS BIGINT) AS max_code,
  CAST(SUM(CAST(FLOOR(err * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT)
    AS sum_err_nano,
  CAST(MAX(CAST(FLOOR(err * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT)
    AS max_err_nano
FROM r GROUP BY dim
"""

ORACLES["doc_rare_grams"] = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
), g AS (
  SELECT doc_id,
         array_to_string(list_slice(words, pos, pos + 7), ' ') AS gram
  FROM (
    SELECT doc_id, words,
      UNNEST(CASE WHEN len(words) >= 8 THEN range(1, len(words) - 6)
             ELSE CAST([] AS BIGINT[]) END) AS pos
    FROM w
  )
), occ AS (
  SELECT gram, COUNT(*) AS cnt FROM g GROUP BY gram
), per AS (
  SELECT g.doc_id, COUNT(*) AS n_grams,
         SUM(CASE WHEN occ.cnt <= 1 THEN 1 ELSE 0 END) AS rare_grams
  FROM g JOIN occ USING (gram) GROUP BY 1
)
SELECT d.doc_id,
  CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
  CAST(COALESCE(p.rare_grams, 0) AS BIGINT) AS rare_grams,
  CAST(CASE WHEN COALESCE(p.n_grams, 0) > 0
       THEN FLOOR(10000 * p.rare_grams / p.n_grams)
       ELSE 0 END AS BIGINT) AS rare_share_bp
FROM documents d LEFT JOIN per p USING (doc_id)
"""

ORACLES["doc_fuzzy_decontam"] = f"""
WITH toks AS (
  SELECT doc_id, {_DTOKS} AS t FROM documents
), sh AS (
  SELECT doc_id, {_shingle_sql(3)} AS shingles FROM toks
), hashed AS (
  SELECT doc_id,
         list_transform(shingles, s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)) AS hs
  FROM sh WHERE len(shingles) > 0
), sig AS (
  SELECT doc_id, [{_SIG16}] AS sig FROM hashed
), bands AS (
  SELECT doc_id, b.band_id,
         md5(array_to_string(list_slice(sig, b.band_id * 4 + 1, b.band_id * 4 + 4), '|')) AS band_key
  FROM sig, (SELECT UNNEST([0, 1, 2, 3]) AS band_id) b
), idx AS (
  SELECT * FROM bands WHERE doc_id % 10 = 0
), keptb AS (
  SELECT band_id, band_key FROM idx GROUP BY 1, 2 HAVING COUNT(*) <= 500
), idxc AS (
  SELECT idx.* FROM idx JOIN keptb USING (band_id, band_key)
), newb AS (
  SELECT * FROM bands WHERE doc_id % 10 <> 0
), hits AS (
  SELECT n.doc_id, COUNT(DISTINCT i.doc_id) AS n_bench_matches
  FROM newb n JOIN idxc i USING (band_id, band_key) GROUP BY 1
)
SELECT d.doc_id,
  CAST(COALESCE(h.n_bench_matches, 0) AS BIGINT) AS n_bench_matches,
  CAST(CASE WHEN COALESCE(h.n_bench_matches, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS is_contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % 10 <> 0
"""

# End-to-end curation pipeline twin: the nine stage CTEs are the same
# fragments as the per-stage oracles above (clean_corpus gate + exact
# dedup, line_dedup rewrite, minhash band/verify family, 6-gram and
# band-collision decontam vs the raw doc_id%97 bench, mixture weights,
# source-keyed split, pack window), chained over each other's outputs.
_DTOKS_CLEAN = _DTOKS.replace("lower(text)", "lower(text_clean)")

ORACLES["doc_curation_e2e"] = f"""
WITH base AS (
  SELECT doc_id, text, source, {_SCORES}, {_QUALITY} AS q,
    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
), gated AS (
  SELECT doc_id, text, source, fp FROM base
  WHERE q >= 0.5 AND {_LANG_CASE} = 'en'
), exact AS (
  SELECT doc_id, text, source FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM gated
  ) WHERE rn = 1
), lw AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM exact
), ls AS (
  SELECT doc_id, seg,
         array_to_string(list_slice(words, seg * 6 + 1, seg * 6 + 6), ' ') AS seg_text
  FROM (
    SELECT doc_id, words, UNNEST(range(0, (len(words) + 5) // 6)) AS seg FROM lw
  )
), lr AS (
  SELECT doc_id, seg, seg_text,
    ROW_NUMBER() OVER (PARTITION BY seg_text ORDER BY doc_id, seg) AS rn,
    COUNT(*) OVER (PARTITION BY seg_text) AS occ
  FROM ls
), rb AS (
  SELECT doc_id,
    COALESCE(string_agg(CASE WHEN occ < 2 OR rn = 1 THEN seg_text END,
                        ' ' ORDER BY seg), '') AS text_clean
  FROM lr GROUP BY 1
), clean AS (
  SELECT e.doc_id, e.source, COALESCE(rb.text_clean, '') AS text_clean
  FROM exact e LEFT JOIN rb USING (doc_id)
), toks AS (
  SELECT doc_id, {_DTOKS_CLEAN} AS t FROM clean
), sh AS (
  SELECT doc_id, {_shingle_sql(3)} AS shingles FROM toks
), hashed AS (
  SELECT doc_id, shingles,
         list_transform(shingles, s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)) AS hs
  FROM sh WHERE len(shingles) > 0
), sig AS (
  SELECT doc_id, shingles, [{_SIG16}] AS sig FROM hashed
), bands AS (
  SELECT doc_id, b.band_id,
         md5(array_to_string(list_slice(sig, b.band_id * 4 + 1, b.band_id * 4 + 4), '|')) AS band_key
  FROM sig, (SELECT UNNEST([0, 1, 2, 3]) AS band_id) b
), keptb AS (
  SELECT band_id, band_key FROM bands
  GROUP BY band_id, band_key HAVING COUNT(*) <= 500
), capped AS (
  SELECT bands.* FROM bands JOIN keptb USING (band_id, band_key)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
  FROM capped a
  JOIN capped b2 ON a.band_id = b2.band_id AND a.band_key = b2.band_key
              AND a.doc_id < b2.doc_id
), doomed AS (
  SELECT DISTINCT id_b AS doc_id FROM cand
  JOIN sig sa ON cand.id_a = sa.doc_id
  JOIN sig sb ON cand.id_b = sb.doc_id
  WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
        / (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles))) >= 0.5
), uniq AS (
  SELECT c.* FROM clean c
  WHERE NOT EXISTS (SELECT 1 FROM doomed d WHERE d.doc_id = c.doc_id)
), corpus AS (
  SELECT * FROM uniq WHERE doc_id % 97 <> 0
), btoks AS (
  SELECT doc_id, {_DTOKS} AS t FROM documents WHERE doc_id % 97 = 0
), bgrams AS (
  SELECT DISTINCT CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS gram_hash
  FROM (
    SELECT UNNEST(list_distinct(
      CASE WHEN len(t) < 6 THEN CAST([] AS VARCHAR[])
           ELSE list_transform(range(1, len(t) - 4),
                               i -> array_to_string(list_slice(t, i, i + 5), ' '))
      END)) AS g
    FROM btoks
  )
), cgrams AS (
  SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS gram_hash
  FROM (
    SELECT c.doc_id, UNNEST(list_distinct(
      CASE WHEN len(t.t) < 6 THEN CAST([] AS VARCHAR[])
           ELSE list_transform(range(1, len(t.t) - 4),
                               i -> array_to_string(list_slice(t.t, i, i + 5), ' '))
      END)) AS g
    FROM corpus c JOIN toks t USING (doc_id)
  )
), bsh AS (
  SELECT doc_id, {_shingle_sql(3)} AS shingles FROM btoks
), bhashed AS (
  SELECT doc_id,
         list_transform(shingles, s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)) AS hs
  FROM bsh WHERE len(shingles) > 0
), bsig AS (
  SELECT doc_id, [{_SIG16}] AS sig FROM bhashed
), bbands AS (
  SELECT doc_id, b.band_id,
         md5(array_to_string(list_slice(sig, b.band_id * 4 + 1, b.band_id * 4 + 4), '|')) AS band_key
  FROM bsig, (SELECT UNNEST([0, 1, 2, 3]) AS band_id) b
), bkept AS (
  SELECT band_id, band_key FROM bbands GROUP BY 1, 2 HAVING COUNT(*) <= 500
), bidx AS (
  SELECT bbands.* FROM bbands JOIN bkept USING (band_id, band_key)
), surv AS (
  SELECT c.* FROM corpus c
  WHERE NOT EXISTS (
          SELECT 1 FROM cgrams g JOIN bgrams USING (gram_hash)
          WHERE g.doc_id = c.doc_id)
    AND NOT EXISTS (
          SELECT 1 FROM bands n JOIN bidx i USING (band_id, band_key)
          WHERE n.doc_id = c.doc_id)
), per AS (
  SELECT source, SUM(len(string_split(text_clean, ' '))) AS tk FROM surv GROUP BY 1
), tot AS (
  SELECT SUM(tk) AS tt, COUNT(*) AS nd FROM per
), wts AS (
  SELECT source,
    CAST(CASE WHEN tk > 0 THEN (10000 * tt) // (nd * tk) ELSE 0 END AS BIGINT) AS weight_bp
  FROM per, tot
), sampled AS (
  SELECT s.doc_id, s.source,
    CAST(len(string_split(s.text_clean, ' ')) AS BIGINT) AS n_tokens
  FROM surv s JOIN wts USING (source)
  WHERE CAST('0x' || substr(md5('mix' || CAST(s.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        % 10000 < LEAST(wts.weight_bp, 10000)
), spl AS (
  SELECT doc_id, source, n_tokens,
    CASE WHEN bkt < 8000 THEN 'train' WHEN bkt < 9000 THEN 'val' ELSE 'test' END AS split
  FROM (
    SELECT *, CAST('0x' || substr(md5('grp' || source), 1, 8) AS BIGINT) % 10000 AS bkt
    FROM sampled
  )
)
SELECT doc_id, source, split, n_tokens,
  CAST(COALESCE(SUM(n_tokens) OVER w, 0) AS BIGINT) AS tokens_before,
  CAST(COALESCE(SUM(n_tokens) OVER w, 0) // 512 AS BIGINT) AS pack_id,
  CAST(COALESCE(SUM(n_tokens) OVER w, 0) % 512 AS BIGINT) AS pack_offset
FROM spl
WINDOW w AS (
  PARTITION BY split || '-' || CAST(doc_id % 4 AS VARCHAR)
  ORDER BY doc_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
"""

ORACLES["doc_group_splits"] = """
WITH b AS (
  SELECT doc_id, source,
    CAST('0x' || substr(md5('grp' || source), 1, 8) AS BIGINT) % 10000 AS bkt
  FROM documents
), s AS (
  SELECT doc_id, source, CASE WHEN bkt < 8000 THEN 'train'
                              WHEN bkt < 9000 THEN 'val'
                              ELSE 'test' END AS split
  FROM b
)
SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
  CAST(MIN(doc_id) AS BIGINT) AS min_doc,
  CAST(MAX(doc_id) AS BIGINT) AS max_doc
FROM s GROUP BY split
"""

ORACLES["sample_star_consistent"] = """
WITH ko AS (
  SELECT * FROM orders
  WHERE CAST('0x' || substr(md5('star' || CAST(o_orderkey AS VARCHAR)), 1, 8) AS BIGINT)
        % 10000 < 1000
), kl AS (
  SELECT l.* FROM lineitem l WHERE EXISTS (
    SELECT 1 FROM ko WHERE ko.o_orderkey = l.l_orderkey)
)
SELECT 'orders' AS tbl, CAST(COUNT(*) AS BIGINT) AS kept_rows,
  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS kept_keys FROM ko
UNION ALL
SELECT 'lineitem' AS tbl, CAST(COUNT(*) AS BIGINT) AS kept_rows,
  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS kept_keys FROM kl
"""

# Priority sampling (Duffield-Lund-Thorup): q = w * 2^32 / u with an
# md5-derived u in [1, 2^32] — exact ints below 2^53 into one IEEE
# division, so the float64 priorities (and the top-n SET) are
# bit-identical to the Spark operator's. tau = the (n+1)-th priority;
# w_hat = max(w, tau) is the unbiased subset-sum estimator.
ORACLES["doc_priority_sample"] = """
WITH base AS (
  SELECT doc_id, GREATEST(n_chars, 1) AS w,
    CAST(GREATEST(n_chars, 1) AS DOUBLE) * 4294967296.0
      / (CAST('0x' || substr(md5('pri' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) + 1)
      AS priority
  FROM documents
), top AS (
  SELECT * FROM base ORDER BY priority DESC, CAST(doc_id AS VARCHAR) LIMIT 121
), b AS (
  SELECT MIN(priority) AS tau, COUNT(*) AS cnt FROM top
)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id, CAST(t.w AS BIGINT) AS w,
  t.priority,
  CASE WHEN b.cnt > 120 THEN GREATEST(CAST(t.w AS DOUBLE), b.tau)
       ELSE CAST(t.w AS DOUBLE) END AS w_hat
FROM top t, b
WHERE b.cnt <= 120 OR t.priority > b.tau
"""

# KMV set-operation sketch: per-priority k smallest 32-bit md5 hashes
# of distinct customers; for each priority pair, the k smallest of the
# union pool are the union's own sketch, (k-1)*2^32/h_k estimates its
# distinct count, and the fraction present in BOTH sides estimates
# Jaccard. All estimator operands are exact in float64 (h < 2^32,
# (k-1)*2^32 ~ 5.5e11 < 2^53), so the estimates are bit-identical to
# the Spark operator's.
ORACLES["kmv_priority_overlap"] = """
WITH d AS (
  SELECT DISTINCT o_orderpriority AS g, o_custkey AS k FROM orders
), h AS (
  SELECT g, k,
    CAST('0x' || substr(md5('kmv' || CAST(k AS VARCHAR)), 1, 8) AS BIGINT) AS h
  FROM d
), sk AS (
  -- the sketch is a set of HASHES: distinct (g, h) before ranking so a
  -- 32-bit collision between two keys yields one entry, matching both
  -- the Spark batch operator and the streaming set() state.
  SELECT g, h FROM (
    SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS r
    FROM (SELECT DISTINCT g, h FROM h)
  ) WHERE r <= 128
), pairs AS (
  SELECT a.g AS ga, b.g AS gb
  FROM (SELECT DISTINCT g FROM sk) a
  JOIN (SELECT DISTINCT g FROM sk) b ON a.g < b.g
), pool AS (
  SELECT DISTINCT p.ga, p.gb, s.h
  FROM pairs p JOIN sk s ON s.g = p.ga OR s.g = p.gb
), union_k AS (
  SELECT ga, gb, h FROM (
    SELECT ga, gb, h, ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY h) AS r
    FROM pool
  ) WHERE r <= 128
), stats AS (
  SELECT u.ga, u.gb,
    COUNT(*) AS ucnt,
    MAX(u.h) AS uhk,
    SUM(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL THEN 1 ELSE 0 END) AS n_both
  FROM union_k u
  LEFT JOIN sk a ON a.g = u.ga AND a.h = u.h
  LEFT JOIN sk b ON b.g = u.gb AND b.h = u.h
  GROUP BY u.ga, u.gb
)
SELECT ga, gb,
  CASE WHEN ucnt < 128 THEN CAST(ucnt AS DOUBLE)
       ELSE 127 * 4294967296.0 / CAST(uhk AS DOUBLE) END AS union_est,
  CAST(n_both AS DOUBLE) / CAST(ucnt AS DOUBLE) AS jaccard_est,
  (CAST(n_both AS DOUBLE) / CAST(ucnt AS DOUBLE)) *
  (CASE WHEN ucnt < 128 THEN CAST(ucnt AS DOUBLE)
        ELSE 127 * 4294967296.0 / CAST(uhk AS DOUBLE) END) AS intersection_est
FROM stats
"""


# --- full iterative BPE training (round 7) --------------------------------
# The trainer's n_merges rounds unrolled as chained CTEs: each layer
# counts adjacent pairs over the current vocabulary segmentation, takes
# the (count DESC, left, right) argmax, and re-segments via a
# list_reduce fold with the SAME left-to-right non-overlapping
# semantics as the Spark-side F.aggregate (operators/bpe.py). Layers
# are MATERIALIZED: each v{k} is referenced twice (pair counts + the
# next re-segmentation) and inlining would double the tree per round.
# DuckDB slice notes: acc[:-2] drops the LAST element (negative bounds
# are inclusive); acc[-1] is the last element. The range(1, 128) pair
# index bound only requires words under 128 characters (max doc token
# here is ~12 chars; symbols only ever get longer, shrinking len(sym)).
def _bpe_oracle(n_merges: int, final_select: str) -> str:
    layers = [
        "toks AS MATERIALIZED (SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents)",
        "v0 AS MATERIALIZED (SELECT string_split(tok, '') AS sym,"
        " CAST(COUNT(*) AS BIGINT) AS wc FROM toks WHERE tok <> '' GROUP BY tok)",
    ]
    for k in range(n_merges):
        layers.append(
            f"p{k} AS MATERIALIZED (\n"
            f"  SELECT v.sym[g.i] AS ml, v.sym[g.i + 1] AS mr, SUM(v.wc) AS cnt\n"
            f"  FROM v{k} v CROSS JOIN (SELECT UNNEST(range(1, 128)) AS i) g\n"
            f"  WHERE g.i <= len(v.sym) - 1 GROUP BY 1, 2)"
        )
        layers.append(
            f"b{k} AS MATERIALIZED (SELECT ml, mr, cnt FROM p{k} "
            f"ORDER BY cnt DESC, ml, mr LIMIT 1)"
        )
        # LEFT JOIN ON TRUE (not CROSS JOIN): if the vocabulary is fully
        # merged before n_merges rounds, b{k} is EMPTY — a cross join
        # would wipe v{k+1}, while the left join keeps every row with
        # NULL ml/mr, making the fold's CASE predicate NULL → ELSE →
        # pass-through: the same no-op round the Spark trainer performs.
        layers.append(
            f"v{k + 1} AS MATERIALIZED (\n"
            f"  SELECT list_reduce(list_transform(v.sym, s -> [s]),\n"
            f"           (acc, s) -> CASE WHEN acc[-1] = ml AND s[1] = mr\n"
            f"                            THEN acc[:-2] || [ml || mr]\n"
            f"                            ELSE acc || s END) AS sym, v.wc\n"
            f"  FROM v{k} v LEFT JOIN b{k} ON TRUE)"
        )
    return "WITH " + ",\n".join(layers) + "\n" + final_select


_BPE_N = 12

ORACLES["doc_bpe_train"] = _bpe_oracle(
    _BPE_N,
    "SELECT * FROM (\n"
    + "\n  UNION ALL ".join(
        f"SELECT CAST({k + 1} AS INTEGER) AS merge_rank, ml AS left_sym,"
        f" mr AS right_sym, ml || mr AS merged, CAST(cnt AS BIGINT) AS pair_count"
        f" FROM b{k}"
        for k in range(_BPE_N)
    )
    + "\n)",
)

ORACLES["doc_bpe_tokens"] = _bpe_oracle(
    _BPE_N,
    f"SELECT token, CAST(SUM(wc) AS BIGINT) AS token_count FROM (\n"
    f"  SELECT UNNEST(sym) AS token, wc FROM v{_BPE_N}\n"
    f") GROUP BY 1 ORDER BY token_count DESC, token LIMIT 40",
)


# --- domain-authority PageRank (round 7) ----------------------------------
# Five power iterations unrolled; each round's edge contributions are
# quantized to int64 (floor(x*1e15 + 0.5)) and summed exactly, so the
# per-round blend is a fixed scalar IEEE sequence on identical operands
# — ranks match the Spark plan bit-for-bit. Damping literals use
# repr() of the SAME Python floats the Spark side lit()s (1 - 0.85 is
# NOT the double nearest 0.15; repr round-trips it exactly). e and the
# r/c layers are MATERIALIZED: each is referenced twice downstream.
def _pagerank_oracle(n_iter: int, damping: float) -> str:
    omd = repr(1.0 - damping)
    d = repr(damping)
    q = "1000000000000000.0"
    layers = [
        "w AS (SELECT source, string_split(text, ' ') AS words FROM documents)",
        "g AS MATERIALIZED (\n"
        "  SELECT DISTINCT source, array_to_string(list_slice(words, pos, pos + 7), ' ') AS gram\n"
        "  FROM (SELECT source, words,\n"
        "          UNNEST(CASE WHEN len(words) >= 8 THEN range(1, len(words) - 6)\n"
        "                 ELSE CAST([] AS BIGINT[]) END) AS pos FROM w))",
        "keep AS (SELECT gram FROM (SELECT gram, COUNT(*) AS nsrc FROM g GROUP BY 1)\n"
        "         WHERE nsrc BETWEEN 2 AND 4)",
        "e0 AS (SELECT a.source AS src, b.source AS dst, CAST(COUNT(*) AS BIGINT) AS wt\n"
        "       FROM g a JOIN keep k ON a.gram = k.gram JOIN g b ON a.gram = b.gram\n"
        "       WHERE a.source <> b.source GROUP BY 1, 2)",
        "outw AS MATERIALIZED (SELECT src, CAST(SUM(wt) AS BIGINT) AS out_w FROM e0 GROUP BY 1)",
        "e AS MATERIALIZED (SELECT e0.src, e0.dst, e0.wt, o.out_w FROM e0 JOIN outw o ON e0.src = o.src)",
        "nodes AS (SELECT DISTINCT source AS node FROM documents)",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        "r0 AS MATERIALIZED (SELECT node, n, 1.0 / CAST(n AS DOUBLE) AS rk\n"
        "                    FROM nodes CROSS JOIN nn)",
    ]
    for k in range(1, n_iter + 1):
        layers.append(
            f"c{k} AS MATERIALIZED (\n"
            f"  SELECT e.dst, SUM(CAST(FLOOR((CAST(e.wt AS DOUBLE) / CAST(e.out_w AS DOUBLE))\n"
            f"                               * rr.rk * {q} + 0.5) AS BIGINT)) AS s\n"
            f"  FROM e JOIN r{k - 1} rr ON e.src = rr.node GROUP BY 1)"
        )
        layers.append(
            f"r{k} AS MATERIALIZED (\n"
            f"  SELECT rr.node, rr.n,\n"
            f"         ({omd} / CAST(rr.n AS DOUBLE))\n"
            f"         + {d} * (CAST(COALESCE(cc.s, 0) AS DOUBLE) / {q}) AS rk\n"
            f"  FROM r{k - 1} rr LEFT JOIN c{k} cc ON rr.node = cc.dst)"
        )
    return (
        "WITH "
        + ",\n".join(layers)
        + f"\nSELECT rr.node AS source, CAST(COALESCE(o.out_w, 0) AS BIGINT) AS out_w,\n"
        f"       rr.rk AS pagerank\n"
        f"FROM r{n_iter} rr LEFT JOIN outw o ON rr.node = o.src"
    )


ORACLES["domain_pagerank"] = _pagerank_oracle(5, 0.85)


# PII redaction rewrite: same synthetic body as doc_pii_scan, same
# patterns, replacement order email -> url -> phone mirrored from
# functions/text.py PII_PATTERNS dict order (a URL swallowing an
# embedded email differs under the other order). DuckDB needs the 'g'
# flag for the global-replace semantics Spark applies by default.
ORACLES["doc_pii_redact"] = r"""
WITH scanned AS (
  SELECT doc_id, text
    || (CASE WHEN doc_id % 7 = 0
             THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com now'
             ELSE '' END)
    || (CASE WHEN doc_id % 5 = 0
             THEN ' see https://docs.example.com/page/' || CAST(doc_id AS VARCHAR)
             ELSE '' END)
    || (CASE WHEN doc_id % 11 = 0 THEN ' call 010-1234-5678' ELSE '' END) AS body
  FROM documents
)
SELECT doc_id,
  regexp_replace(
    regexp_replace(
      regexp_replace(body,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      'https?://[^\s]+', '<URL>', 'g'),
    '[0-9]{2,3}[-.][0-9]{3,4}[-.][0-9]{4}', '<PHONE>', 'g') AS red_text,
  CAST(len(regexp_extract_all(body, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
   + len(regexp_extract_all(body, 'https?://[^\s]+'))
   + len(regexp_extract_all(body, '[0-9]{2,3}[-.][0-9]{3,4}[-.][0-9]{4}')) AS BIGINT) AS n_redactions
FROM scanned
WHERE len(regexp_extract_all(body, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
   + len(regexp_extract_all(body, 'https?://[^\s]+'))
   + len(regexp_extract_all(body, '[0-9]{2,3}[-.][0-9]{3,4}[-.][0-9]{4}')) > 0
"""
