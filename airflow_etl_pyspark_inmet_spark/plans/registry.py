"""Query registry: name -> (spark callable, DuckDB oracle SQL or None).

The driver runs each callable at sf0.01 and compares row count + schema +
order-insensitive value hash against the oracle SQL executed by DuckDB on
the same parquet files (views: region nation customer supplier part orders
lineitem events documents embeddings).

Every registered query has a real oracle (292/292; this count is asserted
against len(QUERIES) by tests/test_plans.py::test_docstring_count so it
cannot go stale). Engine-specific hashing families (SimHash/sign-LSH,
sketches) stay oracle-checkable by emitting exact companion columns and
provably-exact envelope booleans rather than raw approximate output.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import queries_llm as L
from . import queries_relational as R
from . import queries_tpch as T

# shared SQL fragments ---------------------------------------------------------

# word-3gram shingle sets (distinct per doc), as used by dedup operators
_GRAMS_DISTINCT = """
grams AS (
  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') ws FROM documents) t,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(ws)-2, 0))) AS i) u
)"""

_JACCARD_SQL = f"""
WITH {_GRAMS_DISTINCT},
sizes AS (SELECT doc_id, COUNT(*) n FROM grams GROUP BY 1),
inter AS (
  SELECT a.doc_id id_a, b.doc_id id_b, COUNT(*) c
  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) >= 0.5
"""

_Q2_DAILY_SQL = """
SELECT s_suppkey, s_name, CAST(l_shipdate AS DATE) AS ship_date,
       min(l_quantity) AS qty_min,
       max(l_quantity) AS qty_max,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS qty_avg,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price_total,
       COUNT(*) AS n_rows
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY 1, 2, 3
"""

_SESSION_EVENTS_SQL = """
WITH x AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) {op} {gap_us}
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
y AS (
  SELECT user_id, ts,
         CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
  FROM x
)"""

_TUMBLING_SQL = """
SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""

ORACLES: dict[str, str | None] = {
    "q01_pricing_summary": """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    "q02_daily_supplier_agg": _Q2_DAILY_SQL,
    "q03_monthly_kpis": """
WITH daily AS (
  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS ship_date,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS qty_cents,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS price_cents,
         max(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS qty_max_cents,
         COUNT(*) AS n_rows
  FROM lineitem
  GROUP BY 1, 2
),
d2 AS (
  SELECT *, qty_cents * 10000 // n_rows AS qty_avg_e6 FROM daily
)
SELECT n_name,
       CAST(EXTRACT(year FROM ship_date) AS INTEGER) AS ano,
       CAST(EXTRACT(month FROM ship_date) AS INTEGER) AS mes,
       CAST(SUM(qty_avg_e6) // COUNT(qty_avg_e6) AS BIGINT) AS mensal_qty_media_e6,
       max(qty_max_cents) AS mensal_qty_max_cents,
       CAST(SUM(price_cents) AS BIGINT) AS mensal_price_cents,
       CAST(count_if(price_cents > 5000000) AS BIGINT) AS dias_high_rev
FROM d2
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY 1, 2, 3
""",
    "q04_minmax_bounds": """
SELECT CAST(min(o_orderdate) AS DATE) AS lo, CAST(max(o_orderdate) AS DATE) AS hi,
       COUNT(*) AS n
FROM orders
""",
    "q05_calendar_dim": """
WITH b AS (SELECT CAST(min(o_orderdate) AS DATE) lo, CAST(max(o_orderdate) AS DATE) hi FROM orders),
days AS (
  SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP), CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS data_medicao
  FROM b
)
SELECT data_medicao,
       CAST(day(data_medicao) AS INTEGER) AS dia,
       CAST(month(data_medicao) AS INTEGER) AS mes,
       CAST(year(data_medicao) AS INTEGER) AS ano,
       CAST(quarter(data_medicao) AS INTEGER) AS quartil,
       CAST(weekofyear(data_medicao) AS INTEGER) AS semana_do_ano
FROM days
""",
    "q06_surrogate_dim": """
SELECT CONCAT(TRIM(UPPER(COALESCE(n_name, ''))), '-', TRIM(UPPER(COALESCE(r_name, '')))) AS nation_sk,
       n_nationkey AS nation_id, n_name AS nome, r_name AS regiao
FROM nation JOIN region ON n_regionkey = r_regionkey
""",
    "q07_decimal_comma_roundtrip": """
SELECT p_partkey,
       CASE WHEN p_partkey % 97 = 0 THEN NULL
            ELSE CAST(replace(replace(CAST(p_retailprice AS VARCHAR), '.', ','), ',', '.') AS DOUBLE)
       END AS parsed_price
FROM part
""",
    "q08_dayfirst_dates": """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 3 IN (0, 1) THEN CAST(o_orderdate AS DATE) ELSE NULL END AS parsed_date
FROM orders
""",
    "q09_union_by_name": """
WITH u AS (
  SELECT l_orderkey, l_quantity, l_returnflag FROM lineitem WHERE l_returnflag = 'R'
  UNION ALL
  SELECT l_orderkey, l_quantity, l_returnflag FROM lineitem WHERE l_returnflag = 'A'
)
SELECT l_returnflag, COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
FROM u GROUP BY 1
""",
    "q10_semi_join": """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
""",
    "q11_anti_join": """
SELECT c_custkey, c_mktsegment FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
""",
    "q12_topk_per_group": """
WITH r AS (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
)
SELECT o_orderpriority, o_orderkey, o_totalprice FROM r WHERE rn <= 3
""",
    "q13_running_window": """
SELECT o_custkey, o_orderkey,
       CAST(row_number() OVER w AS INTEGER) AS order_seq,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
    "q14_rollup": """
SELECT r_name, n_name, COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal_total,
       CAST(GROUPING(r_name, n_name) AS BIGINT) AS grp_id
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""",
    "q15_cube": """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS grp_id
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
    "q16_distinct_agg": """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps,
       COUNT(*) AS n_rows
FROM lineitem GROUP BY 1
""",
    "q17_pivot": """
SELECT l_returnflag,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS qty_o,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS qty_f
FROM lineitem GROUP BY 1
""",
    "q18_sessionize": _SESSION_EVENTS_SQL.format(op=">", gap_us=1800 * 1_000_000)
    + """
SELECT user_id, sid AS session_seq, COUNT(*) AS n_events,
       epoch_us(min(ts)) AS first_us, epoch_us(max(ts)) AS last_us
FROM y GROUP BY 1, 2
""",
    # q72: q18's sessions under a planted hot key (every 5th event ->
    # user 999999) — the oracle is the PLAIN per-user session SQL on the
    # remapped events; the engine side runs the salted (user, time-chunk)
    # decomposition, so a hash match proves exact session equivalence.
    "q72_sessionize_salted": """
WITH e AS (
  SELECT CAST(CASE WHEN event_id % 5 = 0 THEN 999999 ELSE user_id END
              AS BIGINT) AS user_id, ts
  FROM events
),
x AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
y AS (
  SELECT user_id, ts,
         CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
  FROM x
)
SELECT user_id, sid AS session_seq, COUNT(*) AS n_events,
       epoch_us(min(ts)) AS first_us, epoch_us(max(ts)) AS last_us
FROM y GROUP BY 1, 2
""",
    "q19_tumbling_batch": _TUMBLING_SQL,
    "q20_json_extract": """
SELECT event_type,
       CAST(SUM(k) AS BIGINT) AS k_sum,
       COUNT(DISTINCT k) AS k_distinct,
       COUNT(*) AS n
FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events)
GROUP BY 1
""",
    "q21_three_way_join": """
SELECT n_name, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1
""",
    "q22_filter_project": """
SELECT l_orderkey, l_linenumber, l_quantity,
       CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS DOUBLE) AS net_price
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-02-01 00:00:00'
  AND l_quantity > 45
  AND l_returnflag IS NOT NULL
""",
    "q23_zero_fill": """
SELECT l_returnflag,
       CAST(SUM(CAST(COALESCE(CASE WHEN l_quantity < 5 THEN NULL ELSE l_quantity END, 0) AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_filled,
       COUNT(*) AS n
FROM lineitem GROUP BY 1
""",
    "q24_asof_join": """
WITH marks AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS mark_date,
         CAST(max(o_totalprice) AS DOUBLE) AS day_max
  FROM orders GROUP BY 1, 2 HAVING CAST(max(o_totalprice) AS DOUBLE) > 300000
)
SELECT o.o_orderkey, o.o_custkey, CAST(o.o_orderdate AS DATE) AS order_date,
       m.mark_date, m.day_max
FROM orders o ASOF LEFT JOIN marks m
  ON o.o_custkey = m.o_custkey AND CAST(o.o_orderdate AS DATE) >= m.mark_date
""",
    "q25_range_join": """
WITH bands AS (
  SELECT CAST(i AS BIGINT) AS band_id, i * 10.0 AS lo, i * 10.0 + 9.99 AS hi
  FROM (SELECT unnest(generate_series(90, 99)) AS i)
)
SELECT band_id, COUNT(*) AS n_parts,
       CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS price_total
FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice <= hi
GROUP BY 1
""",
    "q26_percentiles": """
SELECT l_returnflag,
       quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) AS qty_median,
       quantile_cont(CAST(l_quantity AS DOUBLE), 0.9) AS qty_p90,
       COUNT(*) AS n
FROM lineitem GROUP BY 1
""",
    "q27_lag_lead": """
SELECT o_orderkey, o_custkey,
       CAST(date_diff('day', lag(CAST(o_orderdate AS DATE)) OVER w,
                      CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_prev,
       CAST(CAST(lead(o_totalprice) OVER w AS DECIMAL(18,2))
            - CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS next_price_delta
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
    "q28_salted_join": """
SELECT s_name,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty_total,
       COUNT(*) AS n_rows
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY 1
""",
    "q29_set_ops": """
WITH y97 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997),
     y98 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1998)
SELECT o_custkey, 'both' AS segment
FROM (SELECT o_custkey FROM y97 INTERSECT SELECT o_custkey FROM y98)
UNION ALL
SELECT o_custkey, '1997_only' AS segment
FROM (SELECT o_custkey FROM y97 EXCEPT SELECT o_custkey FROM y98)
""",
    "q30_posexplode": """
SELECT p_partkey, ws[i] AS word, CAST(i - 1 AS INTEGER) AS pos
FROM (SELECT p_partkey, string_split(p_name, ' ') AS ws FROM part) t,
     LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) u
""",
    "q31_grouping_sets": """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS grp_id
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""",
    "q32_rolling_range_window": """
WITH daily AS (
  SELECT l_suppkey,
         CAST(date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) AS INTEGER) AS day_n,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS _rev
  FROM lineitem GROUP BY 1, 2
)
SELECT l_suppkey, day_n, CAST(_rev AS DOUBLE) AS day_rev,
       CAST(SUM(_rev) OVER (PARTITION BY l_suppkey ORDER BY day_n
            RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rev_7d
FROM daily
""",
    "q33_correlated_subquery": """
SELECT o_orderkey, o_custkey,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
FROM orders o
WHERE CAST(o_totalprice AS DECIMAL(18,2)) * 2 *
        (SELECT COUNT(*) FROM orders i WHERE i.o_custkey = o.o_custkey)
      > 3 * (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2)))
             FROM orders i WHERE i.o_custkey = o.o_custkey)
""",
    # HLL++ estimate itself is engine-specific; the query emits the exact
    # companion + a 5% error-envelope boolean, so the oracle hashes the
    # exact count and asserts the envelope as a literal TRUE.
    "q34_approx_distinct": """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       COUNT(*) AS n_rows,
       TRUE AS approx_ok
FROM lineitem GROUP BY 1
""",
    "q35_regression_per_group": """
WITH b AS (
  SELECT l_suppkey, CAST(l_quantity AS DECIMAL(18,2)) AS y,
         date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) AS x
  FROM lineitem
),
g AS (
  SELECT l_suppkey, COUNT(*) AS n,
         SUM(CAST(x AS DECIMAL(18,0))) AS sx,
         SUM(y) AS sy,
         SUM(CAST(x * y AS DECIMAL(28,2))) AS sxy,
         SUM(CAST(x * x AS DECIMAL(28,0))) AS sxx
  FROM b GROUP BY 1
)
SELECT l_suppkey, n,
       CASE WHEN n * sxx - sx * sx != 0
            THEN CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
            ELSE NULL END AS qty_slope
FROM g
""",
    "q38_ntile_quartiles": """
WITH s AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
  FROM orders GROUP BY 1
)
SELECT o_custkey, spend,
       CAST(ntile(4) OVER (ORDER BY spend DESC, o_custkey ASC) AS INTEGER) AS quartile
FROM s
""",
    "q39_tpch_q5": """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY 1
""",
    # GK sketch value is merge-order-dependent; the query validates its
    # rank guarantee in-engine and emits exact percentile companions
    # (F.percentile == DuckDB quantile_cont) + envelope booleans.
    "q51_approx_quantiles": """
SELECT o_orderstatus,
       COUNT(*) AS n,
       quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5) AS p50_exact,
       quantile_cont(CAST(o_totalprice AS DOUBLE), 0.95) AS p95_exact,
       TRUE AS p50_rank_ok,
       TRUE AS p95_rank_ok
FROM orders GROUP BY 1
""",
    # Datasketches HLL estimate is engine-specific; exact companion +
    # 5% envelope boolean (same pattern as q34).
    "q53_sketch_rollup": """
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
       TRUE AS approx_ok
FROM events GROUP BY 1
""",
    "q65_map_type": """
WITH counts AS (
  SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY 1, 2
)
SELECT user_id, event_type, n FROM counts WHERE n > 1
""",
    "q66_array_analytics": """
WITH baskets AS (
  SELECT l_orderkey,
         list_sort(list(CAST(l_quantity AS BIGINT))) AS qs
  FROM lineitem WHERE l_orderkey % 7 = 0 GROUP BY 1
)
SELECT l_orderkey,
       CAST(len(qs) AS BIGINT) AS n_lines,
       CAST(len(list_filter(qs, q -> q > 25)) AS BIGINT) AS n_big,
       CAST(list_sum(qs) AS BIGINT) AS qty_sum,
       CASE WHEN len(qs) >= 2
            THEN list_max(list_transform(generate_series(2, len(qs)), i -> qs[i] - qs[i-1]))
       END AS max_gap
FROM baskets
""",
    "m4_byte_histogram": """
WITH chars AS (
  SELECT doc_id, ascii(unnest(string_split(text, ''))) % 16 AS bucket
  FROM documents
)
SELECT doc_id, CAST(bucket AS INTEGER) AS bucket, COUNT(*) AS n
FROM chars GROUP BY 1, 2
""",
    "m5_resize": """
SELECT doc_id, CAST(32 AS INTEGER) AS width, CAST(32 AS INTEGER) AS height,
       CAST(128 AS INTEGER) AS n_out_bytes
FROM documents
""",
    "q64_recursive_cte": """
WITH RECURSIVE tree(pk, depth) AS (
  SELECT CAST(1 AS BIGINT) AS pk, 1 AS depth
  UNION ALL
  SELECT p.p_partkey, t.depth + 1
  FROM part p JOIN tree t ON p.p_partkey // 2 = t.pk
  WHERE p.p_partkey > 1
)
SELECT pk, CAST(depth AS INTEGER) AS depth FROM tree
""",
    "q61_listagg": """
SELECT r_name,
       string_agg(n_name, ',' ORDER BY n_name) AS nations,
       COUNT(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY 1
""",
    "q62_try_arithmetic": """
SELECT l_orderkey, l_linenumber,
       CASE WHEN (CASE WHEN l_linenumber % 3 = 0 THEN 0.0 ELSE l_quantity END) = 0.0
            THEN NULL
            ELSE l_extendedprice / (CASE WHEN l_linenumber % 3 = 0 THEN 0.0 ELSE l_quantity END)
       END AS price_per_unit,
       CAST(NULL AS DOUBLE) AS always_null
FROM lineitem WHERE l_orderkey % 5 = 0
""",
    "q63_bitmap_distinct": """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY 1
""",
    "q60_percentile_disc": """
SELECT o_orderstatus,
       quantile_cont(o_totalprice, 0.5) AS p50_cont,
       quantile_disc(o_totalprice, 0.5) AS p50_disc,
       quantile_disc(o_totalprice, 0.95) AS p95_disc,
       COUNT(*) AS n
FROM orders GROUP BY 1
""",
    "q58_cohort_retention": """
WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
c AS (SELECT user_id, day, min(day) OVER (PARTITION BY user_id) AS cohort_day FROM days)
SELECT cohort_day,
       CAST(date_diff('day', cohort_day, day) AS INTEGER) AS day_offset,
       COUNT(DISTINCT user_id) AS n_users
FROM c GROUP BY 1, 2
""",
    "q59_session_funnel": """
WITH x AS (
  SELECT user_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), y AS (
  SELECT user_id, ts, event_type,
         CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
  FROM x
)
SELECT user_id, sid AS session_id, COUNT(*) AS n_events,
       (min(CASE WHEN event_type = 'click' THEN ts END) IS NOT NULL) AS has_click,
       (min(CASE WHEN event_type = 'click' THEN ts END) IS NOT NULL
        AND max(CASE WHEN event_type = 'purchase' THEN ts END) IS NOT NULL
        AND max(CASE WHEN event_type = 'purchase' THEN ts END)
            >= min(CASE WHEN event_type = 'click' THEN ts END)) AS converted
FROM y GROUP BY 1, 2
""",
    "q56_grouped_agg_udaf": """
SELECT event_type,
       max(value) - min(value) AS spread,
       COUNT(*) AS n
FROM events GROUP BY 1
""",
    "q57_group_rank_pandas": """
SELECT user_id, event_id,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY value, event_id) AS INTEGER) AS value_rank
FROM events
""",
    "q54_left_outer_enrich": """
SELECT c_custkey, c_name,
       COUNT(o_orderkey) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY 1, 2
""",
    "q55_variant_json": """
SELECT event_type,
       CAST(SUM(CAST(props->>'$.k' AS INTEGER)) AS BIGINT) AS k_sum,
       CAST(MIN(CAST(props->>'$.k' AS INTEGER)) AS INTEGER) AS k_min,
       CAST(MAX(CAST(props->>'$.k' AS INTEGER)) AS INTEGER) AS k_max,
       COUNT(*) AS n
FROM events GROUP BY 1
""",
    "q50_anomaly_vs_climatology": f"""
WITH daily AS ({_Q2_DAILY_SQL})
SELECT s_suppkey, ship_date, qty_avg,
       CAST(SUM(CAST(qty_avg AS DECIMAL(18,8))) OVER w AS DOUBLE)
         / COUNT(qty_avg) OVER w AS clim_mean,
       qty_avg - (CAST(SUM(CAST(qty_avg AS DECIMAL(18,8))) OVER w AS DOUBLE)
         / COUNT(qty_avg) OVER w) AS anomaly
FROM daily
WINDOW w AS (PARTITION BY s_suppkey)
""",
    "q49_forward_fill": """
WITH gappy AS (
  SELECT user_id, ts,
         CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
  FROM events
)
SELECT user_id, epoch_us(ts) AS ts_us,
       last_value(v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS value_filled
FROM gappy
""",
    "q47_upsert_merge": """
WITH updates AS (
  SELECT o_orderkey, o_custkey, o_totalprice * 1.1 AS o_totalprice
  FROM orders WHERE o_orderkey % 10 = 0
)
SELECT o_orderkey, o_custkey, o_totalprice FROM updates
UNION ALL
SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 10 <> 0
""",
    "q48_rank_suite": """
SELECT c_custkey, c_mktsegment,
       CAST(rank() OVER w AS INTEGER) AS rnk,
       CAST(dense_rank() OVER w AS INTEGER) AS drnk,
       percent_rank() OVER w AS prnk,
       cume_dist() OVER w AS cdist
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC)
""",
    "q45_date_spine_gapfill": """
WITH bounds AS (SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi FROM events),
spine AS (
  SELECT CAST(unnest(generate_series(lo::TIMESTAMP, hi::TIMESTAMP, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
),
types AS (SELECT DISTINCT event_type FROM events),
daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)
SELECT s.day, t.event_type, COALESCE(d.n, CAST(0 AS BIGINT)) AS n_events
FROM spine s
CROSS JOIN types t
LEFT JOIN daily d ON d.day = s.day AND d.event_type = t.event_type
""",
    "q46_scd2_intervals": """
WITH flagged AS (
  SELECT user_id, ts, event_type,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
islands AS (
  SELECT user_id, ts, event_type,
         CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
  FROM flagged
)
SELECT user_id, island, min(event_type) AS event_type,
       epoch_us(min(ts)) AS valid_from_us,
       epoch_us(max(ts)) AS valid_to_us,
       CAST(count(*) AS BIGINT) AS n_events
FROM islands
GROUP BY user_id, island
""",
    "st5_stream_dedup": """
SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value FROM events
""",
    "st6_stream_stream_join": """
SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id,
       epoch_us(c.ts) AS click_us, epoch_us(v.ts) AS view_us
FROM events c
JOIN events v
  ON c.user_id = v.user_id
 AND c.event_type = 'click' AND v.event_type = 'view'
 AND v.ts >= c.ts AND v.ts <= c.ts + INTERVAL 30 MINUTE
""",
    "q41_unpivot": """
SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
""",
    "q42_histogram": """
SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       min(o_totalprice) AS lo,
       max(o_totalprice) AS hi,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
FROM orders
GROUP BY 1
""",
    "q43_full_outer_join": """
WITH h1 AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_early FROM orders
  WHERE o_orderdate < TIMESTAMP '1995-07-01 00:00:00' GROUP BY 1
), h2 AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_late FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-07-01 00:00:00' GROUP BY 1
)
SELECT COALESCE(h1.o_custkey, h2.o_custkey) AS custkey,
       COALESCE(n_early, 0) AS n_early,
       COALESCE(n_late, 0) AS n_late
FROM h1 FULL OUTER JOIN h2 ON h1.o_custkey = h2.o_custkey
""",
    "q44_array_agg_sorted": """
SELECT o_custkey,
       CAST(COUNT(*) AS INTEGER) AS n_orders,
       string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS orderkeys_csv
FROM orders
GROUP BY o_custkey
""",
    "q40_argmax_per_key": """
WITH m AS (
  SELECT o_custkey, max(CAST(o_totalprice AS DECIMAL(18,2))) AS mp
  FROM orders GROUP BY 1
)
SELECT o.o_custkey, min(o.o_orderkey) AS best_orderkey,
       CAST(m.mp AS DOUBLE) AS best_price
FROM orders o
JOIN m ON o.o_custkey = m.o_custkey
      AND CAST(o.o_totalprice AS DECIMAL(18,2)) = m.mp
GROUP BY o.o_custkey, m.mp
""",
    "q36_global_topk": """
SELECT o_orderkey, o_custkey,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
FROM orders
ORDER BY price DESC, o_orderkey ASC
LIMIT 20
""",
    "q37_quality_gate": """
SELECT COUNT(*) AS n_rows,
       CAST(count_if(l_orderkey IS NULL) AS BIGINT) AS null_orderkey,
       CAST(count_if(l_quantity <= 0 OR l_quantity > 50) AS BIGINT) AS qty_out_of_range,
       CAST(count_if(l_discount < 0 OR l_discount > 0.1) AS BIGINT) AS disc_out_of_range,
       CAST(count_if(l_returnflag NOT IN ('A', 'N', 'R')) AS BIGINT) AS bad_returnflag,
       CAST(count_if(l_shipdate < TIMESTAMP '1992-01-01') AS BIGINT) AS shipdate_too_early
FROM lineitem
""",
    # --- LLM-pipeline ops ---
    "d1_dedup_exact": """
SELECT min(doc_id) AS keep_id, COUNT(*) AS n_copies FROM documents GROUP BY text
""",
    "d2_dedup_jaccard": _JACCARD_SQL,
    "d3_dedup_minhash": _JACCARD_SQL,  # LSH recall ≈ 1 at this threshold; verified subset equality
    # simhash candidates at guaranteed-recall band width + exact-Jaccard
    # verify; r17: candidate generation is df-capped (<= 64) and the cap
    # is REPLICATED here — candidates come only from cool shingles, the
    # verify uses FULL shingle sets (see d4_dedup_simhash docstring).
    # At sf0.01 (max df = 7) this equals the uncapped _JACCARD_SQL.
    "d4_dedup_simhash": f"""
WITH {_GRAMS_DISTINCT},
sdf AS (SELECT g, COUNT(*) AS d FROM grams GROUP BY 1),
cand AS (
  SELECT a.doc_id id_a, b.doc_id id_b
  FROM grams a
  JOIN sdf ON sdf.g = a.g AND sdf.d <= 64
  JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, COUNT(*) n FROM grams GROUP BY 1),
inter AS (
  SELECT cd.id_a, cd.id_b, COUNT(*) c
  FROM cand cd
  JOIN grams a ON a.doc_id = cd.id_a
  JOIN grams b ON b.doc_id = cd.id_b AND b.g = a.g
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) >= 0.5
""",
    "d6_dedup_embedding": """
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos_sim
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.35
""",
    "d5_dedup_clusters": f"""
WITH RECURSIVE pairs AS ({_JACCARD_SQL}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach AS (
  SELECT a AS node, a AS comp FROM edges
  UNION
  SELECT e.b AS node, r.comp FROM reach r JOIN edges e ON e.a = r.node
)
SELECT node AS doc_id, min(comp) AS cluster_id FROM reach GROUP BY 1
""",
    "t1_token_stats": """
SELECT doc_id,
       CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS bpe_tokens,
       CAST(length(text) AS BIGINT) AS chars
FROM documents
""",
    "t5_chunk_docs": """
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents
),
s AS (
  SELECT doc_id, ws, unnest(range(0, greatest(len(ws), 1), 40)) AS st FROM w
)
SELECT doc_id,
       CAST(st // 40 AS INTEGER) AS chunk_idx,
       CAST(least(50, len(ws) - st) AS INTEGER) AS n_tokens,
       array_to_string(ws[st + 1 : st + 50], ' ') AS chunk_text
FROM s
""",
    "t6_normalize": """
SELECT doc_id,
       trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                           '\\s+', ' ', 'g')) AS norm_text
FROM documents
""",
    "t7_train_split": """
WITH s AS (
  SELECT doc_id,
         CASE WHEN doc_id % 100 < 80 THEN 'train'
              WHEN doc_id % 100 < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split, COUNT(*) AS n_docs, min(doc_id) AS min_id, max(doc_id) AS max_id
FROM s GROUP BY 1
""",
    "t8_tfidf_top_terms": """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS g FROM documents
), tf AS (
  SELECT doc_id, g, COUNT(*) AS tf FROM toks GROUP BY 1, 2
), dfreq AS (
  SELECT g, COUNT(*) AS df FROM tf GROUP BY 1
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.g AS term,
         CAST(tf.tf AS BIGINT) AS tf, CAST(dfreq.df AS BIGINT) AS df,
         round(tf.tf * (ln((1 + n.n_docs) / CAST(1 + dfreq.df AS DOUBLE)) + 1.0), 6) AS tfidf
  FROM tf JOIN dfreq USING (g) CROSS JOIN n
)
SELECT doc_id, term, tf, df, tfidf,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS INTEGER) AS rank
FROM scored QUALIFY rank <= 3
""",
    "t9_decontaminate": """
WITH grams AS (
  SELECT doc_id,
         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' ||
         ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7] AS g
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') ws FROM documents) t,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(ws)-7, 0))) AS i) u
), tg AS (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % 23 != 0),
eg AS (SELECT DISTINCT g FROM grams WHERE doc_id % 23 = 0),
hits AS (
  SELECT doc_id, COUNT(*) AS n_shared FROM tg
  WHERE g IN (SELECT g FROM eg) GROUP BY 1
), tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM tg GROUP BY 1)
SELECT tot.doc_id,
       CAST(COALESCE(hits.n_shared, 0) AS BIGINT) AS n_shared,
       CAST(tot.n_grams AS BIGINT) AS n_grams,
       COALESCE(hits.n_shared, 0) / CAST(tot.n_grams AS DOUBLE) AS contamination,
       (COALESCE(hits.n_shared, 0) / CAST(tot.n_grams AS DOUBLE)) >= 0.05 AS is_contaminated
FROM tot LEFT JOIN hits USING (doc_id)
""",
    "t10_repetition_stats": """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS g FROM documents
), wc AS (SELECT doc_id, g, COUNT(*) AS c FROM toks GROUP BY 1, 2),
wstats AS (
  SELECT doc_id, SUM(c) AS n_words, COUNT(*) AS n_distinct, MAX(c) AS top_word_n
  FROM wc GROUP BY 1
), big AS (
  SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') ws FROM documents) t,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(ws)-1, 0))) AS i) u
), bc AS (SELECT doc_id, g, COUNT(*) AS c FROM big GROUP BY 1, 2),
bstats AS (SELECT doc_id, MAX(c) AS top_bigram_n FROM bc GROUP BY 1)
SELECT w.doc_id,
       CAST(w.n_words AS BIGINT) AS n_words,
       w.n_distinct / CAST(w.n_words AS DOUBLE) AS distinct_ratio,
       w.top_word_n / CAST(w.n_words AS DOUBLE) AS top_word_frac,
       b.top_bigram_n / CAST(greatest(w.n_words - 1, 1) AS DOUBLE) AS top_bigram_frac
FROM wstats w LEFT JOIN bstats b USING (doc_id)
""",
    "t11_stratified_sample": """
WITH ranked AS (
  SELECT doc_id, lang,
         CAST(row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
         ) AS INTEGER) AS pick,
         CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS strata_n
  FROM documents
)
SELECT doc_id, lang, pick, strata_n FROM ranked
WHERE pick <= (strata_n * 10 + 99) // 100
""",
    "t2_quality": """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_calc,
       CAST(length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS DOUBLE)
           / CAST(length(text) AS DOUBLE) AS alpha_ratio,
       CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                            w -> lower(w) IN ('the','a','and','of','to','in','is'))) AS DOUBLE)
           / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS stopword_ratio
FROM documents
""",
    "t3_lang_id": """
WITH s AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), w -> w IN ('the','and','of','a'))) AS BIGINT) AS score_en,
         CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), w -> w IN ('el','la','de','que'))) AS BIGINT) AS score_es,
         CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), w -> w IN ('der','die','und','das'))) AS BIGINT) AS score_de,
         CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), w -> w IN ('le','la','et','les'))) AS BIGINT) AS score_fr
  FROM documents
)
SELECT doc_id, score_en, score_es, score_de, score_fr,
       CASE WHEN greatest(score_en, score_es, score_de, score_fr) <= 0 THEN 'unknown'
            WHEN score_en = greatest(score_en, score_es, score_de, score_fr) THEN 'en'
            WHEN score_es = greatest(score_en, score_es, score_de, score_fr) THEN 'es'
            WHEN score_de = greatest(score_en, score_es, score_de, score_fr) THEN 'de'
            ELSE 'fr' END AS lang_pred
FROM s
""",
    "t4_fingerprint": """
WITH grams AS (
  SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') ws FROM documents) t,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(ws)-2, 0))) AS i) u
)
SELECT doc_id, min(md5(g)) AS fp_min, max(md5(g)) AS fp_max, COUNT(*) AS n_grams
FROM grams GROUP BY 1
""",
    "s1_cosine_topk": """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
),
scored AS (
  SELECT query_id, e.vec_id AS item_id,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), qv)
           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(qv, qv))) AS score
  FROM embeddings e, q
  WHERE e.vec_id != query_id
),
r AS (
  SELECT query_id, item_id,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, item_id ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, item_id, rank FROM r WHERE rank <= 10
""",
    # s2/s3 emit the exact top-k (same as s1) + per-query ANN recall
    # envelope booleans — see ann_with_recall_check.
    "s2_lsh_topk": """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
),
scored AS (
  SELECT query_id, e.vec_id AS item_id,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), qv)
           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(qv, qv))) AS score
  FROM embeddings e, q
  WHERE e.vec_id != query_id
),
r AS (
  SELECT query_id, item_id,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, item_id ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, item_id, rank, TRUE AS recall_ok FROM r WHERE rank <= 10
""",
    "s3_ivf_topk": """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
),
scored AS (
  SELECT query_id, e.vec_id AS item_id,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), qv)
           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(qv, qv))) AS score
  FROM embeddings e, q
  WHERE e.vec_id != query_id
),
r AS (
  SELECT query_id, item_id,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, item_id ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, item_id, rank, TRUE AS recall_ok FROM r WHERE rank <= 10
""",
    # s5 emits the exact top-k + PQ-tier recall envelope boolean, same
    # contract as s2/s3 (see ann_with_recall_check).
    "s5_pq_topk": """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
),
scored AS (
  SELECT query_id, e.vec_id AS item_id,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), qv)
           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(qv, qv))) AS score
  FROM embeddings e, q
  WHERE e.vec_id != query_id
),
r AS (
  SELECT query_id, item_id,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, item_id ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, item_id, rank, TRUE AS recall_ok FROM r WHERE rank <= 10
""",
    "m3_embed_norm": """
SELECT vec_id,
       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS l2_norm,
       CAST(len(embedding) AS INTEGER) AS dim
FROM embeddings
""",
    "m1_decode_meta": """
SELECT doc_id,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       CAST(strlen(text) % 640 + 1 AS INTEGER) AS width,
       CAST(strlen(text) % 480 + 1 AS INTEGER) AS height,
       'fake' AS format
FROM documents
""",
    "m2_frame_sample": """
SELECT doc_id,
       CAST(unnest(generate_series(0, greatest(CAST(floor(strlen(text) / 64.0) AS INTEGER) - 1, 0))) AS INTEGER) AS frame_idx
FROM documents
""",
    "st1_stream_tumbling": _TUMBLING_SQL,
    "st4_stream_static_join": """
WITH prof AS (
  SELECT user_id,
         CASE WHEN COUNT(*) >= 50 THEN 'heavy' ELSE 'light' END AS tier
  FROM events GROUP BY 1
)
SELECT tier, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events JOIN prof USING (user_id)
GROUP BY 1
""",
    "st3_stream_stateful": """
SELECT user_id, COUNT(*) AS n_events,
       epoch_us(min(ts)) AS first_us, epoch_us(max(ts)) AS last_us
FROM events GROUP BY 1
""",
    "st2_stream_sessions": _SESSION_EVENTS_SQL.format(op=">=", gap_us=1800 * 1_000_000)
    + """
SELECT user_id, epoch_us(min(ts)) AS start_us,
       epoch_us(max(ts) + INTERVAL 30 MINUTE) AS end_us,
       COUNT(*) AS n_events
FROM y GROUP BY user_id, sid
""",
    # engine groups segments by 64-bit hash, oracle by segment text —
    # identical equality classes absent a collision (odds ~1e-13 here)
    "d7_segment_dedup": """
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents
),
seg AS (
  SELECT doc_id, CAST(i AS INTEGER) AS seg_idx,
         array_to_string(ws[i*10+1 : i*10+10], ' ') AS seg_text
  FROM w, LATERAL (
    SELECT unnest(range(0, greatest(CAST(ceil(len(ws) / 10.0) AS BIGINT), 1))) AS i
  ) u
),
bp AS (
  SELECT seg_text FROM seg GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
)
SELECT doc_id,
       COUNT(*) AS n_segments,
       CAST(count_if(seg_text IN (SELECT seg_text FROM bp)) AS BIGINT) AS n_boilerplate,
       COALESCE(string_agg(seg_text, ' ' ORDER BY seg_idx)
                FILTER (WHERE seg_text NOT IN (SELECT seg_text FROM bp)), '') AS kept_text,
       CAST(count_if(seg_text IN (SELECT seg_text FROM bp)) AS DOUBLE) / COUNT(*) AS boilerplate_frac
FROM seg GROUP BY doc_id
""",
    "d8_semantic_keeper": """
WITH RECURSIVE e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.35
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach AS (
  SELECT a AS node, a AS comp FROM edges
  UNION
  SELECT e2.b AS node, r.comp FROM reach r JOIN edges e2 ON e2.a = r.node
),
comp AS (SELECT node, min(comp) AS cluster_id FROM reach GROUP BY 1)
SELECT v.vec_id,
       COALESCE(c.cluster_id, v.vec_id) AS cluster_id,
       v.vec_id = COALESCE(c.cluster_id, v.vec_id) AS is_keeper
FROM embeddings v LEFT JOIN comp c ON c.node = v.vec_id
""",
    "t12_pii_scrub": """
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@mail.example.com from 10.'
                   || CAST(doc_id % 256 AS VARCHAR) || '.0.1'
              ELSE text END AS text
  FROM documents
),
r1 AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                        '<EMAIL>', 'g') AS t1
  FROM aug
)
SELECT doc_id, n_emails,
       CAST(len(regexp_extract_all(t1, '\\b\\d{1,3}(\\.\\d{1,3}){3}\\b')) AS BIGINT) AS n_ips,
       regexp_replace(t1, '\\b\\d{1,3}(\\.\\d{1,3}){3}\\b', '<IP>', 'g') AS redacted_text
FROM r1
""",
    "t13_pack_sequences": """
WITH t AS (
  SELECT doc_id, doc_id % 32 AS shard,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n
  FROM documents
),
o AS (
  SELECT doc_id, n,
         CAST(SUM(n) OVER (ORDER BY shard, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n
              AS BIGINT) AS off
  FROM t
),
b AS (
  SELECT doc_id, n, off,
         unnest(range(off // 256, (off + n - 1) // 256 + 1)) AS bin_id
  FROM o WHERE n > 0
)
SELECT CAST(bin_id AS BIGINT) AS bin_id, doc_id,
       CAST(greatest(bin_id * 256 - off, 0) AS BIGINT) AS tok_start,
       CAST(least((bin_id + 1) * 256 - off, n)
            - greatest(bin_id * 256 - off, 0) AS BIGINT) AS n_tokens
FROM b
""",
    "x1_mixture_sample": """
WITH tgt AS (
  SELECT 'src' || CAST(i AS VARCHAR) AS source,
         CAST(10 + (i * 17) % 40 AS BIGINT) AS _target
  FROM range(20) r(i)
),
cnt AS (SELECT source, COUNT(*) AS _n FROM documents GROUP BY source),
quota AS (
  SELECT c.source,
         CAST(t._target // c._n AS BIGINT) AS _base,
         CAST(t._target % c._n AS BIGINT) AS _rem
  FROM cnt c JOIN tgt t USING (source)
),
ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source
             ORDER BY (doc_id * 2654435761) % 1048576, doc_id) AS _rnk
  FROM documents
)
SELECT r.doc_id, r.source,
       CAST(q._base + CASE WHEN r._rnk <= q._rem THEN 1 ELSE 0 END
            AS BIGINT) AS n_copies
FROM ranked r JOIN quota q USING (source)
""",
    "x2_domain_cap": """
WITH ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source
             ORDER BY (doc_id * 2654435761) % 1048576, doc_id) AS _rnk
  FROM documents
)
SELECT doc_id, source, CAST(_rnk AS BIGINT) AS sel_rank
FROM ranked WHERE _rnk <= 12
""",
    "x3_shard_assign": """
WITH t AS (
  SELECT doc_id, (doc_id * 2654435761) % 1048576 AS pri
  FROM documents
)
SELECT doc_id, CAST(pri % 8 AS BIGINT) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY pri % 8 ORDER BY pri, doc_id)
            AS BIGINT) AS pos
FROM t
""",
    "t15_vocab_top_terms": """
WITH toks AS (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents
),
counts AS (
  SELECT token, COUNT(*) AS freq FROM toks WHERE token <> '' GROUP BY token
)
SELECT token, freq,
       CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) AS INTEGER) AS rank
FROM counts
ORDER BY freq DESC, token ASC
LIMIT 50
""",
    "t16_oov_stats": """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
  FROM documents
),
tok AS (SELECT doc_id, token FROM toks WHERE token <> ''),
vocab AS (
  SELECT token FROM (
    SELECT token, COUNT(*) AS freq FROM tok GROUP BY token
  ) ORDER BY freq DESC, token ASC LIMIT 40
),
j AS (
  SELECT t.doc_id, CASE WHEN v.token IS NULL THEN 0 ELSE 1 END AS _in
  FROM tok t LEFT JOIN vocab v USING (token)
)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       CAST(COUNT(*) - SUM(_in) AS BIGINT) AS n_oov,
       CAST(COUNT(*) - SUM(_in) AS DOUBLE) / COUNT(*) AS oov_rate
FROM j GROUP BY doc_id
""",
    "t17_unigram_logprob": """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
  FROM documents
),
tok AS (SELECT doc_id, token FROM toks WHERE token <> ''),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
freq AS (SELECT token, SUM(tf) AS cnt FROM tf GROUP BY token),
total AS (SELECT SUM(cnt) AS n_total FROM freq),
scored AS (
  SELECT tf.doc_id, tf.tf,
         CAST(round(-ln(freq.cnt / CAST(t.n_total AS DOUBLE)) * 1e6)
              AS BIGINT) AS nl_u
  FROM tf JOIN freq USING (token) CROSS JOIN total t
)
SELECT doc_id,
       CAST(SUM(tf) AS BIGINT) AS n_tokens,
       CAST(SUM(tf * nl_u) AS DOUBLE) / (SUM(tf) * 1e6) AS mean_neglogp
FROM scored GROUP BY doc_id
""",
    "q68_skew_report": """
WITH counts AS (
  SELECT user_id AS key, COUNT(*) AS n_rows FROM events GROUP BY user_id
),
total AS (SELECT SUM(n_rows) AS _total FROM counts),
top AS (
  SELECT key, n_rows FROM counts
  ORDER BY n_rows DESC, key ASC LIMIT 10
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_rows DESC, key ASC) AS INTEGER)
         AS rank,
       CAST(key AS VARCHAR) AS key,
       n_rows,
       CAST(n_rows AS DOUBLE) / t._total AS share
FROM top CROSS JOIN total t
""",
    "q69_incremental_agg": """
SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS ano,
       CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS mes,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS price_cents,
       COUNT(*) AS n_orders
FROM orders
GROUP BY 1, 2
""",
    "q67_column_profile": """
WITH li AS (
  SELECT l_returnflag,
         CAST(l_shipdate AS DATE) AS l_shipdate,
         CAST(l_quantity AS DECIMAL(18,2)) AS l_quantity
  FROM lineitem
)
SELECT 'l_returnflag' AS "column", COUNT(*) AS n_rows,
       COUNT(*) - COUNT(l_returnflag) AS n_nulls,
       COUNT(DISTINCT l_returnflag) AS n_distinct,
       CAST(MIN(l_returnflag) AS VARCHAR) AS min_value,
       CAST(MAX(l_returnflag) AS VARCHAR) AS max_value
FROM li
UNION ALL
SELECT 'l_shipdate', COUNT(*), COUNT(*) - COUNT(l_shipdate),
       COUNT(DISTINCT l_shipdate),
       CAST(MIN(l_shipdate) AS VARCHAR), CAST(MAX(l_shipdate) AS VARCHAR)
FROM li
UNION ALL
SELECT 'l_quantity', COUNT(*), COUNT(*) - COUNT(l_quantity),
       COUNT(DISTINCT l_quantity),
       CAST(MIN(l_quantity) AS VARCHAR), CAST(MAX(l_quantity) AS VARCHAR)
FROM li
""",
}


def _t14_strip_boilerplate_sql() -> str:
    """Oracle for strip_boilerplate: the same ordered regex chain (URLs
    first, then one squash pass per punctuation char), mirrored stage by
    stage as CTEs. DuckDB's regexp_replace needs the explicit 'g' flag
    (Spark's replaces all matches by default)."""
    url = "https?://[^\\s]+"
    stages = [
        "docs14 AS (\n"
        "  SELECT doc_id,\n"
        "         CASE WHEN doc_id % 4 = 0 THEN\n"
        "           concat('see https://ex.example/', doc_id, '/page now!!!!! ', text)\n"
        "         ELSE text END AS text\n"
        "  FROM documents)",
        "s0 AS (\n"
        "  SELECT doc_id,\n"
        "         len(regexp_extract_all(text, '" + url + "')) AS n_urls,\n"
        "         CAST(0 AS BIGINT) AS n_runs,\n"
        "         regexp_replace(text, '" + url + "', ' ', 'g') AS t\n"
        "  FROM docs14)",
    ]
    for i, ch in enumerate("!?.,;:*#=-", 1):
        esc = ("\\" + ch) if ch in ".*?" else ch
        pat = esc + "{4,}"
        stages.append(
            f"s{i} AS (\n"
            f"  SELECT doc_id, n_urls,\n"
            f"         n_runs + len(regexp_extract_all(t, '{pat}')) AS n_runs,\n"
            f"         regexp_replace(t, '{pat}', '{ch}', 'g') AS t\n"
            f"  FROM s{i - 1})"
        )
    return (
        "WITH " + ",\n".join(stages) + "\n"
        "SELECT doc_id,\n"
        "       CAST(n_urls AS BIGINT) AS n_urls,\n"
        "       CAST(n_runs AS BIGINT) AS n_punct_runs,\n"
        "       trim(regexp_replace(t, '\\s+', ' ', 'g')) AS clean_text\n"
        "FROM s10\n"
    )


ORACLES["t14_strip_boilerplate"] = _t14_strip_boilerplate_sql()

# t18: intra-document repeated-segment removal. Mirrors the Spark plant
# (every 5th doc = first 20 words + first 10 again) and the map-only
# first-occurrence filter with DuckDB list arithmetic (list_position =
# Spark array_position; indexed lambdas avoided for portability).
ORACLES["t18_intra_doc_dedup"] = """
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN
           array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), 1, 20), ' ')
           || ' ' ||
           array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), 1, 10), ' ')
         ELSE text END AS text
  FROM documents
),
segged AS (
  SELECT doc_id,
         list_transform(
           range(CAST(ceil(len(ws) / 10.0) AS BIGINT)),
           i -> array_to_string(list_slice(ws, i * 10 + 1, i * 10 + 10), ' ')
         ) AS segs
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM base)
),
kept AS (
  SELECT doc_id, segs,
         list_filter(
           list_transform(
             range(1, len(segs) + 1),
             i -> CASE WHEN list_position(segs, segs[i]) = i THEN segs[i] END
           ),
           x -> x IS NOT NULL
         ) AS ks
  FROM segged
)
SELECT doc_id,
       CAST(len(segs) AS BIGINT) AS n_segments,
       CAST(len(segs) - len(ks) AS BIGINT) AS n_repeats,
       array_to_string(ks, ' ') AS dedup_text
FROM kept
"""

# c2: the dedup FUNNEL — planted exact dups (donor self-join), d1's
# min-id exact dedup (by text; engine groups by xxhash64 — the
# hash-class trade), d2's Jaccard pairs among keepers, d5's recursive
# closure, canonical = min reachable id. Keepers with no near-dup
# cluster themselves.
ORACLES["c2_dedup_funnel"] = """
WITH RECURSIVE base AS (
  SELECT r.doc_id,
         CASE WHEN r.doc_id % 7 = 0
              THEN COALESCE(d.text, r.text) ELSE r.text END AS text
  FROM documents r
  LEFT JOIN (SELECT doc_id + 1 AS doc_id, text FROM documents) d
    USING (doc_id)
),
kg AS (
  SELECT min(doc_id) AS doc_id, COUNT(*) AS exact_copies
  FROM base GROUP BY text
),
kdocs AS (
  SELECT kg.doc_id, kg.exact_copies, b.text
  FROM kg JOIN base b USING (doc_id)
),
grams AS (
  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') ws FROM kdocs) t,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(ws)-2, 0))) AS i) u
),
sizes AS (SELECT doc_id, COUNT(*) n FROM grams GROUP BY 1),
inter AS (
  SELECT a.doc_id id_a, b.doc_id id_b, COUNT(*) c
  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) >= 0.5
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach AS (
  SELECT a AS node, a AS comp FROM edges
  UNION
  SELECT e.b AS node, r.comp FROM reach r JOIN edges e ON e.a = r.node
),
comp AS (SELECT node, min(comp) AS comp FROM reach GROUP BY node)
SELECT kd.doc_id,
       CAST(kd.exact_copies AS BIGINT) AS exact_copies,
       CAST(COALESCE(c.comp, kd.doc_id) AS BIGINT) AS cluster_id,
       COALESCE(c.comp, kd.doc_id) = kd.doc_id AS is_canonical
FROM kdocs kd LEFT JOIN comp c ON c.node = kd.doc_id
"""

# c3: the SAME funnel with the production pair stage (MinHash+LSH
# candidates, exact-Jaccard verify) — same oracle as c2 by the d3
# recall argument: r=3/b=10 misses a true j>=0.85 pair with p<1e-4, so
# the verified LSH pair set equals the exact pair set on this corpus.
ORACLES["c3_dedup_funnel_lsh"] = ORACLES["c2_dedup_funnel"]

# q73: TPC-H Q3 shape — revenue per unshipped BUILDING-segment order,
# deterministic top-10 (revenue desc, full tiebreak). Same DECIMAL(18,6)
# per-row quantization idiom as q39.
ORACLES["q73_tpch_q3"] = """
SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
            AS DOUBLE) AS revenue,
       CAST(o_orderdate AS DATE) AS order_date,
       o_orderpriority
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
LIMIT 10
"""

# q74: TPC-H Q17 shape — the correlated 0.2*avg(qty) threshold rewritten
# as exact integers (qty_e2 * 5 * cnt < sum_e2) so no float average can
# flip a boundary row between engines.
ORACLES["q74_tpch_q17"] = """
WITH li AS (
  SELECT l_partkey,
         CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS qty_e2,
         l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#4'
),
stats AS (SELECT l_partkey, SUM(qty_e2) AS s, COUNT(*) AS c
          FROM li GROUP BY 1)
SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
            / 7.0 AS DOUBLE) AS avg_yearly,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM li JOIN stats USING (l_partkey)
WHERE qty_e2 * 5 * c < s
"""

# t21: top-50 collocations by lift — exact integer milli-units
# (c12 * N * 1000 // (c1 * c2) over exact positional-marginal counts).
ORACLES["t21_token_lift"] = """
WITH b AS (
  SELECT ws[i] AS w1, ws[i+1] AS w2
  FROM (SELECT string_split_regex(trim(text), '\\s+') ws FROM documents) t,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(ws)-1, 0)))
                AS i) u
),
cc12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM b GROUP BY 1, 2),
cc1 AS (SELECT w1, COUNT(*) AS c1 FROM b GROUP BY 1),
cc2 AS (SELECT w2, COUNT(*) AS c2 FROM b GROUP BY 1),
nn AS (SELECT COUNT(*) AS n FROM b)
SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
       CAST(c12 * nn.n * 1000 // (cc1.c1 * cc2.c2) AS BIGINT) AS lift_milli
FROM cc12 JOIN cc1 USING (w1) JOIN cc2 USING (w2) CROSS JOIN nn
WHERE c12 >= 5
ORDER BY lift_milli DESC, w1 ASC, w2 ASC
LIMIT 50
"""

# q75: TPC-H Q18 shape — HAVING-qualified order keys (exact-decimal
# quantity totals) joined back to detail, enriched with customer attrs,
# deterministic top-20.
ORACLES["q75_tpch_q18"] = """
WITH big AS (
  SELECT l_orderkey FROM lineitem
  GROUP BY 1
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300
)
SELECT c_name, c_custkey, o_orderkey,
       CAST(o_orderdate AS DATE) AS order_date,
       o_totalprice,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM lineitem
JOIN big USING (l_orderkey)
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderdate ASC, o_orderkey ASC
LIMIT 20
"""

# q81: market-basket co-occurrence — distinct parts per order,
# self-join on the transactional key, deterministic top-25.
# q83: q81 with the hot-basket cap — top-5 items per basket by global
# support before the self-join bounds per-basket fan-out at 25 pairs.
ORACLES["q83_basket_pairs_capped"] = """
WITH d AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
s AS (SELECT p, COUNT(*) AS support FROM d GROUP BY p),
r AS (
  SELECT o, p,
         ROW_NUMBER() OVER (PARTITION BY o ORDER BY support DESC, p ASC)
           AS rk
  FROM d JOIN s USING (p)
),
top AS (SELECT o, p FROM r WHERE rk <= 5)
SELECT a.p AS p1, b.p AS p2, COUNT(*) AS n_orders
FROM top a JOIN top b ON a.o = b.o AND a.p < b.p
GROUP BY 1, 2
ORDER BY n_orders DESC, p1 ASC, p2 ASC
LIMIT 25
"""

ORACLES["q81_basket_pairs"] = """
WITH d AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem)
SELECT a.p AS p1, b.p AS p2, COUNT(*) AS n_orders
FROM d a JOIN d b ON a.o = b.o AND a.p < b.p
GROUP BY 1, 2
ORDER BY n_orders DESC, p1 ASC, p2 ASC
LIMIT 25
"""

# q82: floor-at-zero running balance via the closed form
# b = s - min(0, running_min(s)) over exact prefix sums in cents.
ORACLES["q82_running_balance_floor"] = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS delta_cents
  FROM events
),
s AS (
  SELECT user_id, event_id, us, delta_cents,
         SUM(delta_cents) OVER w AS s
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id, us, delta_cents,
       CAST(s - LEAST(0, MIN(s) OVER w) AS BIGINT) AS balance_cents
FROM s
WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""

# --- q84-q93: extended TPC-H shapes (round 7, plans/queries_tpch.py) --------
# House exactness idioms throughout: DECIMAL(18,6) per-row revenue
# quantization with one final double cast; ratios as integer micro-units
# via HUGEINT/DECIMAL(38,0)-widened floor division.

ORACLES["q84_tpch_q6"] = """
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6)))
            AS DOUBLE) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""

ORACLES["q85_tpch_q7"] = """
WITH j AS (
  SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INTEGER) AS l_year,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS rev
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ns ON s_nationkey = ns.n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation nc ON c_nationkey = nc.n_nationkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    AND ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
      OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
)
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(rev) AS DOUBLE) AS revenue,
       COUNT(*) AS n_rows
FROM j GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""

ORACLES["q86_tpch_q8"] = """
WITH j AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         ns.n_name AS supp_nation,
         CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
              * 1000000 AS BIGINT) AS e
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ns ON s_nationkey = ns.n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation nc ON c_nationkey = nc.n_nationkey
  JOIN region ON nc.n_regionkey = r_regionkey
  WHERE p_type LIKE 'ECONOMY%' AND r_name = 'EUROPE'
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
)
SELECT o_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN e ELSE 0 END)
            AS BIGINT) AS nation_rev_e6,
       CAST(SUM(e) AS BIGINT) AS total_rev_e6,
       CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN e ELSE 0 END)
                 AS HUGEINT) * 1000000
            // CAST(SUM(e) AS HUGEINT) AS BIGINT) AS share_e6
FROM j GROUP BY 1 ORDER BY 1
"""

ORACLES["q87_tpch_q10"] = """
WITH agg AS (
  SELECT o_custkey,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
              AS DOUBLE) AS revenue
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
  GROUP BY 1
)
SELECT c_custkey, c_name, revenue, c_acctbal, n_name
FROM agg
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""

ORACLES["q88_tpch_q13"] = """
WITH pc AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY 1
)
SELECT c_count, COUNT(*) AS custdist
FROM pc GROUP BY 1
ORDER BY custdist DESC, c_count DESC
"""

ORACLES["q89_tpch_q14"] = """
WITH j AS (
  SELECT CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
              * 1000000 AS BIGINT) AS e,
         p_type LIKE 'PROMO%' AS isp
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
)
SELECT CAST(SUM(CASE WHEN isp THEN e ELSE 0 END) AS BIGINT) AS promo_e6,
       CAST(SUM(e) AS BIGINT) AS total_e6,
       CAST(CAST(SUM(CASE WHEN isp THEN e ELSE 0 END) AS HUGEINT)
            * 100000000 // CAST(SUM(e) AS HUGEINT) AS BIGINT)
         AS promo_pct_e6
FROM j
"""

ORACLES["q90_tpch_q15"] = """
WITH ps AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT)
           AS total_rev_e6
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY 1
),
mx AS (SELECT MAX(total_rev_e6) AS m FROM ps)
SELECT s_suppkey, s_name, total_rev_e6
FROM ps JOIN supplier ON l_suppkey = s_suppkey CROSS JOIN mx
WHERE total_rev_e6 = mx.m
ORDER BY s_suppkey
"""

ORACLES["q91_tpch_q19"] = """
SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
            AS DOUBLE) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11
       AND p_size BETWEEN 1 AND 5)
   OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20
       AND p_size BETWEEN 1 AND 10)
   OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30
       AND p_size BETWEEN 1 AND 15)
"""

# q92: adapted Q21 — the unique-latest-shipper-on-multi-supplier-order
# definition (no l_commitdate in this schema); per-order stats via one
# hash agg + an at-max second agg, never a lineitem self-join.
ORACLES["q92_tpch_q21"] = """
WITH lif AS (
  SELECT l_orderkey, l_suppkey, epoch_us(l_shipdate) AS us
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
),
stats AS (
  SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS n_supp, MAX(us) AS mx
  FROM lif GROUP BY 1
),
atmax AS (
  SELECT f.l_orderkey, COUNT(DISTINCT f.l_suppkey) AS n_at_max,
         MAX(f.l_suppkey) AS the_supp
  FROM lif f JOIN stats s ON f.l_orderkey = s.l_orderkey AND f.us = s.mx
  GROUP BY 1
),
waited AS (
  SELECT the_supp FROM stats JOIN atmax USING (l_orderkey)
  WHERE n_supp > 1 AND n_at_max = 1
)
SELECT s_suppkey, s_name, COUNT(*) AS numwait
FROM waited JOIN supplier ON the_supp = s_suppkey
GROUP BY 1, 2
ORDER BY numwait DESC, s_suppkey ASC
LIMIT 100
"""

# q94: adapted Q4 — 'late lineitem' = shipped > 60 days after the order
# date (no commitdate/receiptdate in this schema); EXISTS preserved as a
# semi join with an equi key + non-equi residual.
ORACLES["q94_tpch_q4"] = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY 1 ORDER BY 1
"""

# x8: per-epoch deterministic reshuffle — pure integer replay.
ORACLES["x8_epoch_reshuffle"] = """
WITH e AS (
  SELECT d.doc_id, CAST(ep.epoch AS INTEGER) AS epoch
  FROM documents d CROSS JOIN (SELECT unnest([0, 1, 2]) AS epoch) ep
)
SELECT epoch, doc_id,
       CAST(ROW_NUMBER() OVER (
              PARTITION BY epoch
              ORDER BY ((doc_id + epoch * 99991) * 2654435761) % 1048576,
                       doc_id) AS BIGINT) AS pos
FROM e
"""

# d17: semantic dup clusters — d6's blocked cosine pairs closed by the
# d5 recursive-CTE component closure.
ORACLES["d17_semantic_clusters"] = """
WITH RECURSIVE ev AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM ev a JOIN ev b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.35
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM p
  UNION
  SELECT id_b AS a, id_a AS b FROM p
),
reach AS (
  SELECT a AS node, a AS comp FROM edges
  UNION
  SELECT e.b AS node, r.comp FROM reach r JOIN edges e ON e.a = r.node
),
comp AS (SELECT node, MIN(comp) AS comp FROM reach GROUP BY 1)
SELECT v.vec_id, v.label,
       CAST(COALESCE(c.comp, v.vec_id) AS BIGINT) AS cluster_id,
       COALESCE(c.comp, v.vec_id) = v.vec_id AS is_canonical
FROM embeddings v LEFT JOIN comp c ON c.node = v.vec_id
"""

# t26: Jaccard text search — brute-force over the shared-shingle
# candidates (zero-overlap docs can't enter a positive-score top-k).
ORACLES["t26_jaccard_search"] = f"""
WITH {_GRAMS_DISTINCT},
sizes AS (SELECT doc_id, COUNT(*) n FROM grams GROUP BY 1),
inter AS (
  SELECT q.doc_id AS query_id, c.doc_id AS item_id, COUNT(*) AS inter
  FROM grams q JOIN grams c ON q.g = c.g
  WHERE q.doc_id IN (0, 1, 2) AND c.doc_id <> q.doc_id
  GROUP BY 1, 2
),
scored AS (
  SELECT query_id, item_id,
         CAST(inter * 1000000 // (sq.n + si.n - inter) AS BIGINT)
           AS jaccard_ppm
  FROM inter
  JOIN sizes sq ON sq.doc_id = query_id
  JOIN sizes si ON si.doc_id = item_id
),
r AS (
  SELECT query_id, item_id, jaccard_ppm,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY jaccard_ppm DESC, item_id ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, item_id, rank, jaccard_ppm FROM r WHERE rank <= 5
"""

# st8: streaming exact daily uniques == batch COUNT(DISTINCT) per day.
ORACLES["st8_stream_daily_uniques"] = """
SELECT CAST(ts AS DATE) AS day,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY 1
"""

# q102: FK inference report — distinct counts + containment in ppm.
_Q102_PAIR = """
SELECT '{ct}.{cc}' AS child_col, '{pt}.{pc}' AS parent_col,
       CAST((SELECT COUNT(DISTINCT {cc}) FROM {ct}) AS BIGINT) AS n_child,
       CAST((SELECT COUNT(DISTINCT {pc}) FROM {pt}) AS BIGINT) AS n_parent,
       CAST((SELECT COUNT(*) FROM (SELECT DISTINCT {cc} AS v FROM {ct}) c
             WHERE EXISTS (SELECT 1 FROM {pt} WHERE {pc} = c.v))
            AS BIGINT) AS n_contained,
       CAST((SELECT COUNT(*) FROM (SELECT DISTINCT {cc} AS v FROM {ct}) c
             WHERE EXISTS (SELECT 1 FROM {pt} WHERE {pc} = c.v))
            * 1000000
            // (SELECT COUNT(DISTINCT {cc}) FROM {ct}) AS BIGINT)
         AS containment_ppm"""
ORACLES["q102_join_discovery"] = (
    "\nUNION ALL\n".join(
        _Q102_PAIR.format(ct=ct, cc=cc, pt=pt, pc=pc)
        for ct, cc, pt, pc in [
            ("lineitem", "l_orderkey", "orders", "o_orderkey"),
            ("lineitem", "l_partkey", "part", "p_partkey"),
            ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
            ("orders", "o_custkey", "customer", "c_custkey"),
            ("events", "user_id", "customer", "c_custkey"),
            ("customer", "c_custkey", "orders", "o_custkey"),
        ]
    )
    + "\nORDER BY child_col, parent_col"
)

# c6: incremental MV refresh == full recompute over the CDC-applied
# table — the oracle recomputes from scratch, so a hash match is the
# view-maintenance theorem verified with delete handling.
ORACLES["c6_incremental_refresh"] = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate FROM orders
),
changelog AS (
  SELECT o_orderkey, 'D' AS op, NULL AS c_status,
         CAST(NULL AS DOUBLE) AS c_price,
         CAST(NULL AS TIMESTAMP) AS c_date
  FROM base WHERE o_orderkey % 17 = 0
  UNION ALL
  SELECT o_orderkey, 'U', o_orderstatus, o_totalprice + 10, o_orderdate
  FROM base WHERE o_orderkey % 17 <> 0 AND o_orderkey % 5 = 0
  UNION ALL
  SELECT o_orderkey + (SELECT MAX(o_orderkey) FROM base) + 1, 'I',
         o_orderstatus, o_totalprice, o_orderdate
  FROM base WHERE o_orderkey % 9 = 0
),
applied AS (
  SELECT CASE WHEN c.op IN ('U', 'I') THEN c.c_price
              ELSE b.o_totalprice END AS price,
         CASE WHEN c.op IN ('U', 'I') THEN c.c_date
              ELSE b.o_orderdate END AS d
  FROM base b FULL OUTER JOIN changelog c USING (o_orderkey)
  WHERE c.op IS NULL OR c.op <> 'D'
)
SELECT CAST(year(d) AS INTEGER) AS ano, CAST(month(d) AS INTEGER) AS mes,
       CAST(SUM(CAST(CAST(price AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS price_cents,
       COUNT(*) AS n_orders
FROM applied
GROUP BY 1, 2
ORDER BY 1, 2
"""

# q101: sweep-line interval concurrency — per-day +1/-1 deltas, a
# calendar spine, one running sum over the aggregated day frame.
ORACLES["q101_active_intervals"] = """
WITH b AS (
  SELECT CAST(o_orderdate AS DATE) AS s,
         CAST(o_orderdate AS DATE) + 30 AS e
  FROM orders
),
mm AS (SELECT MIN(s) AS lo, MAX(e) AS hi FROM b),
spine AS (
  SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                     CAST(hi AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM mm
),
d AS (
  SELECT day, CAST(SUM(dl) AS BIGINT) AS delta FROM (
    SELECT s AS day, 1 AS dl FROM b
    UNION ALL
    SELECT e AS day, -1 AS dl FROM b
  ) GROUP BY 1
)
SELECT sp.day,
       CAST(COALESCE(d.delta, 0) AS BIGINT) AS delta,
       CAST(SUM(COALESCE(d.delta, 0)) OVER (
              ORDER BY sp.day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS active
FROM spine sp LEFT JOIN d ON d.day = sp.day
ORDER BY sp.day
"""

# q100: exact 7-day rolling distinct users — DuckDB brute-forces the
# per-day COUNT(DISTINCT) over the trailing window.
ORACLES["q100_sliding_distinct"] = """
WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS target_day FROM events)
SELECT d.target_day,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM days d JOIN events e
  ON CAST(e.ts AS DATE) BETWEEN d.target_day - 6 AND d.target_day
GROUP BY 1 ORDER BY 1
"""

# m15: keyframes over decoded video — the m10 frame-sum CTE + a lag.
ORACLES["m15_keyframes"] = """
WITH fs AS (
  SELECT doc_id, CAST(i // 64 AS INTEGER) AS frame_idx,
         CAST(SUM(ord(substr(text, CAST(i + 1 AS INTEGER), 1)) % 256)
              AS BIGINT) AS frame_sum
  FROM (SELECT doc_id, text, unnest(range(LEAST(length(text), 256))) AS i
        FROM documents)
  GROUP BY 1, 2
),
lagged AS (
  SELECT doc_id, frame_idx, frame_sum,
         LAG(frame_sum) OVER (PARTITION BY doc_id ORDER BY frame_idx)
           AS prev
  FROM fs
)
SELECT doc_id, frame_idx, frame_sum,
       CASE WHEN prev IS NULL THEN NULL
            ELSE CAST(ABS(frame_sum - prev) AS BIGINT) END AS delta
FROM lagged
WHERE prev IS NULL OR ABS(frame_sum - prev) > 1000
"""

# x7: deterministic weighted priority sample — pure integer replay.
ORACLES["x7_weighted_sample"] = """
WITH d AS (
  SELECT doc_id,
         CAST(GREATEST(n_chars, 1) AS BIGINT) AS weight,
         CAST((doc_id * 2654435761) % 1048576 AS BIGINT) * 1000000
           // CAST(GREATEST(n_chars, 1) AS BIGINT) AS priority
  FROM documents
)
SELECT doc_id, weight, priority FROM d
ORDER BY priority ASC, doc_id ASC
LIMIT 25
"""

# d15: blocked fuzzy join — the oracle brute-forces all pairs, so a
# hash match also proves the length-band blocking is lossless.
ORACLES["d15_fuzzy_name_pairs"] = """
WITH n AS (
  SELECT p_name, MIN(p_partkey) AS name_key, COUNT(*) AS n_parts
  FROM part GROUP BY 1
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist,
       CAST(a.n_parts AS BIGINT) AS n_parts_a,
       CAST(b.n_parts AS BIGINT) AS n_parts_b
FROM n a JOIN n b ON a.name_key < b.name_key
WHERE levenshtein(a.p_name, b.p_name) <= 2
ORDER BY dist, name_a, name_b
"""

# t25: Jelinek-Mercer interpolated bigram scoring — t20's bigram MLE
# plus a full-token-stream unigram backoff, all integer micro-units.
ORACLES["t25_interp_bigram"] = """
WITH b AS (
  SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2, ws[i] || ' ' || ws[i+1] AS g
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') ws
        FROM documents) t,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(ws)-1, 0)))
                AS i) u
),
u1 AS (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents
),
c2 AS (SELECT g, COUNT(*) AS c2 FROM b GROUP BY 1),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM b GROUP BY 1),
cu AS (SELECT w, COUNT(*) AS cu FROM u1 GROUP BY 1),
nn AS (SELECT COUNT(*) AS n FROM u1),
scored AS (
  SELECT doc_id,
         (7 * (c2.c2 * 1000000 // c1.c1)
          + 3 * (cu.cu * 1000000 // nn.n)) // 10 AS pi
  FROM b JOIN c2 USING (g) JOIN c1 USING (w1)
       JOIN cu ON cu.w = b.w2 CROSS JOIN nn
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(pi) AS BIGINT) AS p_sum_micro,
       CAST(SUM(pi) // COUNT(*) AS BIGINT) AS p_avg_micro
FROM scored GROUP BY doc_id
"""

# q99: point-in-time SCD2 lookup — the q46 island CTE builds versions;
# DuckDB's native ASOF LEFT JOIN mirrors the engine's union+window
# as-of plan.
ORACLES["q99_pit_scd2_join"] = """
WITH f AS (
  SELECT user_id, ts, event_type,
         CASE WHEN LAG(event_type) OVER w IS NULL
                OR LAG(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
i AS (
  SELECT user_id, ts, event_type,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM f
),
dim AS (
  SELECT user_id, MIN(event_type) AS version_type,
         epoch_us(MIN(ts)) AS valid_from_us
  FROM i GROUP BY user_id, island
),
o AS (
  SELECT o_orderkey, o_custkey AS user_id, epoch_us(o_orderdate) AS order_us
  FROM orders
  WHERE o_custkey IN (SELECT DISTINCT user_id FROM dim)
)
SELECT o.o_orderkey, o.user_id, o.order_us, d.version_type
FROM o ASOF LEFT JOIN dim d
  ON o.user_id = d.user_id AND d.valid_from_us <= o.order_us
"""

# q98: skew-split hybrid join == the plain inner join (the split is
# routing, not semantics), so the oracle is the direct join aggregate.
ORACLES["q98_skew_split_join"] = """
SELECT c_mktsegment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS total_cents
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1 ORDER BY 1
"""

# g1: PageRank in exact 1e12-scale integer units — q83's capped edge
# construction, then 3 unrolled rounds of the truncating recurrence
# pr' = 15*(scale//n)//100 + 85*sum(pr div deg)//100.
_G1_ROUND = """
c{i} AS (SELECT src, pr // deg AS c FROM p{i}),
i{i} AS (SELECT e.dst AS dst, SUM(c.c) AS inn
         FROM edges e JOIN c{i} c ON e.src = c.src GROUP BY 1),
p{j} AS (
  SELECT d.src,
         CAST((15 * (1000000000000 // n.n) // 100)
              + (85 * COALESCE(i{i}.inn, 0) // 100) AS BIGINT) AS pr,
         d.deg
  FROM deg d CROSS JOIN n LEFT JOIN i{i} ON i{i}.dst = d.src
)"""
ORACLES["g1_pagerank"] = (
    """
WITH d AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
s AS (SELECT p, COUNT(*) AS support FROM d GROUP BY p),
r AS (
  SELECT o, p,
         ROW_NUMBER() OVER (PARTITION BY o ORDER BY support DESC, p ASC)
           AS rk
  FROM d JOIN s USING (p)
),
top AS (SELECT o, p FROM r WHERE rk <= 5),
pairs AS (
  SELECT DISTINCT a.p AS src, b.p AS dst
  FROM top a JOIN top b ON a.o = b.o AND a.p < b.p
),
edges AS (
  SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs
),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
n AS (SELECT COUNT(*) AS n FROM deg),
p0 AS (
  SELECT src, CAST(1000000000000 // n.n AS BIGINT) AS pr, deg
  FROM deg CROSS JOIN n
),"""
    + ",".join(_G1_ROUND.format(i=i, j=i + 1) for i in range(3))
    + """
SELECT src AS node, pr AS pr_scaled, CAST(deg AS BIGINT) AS degree
FROM p3
ORDER BY pr_scaled DESC, node ASC
LIMIT 100
"""
)

# q97: gaps-and-islands interval coalescing — running max of prior
# ends flags island starts; exact epoch-micros boundaries.
ORACLES["q97_interval_merge"] = """
WITH o AS (
  SELECT o_custkey, o_orderkey,
         epoch_us(o_orderdate) AS s_us,
         epoch_us(o_orderdate) + CAST(30 AS BIGINT) * 86400 * 1000000
           AS e_us
  FROM orders
),
f AS (
  SELECT o_custkey, o_orderkey, s_us, e_us,
         CASE WHEN MAX(e_us) OVER (PARTITION BY o_custkey
                    ORDER BY s_us, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   IS NULL
              OR s_us > MAX(e_us) OVER (PARTITION BY o_custkey
                    ORDER BY s_us, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island
  FROM o
),
i AS (
  SELECT o_custkey, o_orderkey, s_us, e_us,
         SUM(new_island) OVER (PARTITION BY o_custkey
               ORDER BY s_us, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM f
),
isl AS (
  SELECT o_custkey, CAST(island AS BIGINT) AS island,
         MIN(s_us) AS island_start_us,
         MAX(e_us) AS island_end_us,
         COUNT(*) AS n_orders
  FROM i GROUP BY 1, 2
)
SELECT o_custkey, island, island_start_us, island_end_us, n_orders
FROM (SELECT isl.*, COUNT(*) OVER (PARTITION BY o_custkey) AS ni FROM isl)
WHERE ni >= 2
ORDER BY o_custkey, island
"""

# q96: data-quality expectations gate — every observation is an exact
# BIGINT; the report is deterministic rows.
ORACLES["q96_expectations"] = """
WITH o_stats AS (
  SELECT COUNT(*) AS n, COUNT(o_orderkey) AS nk,
         COUNT(DISTINCT o_orderkey) AS ndk,
         SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS bad_price
  FROM orders
),
li_stats AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END)
           AS bad_disc,
         SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS bad_qty
  FROM lineitem
),
orph_o AS (
  SELECT COUNT(*) AS n FROM lineitem
  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
),
orph_p AS (
  SELECT COUNT(*) AS n FROM lineitem
  WHERE NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey)
)
SELECT * FROM (
  SELECT 'orders' AS table_name, 'row_count_min_1000' AS constraint,
         CAST(n AS BIGINT) AS observed, CAST(1000 AS BIGINT) AS threshold,
         n >= 1000 AS ok FROM o_stats
  UNION ALL
  SELECT 'orders', 'orderkey_complete', CAST(n - nk AS BIGINT), 0, n = nk
  FROM o_stats
  UNION ALL
  SELECT 'orders', 'orderkey_unique', CAST(nk - ndk AS BIGINT), 0, nk = ndk
  FROM o_stats
  UNION ALL
  SELECT 'orders', 'totalprice_positive', CAST(bad_price AS BIGINT), 0,
         bad_price = 0 FROM o_stats
  UNION ALL
  SELECT 'lineitem', 'row_count_min_1000', CAST(n AS BIGINT), 1000,
         n >= 1000 FROM li_stats
  UNION ALL
  SELECT 'lineitem', 'discount_in_unit_interval', CAST(bad_disc AS BIGINT),
         0, bad_disc = 0 FROM li_stats
  UNION ALL
  SELECT 'lineitem', 'quantity_positive', CAST(bad_qty AS BIGINT), 0,
         bad_qty = 0 FROM li_stats
  UNION ALL
  SELECT 'lineitem', 'ri_orderkey_in_orders', CAST(n AS BIGINT), 0, n = 0
  FROM orph_o
  UNION ALL
  SELECT 'lineitem', 'ri_partkey_in_part', CAST(n AS BIGINT), 0, n = 0
  FROM orph_p
)
ORDER BY table_name, "constraint"
"""

# q95: bloom-prune semi join — the bloom stage is exact-verified, so
# the oracle is the plain EXISTS semi join.
ORACLES["q95_bloom_semi"] = """
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS revenue
FROM lineitem
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_orderkey = l_orderkey
                AND o_orderpriority = '1-URGENT')
GROUP BY 1 ORDER BY 1
"""

# q93: adapted Q22 — global positive-average acctbal threshold as exact
# integer cents (bal_e2 * n > sum_e2, no float average), anti join on
# orders, grouped by nation key (no c_phone in this schema).
ORACLES["q93_tpch_q22"] = """
WITH ce AS (
  SELECT c_custkey, c_nationkey,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_e2
  FROM customer
),
g AS (SELECT SUM(bal_e2) AS s, COUNT(*) AS n FROM ce WHERE bal_e2 > 0),
rich AS (
  SELECT ce.* FROM ce CROSS JOIN g WHERE bal_e2 * g.n > g.s
)
SELECT c_nationkey,
       COUNT(*) AS numcust,
       CAST(SUM(bal_e2) AS BIGINT) AS totacctbal_e2
FROM rich
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = rich.c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY 1 ORDER BY 1
"""

# q80: OHLC bars — one hash aggregate with arg_min/arg_max on a
# fixed-width zero-padded (epoch_us, event_id) string key, so the
# open/close row is total-ordered and identical in both engines.
ORACLES["q80_ohlc_bars"] = """
WITH e AS (
  SELECT user_id,
         epoch_us(date_trunc('hour', ts)) AS hour_us,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
         lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
           || lpad(CAST(event_id AS VARCHAR), 20, '0') AS k
  FROM events
)
SELECT user_id, hour_us,
       arg_min(v, k) AS open_cents,
       MAX(v) AS high_cents,
       MIN(v) AS low_cents,
       arg_max(v, k) AS close_cents,
       COUNT(*) AS n_events
FROM e GROUP BY 1, 2
"""

# q79: ratio-to-report — supplier revenue share within nation in exact
# integer ppm (cents * 10^6 // nation total; needs rev < 9.2e12 cents
# per supplier — pre-scale to dollars beyond that).
ORACLES["q79_ratio_to_report"] = """
WITH agg AS (
  SELECT n_name, s_suppkey,
         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                  AS BIGINT)) AS BIGINT) AS rev_cents
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY 1, 2
)
SELECT n_name, s_suppkey, rev_cents,
       CAST(rev_cents * 1000000 // SUM(rev_cents)
            OVER (PARTITION BY n_name) AS BIGINT) AS share_ppm
FROM agg
"""

# q78: CDC changelog apply — full-outer MERGE with op-driven CASE
# (D drops, U/I take changelog values, untouched passes through);
# changelog derives deterministically from orders with disjoint ops.
ORACLES["q78_cdc_apply"] = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate FROM orders
),
changelog AS (
  SELECT o_orderkey, 'D' AS op, NULL AS c_status,
         CAST(NULL AS DOUBLE) AS c_price,
         CAST(NULL AS TIMESTAMP) AS c_date
  FROM base WHERE o_orderkey % 17 = 0
  UNION ALL
  SELECT o_orderkey, 'U', o_orderstatus, o_totalprice + 10, o_orderdate
  FROM base WHERE o_orderkey % 17 <> 0 AND o_orderkey % 5 = 0
  UNION ALL
  SELECT o_orderkey + (SELECT MAX(o_orderkey) FROM base) + 1, 'I',
         o_orderstatus, o_totalprice, o_orderdate
  FROM base WHERE o_orderkey % 9 = 0
)
SELECT COALESCE(b.o_orderkey, c.o_orderkey) AS o_orderkey,
       CASE WHEN c.op IN ('U', 'I') THEN c.c_status
            ELSE b.o_orderstatus END AS o_orderstatus,
       CASE WHEN c.op IN ('U', 'I') THEN c.c_price
            ELSE b.o_totalprice END AS o_totalprice,
       CAST(CASE WHEN c.op IN ('U', 'I') THEN c.c_date
            ELSE b.o_orderdate END AS DATE) AS order_date
FROM base b FULL OUTER JOIN changelog c USING (o_orderkey)
WHERE c.op IS NULL OR c.op <> 'D'
"""

# q77: robust stats per group — percentile_disc median + MAD in exact
# BIGINT cents, integer-compare outlier count (|v - med| > 3 * MAD).
ORACLES["q77_mad_outliers"] = """
WITH e AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
  FROM events
),
med AS (
  SELECT event_type, CAST(quantile_disc(v, 0.5) AS BIGINT) AS med_cents
  FROM e GROUP BY 1
),
d AS (
  SELECT e.event_type, v, med_cents, abs(v - med_cents) AS dev
  FROM e JOIN med USING (event_type)
),
mad AS (
  SELECT event_type, MIN(med_cents) AS med_cents,
         CAST(quantile_disc(dev, 0.5) AS BIGINT) AS mad_cents,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM d GROUP BY 1
)
SELECT m.event_type, m.med_cents, m.mad_cents, m.n,
       CAST(COALESCE(o.n_out, 0) AS BIGINT) AS n_outliers
FROM mad m
LEFT JOIN (
  SELECT d.event_type, COUNT(*) AS n_out
  FROM d JOIN mad USING (event_type)
  WHERE dev > 3 * mad_cents
  GROUP BY 1
) o USING (event_type)
"""

# q76: dataset diff — full-outer join of two table versions, per-column
# null-safe compare, one status per key. The 'new' version is derived
# deterministically (drop %13, reprice %7, add a key range offset by
# max(k) so it is disjoint from real keys at any scale factor).
ORACLES["q76_table_diff"] = """
WITH old AS (
  SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS tp,
         o_orderdate AS od
  FROM orders
),
new AS (
  SELECT k, st,
         CASE WHEN k % 7 = 0 THEN tp + 1 ELSE tp END AS tp, od
  FROM old WHERE k % 13 <> 0
  UNION ALL
  SELECT k + (SELECT MAX(k) FROM old) + 1 AS k, st, tp, od
  FROM old WHERE k % 11 = 0
)
SELECT COALESCE(o.k, n.k) AS o_orderkey,
       CASE WHEN o.k IS NULL THEN 'added'
            WHEN n.k IS NULL THEN 'removed'
            WHEN o.st IS NOT DISTINCT FROM n.st
             AND o.tp IS NOT DISTINCT FROM n.tp
             AND o.od IS NOT DISTINCT FROM n.od THEN 'unchanged'
            ELSE 'changed' END AS status
FROM old o FULL OUTER JOIN new n ON o.k = n.k
"""

# s4: per-label embedding centroids — elements floor-quantized to
# integer micro-units BEFORE any cross-row sum (float->double cast, one
# double multiply, one floor: identical IEEE ops in both engines), then
# exact integer sums and a truncating division (Spark `div` and DuckDB
# `//` both truncate toward zero, verified on negatives).
ORACLES["s4_label_centroids"] = """
SELECT label, CAST(i AS INTEGER) AS pos,
       CAST(SUM(CAST(FLOOR(CAST(embedding[CAST(i + 1 AS INTEGER)] AS DOUBLE)
                           * 1000000) AS BIGINT)) AS BIGINT) AS sum_micro,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(CAST(embedding[CAST(i + 1 AS INTEGER)] AS DOUBLE)
                           * 1000000) AS BIGINT)) // COUNT(*) AS BIGINT)
         AS centroid_micro
FROM (SELECT label, embedding, unnest(range(len(embedding))) AS i
      FROM embeddings)
GROUP BY 1, 2
"""

# t20: bigram-LM conditional probabilities — P(w2|w1) as EXACT integer
# micro-units (cnt2 * 10^6 // prefix-cnt1, integer division of exact
# counts; no float anywhere), per-doc count/sum/mean. Docs with < 2
# tokens have no bigrams and emit no row.
ORACLES["t20_bigram_condprob"] = """
WITH b AS (
  SELECT doc_id, ws[i] AS w1, ws[i] || ' ' || ws[i+1] AS g
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') ws
        FROM documents) t,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(ws)-1, 0)))
                AS i) u
),
c2 AS (SELECT g, COUNT(*) AS c2 FROM b GROUP BY 1),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM b GROUP BY 1)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(c2.c2 * 1000000 // c1.c1) AS BIGINT) AS p_sum_micro,
       CAST(SUM(c2.c2 * 1000000 // c1.c1) // COUNT(*) AS BIGINT)
         AS p_avg_micro
FROM b JOIN c2 USING (g) JOIN c1 USING (w1)
GROUP BY doc_id
"""

# d10: incremental delta-vs-corpus dedup — exact cross-set Jaccard
# between the delta (doc_id % 10 = 0) and the corpus (the rest); the
# engine's banded-LSH candidate path equals it by the d3 recall argument.
ORACLES["d10_incremental_dedup"] = f"""
WITH {_GRAMS_DISTINCT},
sizes AS (SELECT doc_id, COUNT(*) n FROM grams GROUP BY 1),
inter AS (
  SELECT a.doc_id id_a, b.doc_id id_b, COUNT(*) c
  FROM grams a JOIN grams b ON a.g = b.g
  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
  GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) >= 0.5
"""

# q71: left-Riemann time-weighted average per key — lead() gaps in
# integer microseconds, values in BIGINT cents, single integer division
# (both engines truncate toward zero). Single-observation keys have no
# interval and are excluded by contract; so are zero-span keys (all
# observations at one timestamp) — Spark ANSI `div` would throw where
# DuckDB `//` returns NULL, so BOTH engines drop the group pre-division.
ORACLES["q71_time_weighted_avg"] = """
WITH d AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v_cents
  FROM events
),
g AS (
  SELECT user_id, v_cents,
         lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us
           AS gap_us
  FROM d
)
SELECT user_id,
       CAST(COUNT(*) + 1 AS BIGINT) AS n_obs,
       CAST(SUM(gap_us) AS BIGINT) AS span_us,
       CAST(SUM(v_cents * gap_us) // SUM(gap_us) AS BIGINT) AS twa_cents
FROM g WHERE gap_us IS NOT NULL
GROUP BY user_id
HAVING SUM(gap_us) > 0
"""

# c1: the curation COMPOSITION — t12's PII plant, t18's intra-doc
# dedup, t12's scrub, then t19's classifier on the cleaned text (vocab
# recomputed post-cleanup), all nested as CTE stages mirroring the
# operator chain stage for stage.
ORACLES["c1_curation_chain"] = """
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@mail.example.com from 10.'
                   || CAST(doc_id % 256 AS VARCHAR) || '.0.1'
              ELSE text END AS text
  FROM documents
),
segged AS (
  SELECT doc_id,
         list_transform(
           range(CAST(ceil(len(ws) / 10.0) AS BIGINT)),
           i -> array_to_string(list_slice(ws, i * 10 + 1, i * 10 + 10), ' ')
         ) AS segs
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM aug)
),
dd AS (
  SELECT doc_id, segs,
         list_filter(
           list_transform(
             range(1, len(segs) + 1),
             i -> CASE WHEN list_position(segs, segs[i]) = i THEN segs[i] END
           ),
           x -> x IS NOT NULL
         ) AS ks
  FROM segged
),
deduped AS (
  SELECT doc_id, CAST(len(segs) - len(ks) AS BIGINT) AS n_repeats,
         array_to_string(ks, ' ') AS text
  FROM dd
),
r1 AS (
  SELECT doc_id, n_repeats,
         CAST(len(regexp_extract_all(text,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                        '<EMAIL>', 'g') AS t1
  FROM deduped
),
scrubbed AS (
  SELECT doc_id, n_repeats, n_emails,
         CAST(len(regexp_extract_all(t1, '\\b\\d{1,3}(\\.\\d{1,3}){3}\\b')) AS BIGINT) AS n_ips,
         regexp_replace(t1, '\\b\\d{1,3}(\\.\\d{1,3}){3}\\b', '<IP>', 'g') AS text
  FROM r1
),
toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
  FROM scrubbed
),
tok AS (SELECT doc_id, token FROM toks WHERE token <> ''),
vocab AS (
  SELECT token,
         CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) AS INTEGER)
           AS rank
  FROM (SELECT token, COUNT(*) AS freq FROM tok GROUP BY token)
  ORDER BY freq DESC, token ASC LIMIT 40
),
w AS (
  SELECT token,
         CAST(CASE WHEN rank % 3 = 0 THEN -(41 - rank) ELSE 41 - rank END
              AS BIGINT) AS weight
  FROM vocab
),
j AS (
  SELECT t.doc_id, COALESCE(w.weight, 0) AS wt
  FROM tok t LEFT JOIN w USING (token)
),
q AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(wt) AS BIGINT) AS score_num,
         CAST(SUM(wt) * 1000000 // COUNT(*) AS BIGINT) AS logit_e6,
         CAST(SUM(wt) * 1000000 // COUNT(*) AS BIGINT) >= 0 AS is_quality
  FROM j GROUP BY doc_id
)
SELECT s.doc_id, s.n_repeats, s.n_emails, s.n_ips,
       q.n_tokens, q.score_num, q.logit_e6, q.is_quality
FROM scrubbed s JOIN q USING (doc_id)
"""

# t19: linear quality classifier — weights from the corpus top-40 vocab
# (t15/t16's vocab CTE shape), every third rank negative. Both engines
# truncate integer division toward zero (verified for negatives), so
# logit_e6 is exact.
ORACLES["t19_quality_classifier"] = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
  FROM documents
),
tok AS (SELECT doc_id, token FROM toks WHERE token <> ''),
vocab AS (
  SELECT token,
         CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) AS INTEGER)
           AS rank
  FROM (SELECT token, COUNT(*) AS freq FROM tok GROUP BY token)
  ORDER BY freq DESC, token ASC LIMIT 40
),
w AS (
  SELECT token,
         CAST(CASE WHEN rank % 3 = 0 THEN -(41 - rank) ELSE 41 - rank END
              AS BIGINT) AS weight
  FROM vocab
),
j AS (
  SELECT t.doc_id, COALESCE(w.weight, 0) AS wt
  FROM tok t LEFT JOIN w USING (token)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(wt) AS BIGINT) AS score_num,
       CAST(SUM(wt) * 1000000 // COUNT(*) AS BIGINT) AS logit_e6,
       CAST(SUM(wt) * 1000000 // COUNT(*) AS BIGINT) >= 0 AS is_quality
FROM j GROUP BY doc_id
"""

# d9: ExactSubstr-style repeated spans. The Spark side groups by
# xxhash64(gram) for 8-byte shuffle keys; the oracle groups by the gram
# string — identical up to 64-bit hash collisions (the documented trade
# of decontaminate/segment_dedup). Island merge: positions p1 < p2 share
# a span iff p2 - p1 <= n (token ranges [p, p+n-1] overlap/touch).
ORACLES["d9_repeated_spans"] = """
WITH d AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents
),
pos AS (
  SELECT doc_id, i AS pos,
         array_to_string(list_slice(ws, i + 1, i + 8), ' ') AS g
  FROM d, LATERAL (
    SELECT unnest(range(greatest(len(ws) - 7, 0))) AS i
  ) u
),
dupg AS (
  SELECT g FROM (
    SELECT g, COUNT(DISTINCT doc_id) AS nd FROM pos GROUP BY g
  ) WHERE nd >= 2
),
hits AS (SELECT doc_id, pos FROM pos WHERE g IN (SELECT g FROM dupg)),
isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev IS NULL OR pos - prev > 8 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM (
    SELECT doc_id, pos,
           lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
    FROM hits
  )
),
spans AS (
  SELECT doc_id, island, min(pos) AS s, max(pos) + 7 AS e,
         COUNT(*) AS ng
  FROM isl GROUP BY 1, 2
),
per_doc AS (
  SELECT doc_id,
         CAST(SUM(ng) AS BIGINT) AS n_dup_grams,
         CAST(COUNT(*) AS BIGINT) AS n_spans,
         CAST(SUM(e - s + 1) AS BIGINT) AS n_dup_tokens
  FROM spans GROUP BY 1
)
SELECT t.doc_id, t.n_grams,
       COALESCE(p.n_dup_grams, 0) AS n_dup_grams,
       COALESCE(p.n_spans, 0) AS n_spans,
       COALESCE(p.n_dup_tokens, 0) AS n_dup_tokens
FROM (
  SELECT doc_id, CAST(greatest(len(ws) - 7, 0) AS BIGINT) AS n_grams FROM d
) t LEFT JOIN per_doc p USING (doc_id)
"""

# x4: sqrt-temperature mixture weights — all-integer after the one
# correctly-rounded sqrt (see operators.mixing.temperature_weights).
ORACLES["x4_temperature_weights"] = """
WITH counts AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
),
scaled AS (
  SELECT source, n_docs,
         CAST(floor(sqrt(n_docs) * 1e6) AS BIGINT) AS _sqrt_e6
  FROM counts
),
tot AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS _n_total,
         CAST(SUM(_sqrt_e6) AS BIGINT) AS _sqrt_total
  FROM scaled
)
SELECT source, n_docs,
       n_docs * 1000000 // _n_total AS raw_share_e6,
       _sqrt_e6 * 1000000 // _sqrt_total AS temp_share_e6
FROM scaled CROSS JOIN tot
"""


def _m6_resize_png_sql() -> str:
    """Oracle for the real PNG codec chain: an 8x8 image built from the
    first 64 codepoints (& 0xFF), pixel-center nearest-resampled to 4x4,
    keeps exactly the pixels at (y, x) in {1,3,5,7}^2 — so pixel_sum is
    a fixed 16-term character expression, computable without any codec.
    A hash match therefore certifies Spark's encode->resize->decode
    round-trip bit-exactly."""
    idx = [1, 3, 5, 7]
    terms = [
        f"(CASE WHEN length(text) >= {y * 8 + x + 1} "
        f"THEN ord(substr(text, {y * 8 + x + 1}, 1)) % 256 ELSE 0 END)"
        for y in idx
        for x in idx
    ]
    return (
        "SELECT doc_id,\n"
        "       CAST(4 AS INTEGER) AS width,\n"
        "       CAST(4 AS INTEGER) AS height,\n"
        "       CAST(" + "\n          + ".join(terms) + " AS BIGINT) AS pixel_sum\n"
        "FROM documents\n"
    )


ORACLES["m6_resize_png"] = _m6_resize_png_sql()


def _m7_wav_stats_sql() -> str:
    """Oracle for the real WAV codec chain: frame i of each payload is
    ((codepoint_i & 0xFF) - 128) * 256 over the first 64 characters, the
    frame count is min(len(text), 64) (no padding), and the sample rate
    is 8000 + (doc_id % 4) * 4000 Hz — all pure character/id arithmetic,
    so a hash match certifies the stdlib encode -> RIFF header parse ->
    int16 PCM decode round-trip bit-exactly, including the
    data-dependent header fields."""
    terms = [
        f"(CASE WHEN length(text) >= {i} "
        f"THEN (ord(substr(text, {i}, 1)) % 256 - 128) * 256 ELSE 0 END)"
        for i in range(1, 65)
    ]
    rate = "(8000 + (doc_id % 4) * 4000)"
    return (
        "SELECT doc_id,\n"
        "       CAST(LEAST(length(text), 64) AS BIGINT) AS n_frames,\n"
        f"       CAST({rate} AS INTEGER) AS sample_rate,\n"
        f"       CAST(LEAST(length(text), 64) * 1000000 // {rate} AS BIGINT)"
        " AS duration_us,\n"
        "       CAST(" + "\n          + ".join(terms) + " AS BIGINT) AS pcm_sum\n"
        "FROM documents\n"
    )


ORACLES["m7_wav_stats"] = _m7_wav_stats_sql()


def _m12_image_ahash_sql() -> str:
    """Oracle for the real aHash chain: pixel (y, x) of the 8x8 PNG is
    codepoint y*8+x (& 0xFF, zero-padded), so bit i of the average-hash
    is the exact integer compare v_i * 64 > sum(v_0..v_63) — no float
    mean anywhere — packed row-major into two 32-bit halves."""
    v = [
        f"(CASE WHEN length(text) >= {i + 1} "
        f"THEN ord(substr(text, {i + 1}, 1)) % 256 ELSE 0 END)"
        for i in range(64)
    ]
    s = "(" + " + ".join(v) + ")"
    lo = " + ".join(
        f"(CASE WHEN {v[i]} * 64 > {s} THEN {1 << i} ELSE 0 END)"
        for i in range(32)
    )
    hi = " + ".join(
        f"(CASE WHEN {v[i]} * 64 > {s} THEN {1 << (i - 32)} ELSE 0 END)"
        for i in range(32, 64)
    )
    return (
        "SELECT doc_id,\n"
        f"       CAST({lo} AS BIGINT) AS ahash_lo,\n"
        f"       CAST({hi} AS BIGINT) AS ahash_hi\n"
        "FROM documents\n"
    )


ORACLES["m12_image_ahash"] = _m12_image_ahash_sql()

# d11: image-level exact dedup via the m12 aHash — collision groups
# (n >= 2) with min-id keeper; the oracle recomputes every hash from
# character arithmetic and groups identically.
ORACLES["d11_image_dup_groups"] = f"""
SELECT ahash_hi, ahash_lo,
       CAST(MIN(doc_id) AS BIGINT) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS n_dups
FROM ({ORACLES["m12_image_ahash"]})
GROUP BY 1, 2
HAVING COUNT(*) >= 2
"""

# d12: image near-dup pairs — brute-force all-pairs Hamming over the
# character-arithmetic hashes; the engine's banded path provably equals
# it at radius <= 3 (pigeonhole over 4x16-bit chunks + exact verify).
ORACLES["d12_image_neardup"] = f"""
WITH h AS ({ORACLES["m12_image_ahash"]})
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.ahash_lo, b.ahash_lo))
            + bit_count(xor(a.ahash_hi, b.ahash_hi)) AS INTEGER) AS hamming
FROM h a JOIN h b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.ahash_lo, b.ahash_lo))
      + bit_count(xor(a.ahash_hi, b.ahash_hi)) <= 3
"""

# m9: the real AVI chain — frame f holds codepoints [f*64, (f+1)*64) of
# the first 256 chars as an 8x8 raster (zero-padded only in the last
# partial frame), frame rate 5 + doc_id % 4 fps. Every parsed quantity
# is character/id arithmetic: n_frames = ceil(min(len,256)/64),
# usec_per_frame = 10^6 // fps, pixel_sum = sum of codepoints % 256.
ORACLES["m9_avi_stats"] = """
SELECT doc_id,
       CAST(8 AS INTEGER) AS width,
       CAST(8 AS INTEGER) AS height,
       CAST(1000000 // (5 + doc_id % 4) AS BIGINT) AS usec_per_frame,
       CAST((LEAST(length(text), 256) + 63) // 64 AS INTEGER) AS n_frames,
       CAST(COALESCE((
         SELECT SUM(ord(substr(d.text, CAST(i + 1 AS INTEGER), 1)) % 256)
         FROM unnest(range(LEAST(length(d.text), 256))) AS u(i)
       ), 0) AS BIGINT) AS pixel_sum
FROM documents d
"""

# m11: mixed-modality dispatch — payload type by doc_id % 3 (png / wav /
# avi), every branch fully decoded. dim_a/dim_b/content_sum per modality:
#   png: width=8, height=8, pixel sum = sum of first-64 codepoints % 256
#   wav: n_frames = min(len,64), rate = 8000 + (doc_id%4)*4000,
#        pcm_sum = (sum64 - n_frames*128) * 256
#   avi: n_frames = ceil(min(len,256)/64), usec = 10^6 // (5 + doc_id%4),
#        pixel_sum = sum of first-256 codepoints % 256
ORACLES["m11_mixed_modality"] = """
WITH s AS (
  SELECT doc_id, length(text) AS n,
         COALESCE((SELECT SUM(ord(substr(d.text, CAST(i + 1 AS INTEGER), 1)) % 256)
                   FROM unnest(range(LEAST(length(d.text), 64))) AS u(i)), 0)
           AS sum64,
         COALESCE((SELECT SUM(ord(substr(d.text, CAST(i + 1 AS INTEGER), 1)) % 256)
                   FROM unnest(range(LEAST(length(d.text), 256))) AS u(i)), 0)
           AS sum256
  FROM documents d
)
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'avi' END
         AS modality,
       CAST(CASE doc_id % 3 WHEN 0 THEN 8
            WHEN 1 THEN LEAST(n, 64)
            ELSE (LEAST(n, 256) + 63) // 64 END AS BIGINT) AS dim_a,
       CAST(CASE doc_id % 3 WHEN 0 THEN 8
            WHEN 1 THEN 8000 + (doc_id % 4) * 4000
            ELSE 1000000 // (5 + doc_id % 4) END AS BIGINT) AS dim_b,
       CAST(CASE doc_id % 3 WHEN 0 THEN sum64
            WHEN 1 THEN (sum64 - LEAST(n, 64) * 128) * 256
            ELSE sum256 END AS BIGINT) AS content_sum
FROM s
"""

# m10: per-frame pixel sums — frame_idx = char_pos // 64 over the first
# 256 chars; a doc with no text emits no rows (no frames).
ORACLES["m10_avi_frames"] = """
SELECT doc_id, CAST(i // 64 AS INTEGER) AS frame_idx,
       CAST(SUM(ord(substr(text, CAST(i + 1 AS INTEGER), 1)) % 256)
            AS BIGINT) AS frame_sum
FROM (SELECT doc_id, text, unnest(range(LEAST(length(text), 256))) AS i
      FROM documents)
GROUP BY 1, 2
"""

# m8: every 16th decoded PCM frame — each output sample is ONE decoded
# int16 predicted from one character, so the match is per-sample exact
# (a branch per sampled position; positions past the text end emit no
# row, mirroring the unpadded encoder).
ORACLES["m8_wav_frames"] = "\nUNION ALL\n".join(
    f"SELECT doc_id, CAST({k} AS INTEGER) AS frame_idx,\n"
    f"       CAST((ord(substr(text, {k + 1}, 1)) % 256 - 128) * 256"
    " AS INTEGER) AS sample\n"
    f"FROM documents WHERE length(text) >= {k + 1}"
    for k in (0, 16, 32, 48)
)

# q70 = q03's all-integer aggregate chain + a final exact-int division to
# the natural double presentation (one correctly-rounded IEEE op per
# column — engine-neutral, unlike doubles inside the aggregate).
ORACLES["q70_monthly_kpis_dbl"] = f"""
SELECT n_name, ano, mes,
       mensal_qty_media_e6 / 1e6 AS mensal_qty_media,
       mensal_qty_max_cents / 100.0 AS mensal_qty_max,
       mensal_price_cents / 100.0 AS mensal_price,
       dias_high_rev
FROM ({ORACLES["q03_monthly_kpis"]})
"""

# c4: the FULL pretraining pipeline — nine stages nested as CTEs
# (normalize -> exact dedup -> near-dedup canonical -> decontaminate ->
# PII scrub -> quality filter -> temperature mixture -> pack -> shard).
# Each stage's SQL is its standalone oracle's proven pattern (t6 / d1 /
# c2-recursive-closure / t9 / t12 / t19 / x4 / t13 / x3); the near-dup
# stage equals exact Jaccard by the d3 recall argument. Casts pin every
# numeric to BIGINT (DuckDB SUM(BIGINT) -> HUGEINT otherwise).
ORACLES["c4_pretraining_pipeline"] = """
WITH RECURSIVE
nrm AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                             '\\s+', ' ', 'g')) AS text
  FROM documents
),
kg AS (
  SELECT min(doc_id) AS doc_id, COUNT(*) AS exact_copies
  FROM nrm GROUP BY text
),
kdocs AS (
  SELECT kg.doc_id, kg.exact_copies, n.text FROM kg JOIN nrm n USING (doc_id)
),
grams3 AS (
  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') ws FROM kdocs) t,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(ws)-2, 0))) AS i) u
),
sizes AS (SELECT doc_id, COUNT(*) n FROM grams3 GROUP BY 1),
inter AS (
  SELECT a.doc_id id_a, b.doc_id id_b, COUNT(*) c
  FROM grams3 a JOIN grams3 b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) >= 0.5
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach AS (
  SELECT a AS node, a AS comp FROM edges
  UNION
  SELECT e.b AS node, r.comp FROM reach r JOIN edges e ON e.a = r.node
),
comp AS (SELECT node, min(comp) AS comp FROM reach GROUP BY node),
canon AS (
  SELECT kd.doc_id, kd.exact_copies, kd.text,
         COALESCE(c.comp, kd.doc_id) AS cluster_id
  FROM kdocs kd LEFT JOIN comp c ON c.node = kd.doc_id
  WHERE COALESCE(c.comp, kd.doc_id) = kd.doc_id
),
train AS (SELECT * FROM canon WHERE doc_id % 23 <> 0),
tg AS (
  SELECT DISTINCT doc_id,
         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' ||
         ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7] AS g
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') ws FROM train) t,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(ws)-7, 0))) AS i) u
),
eg AS (
  SELECT DISTINCT
         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' ||
         ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7] AS g
  FROM (SELECT string_split_regex(trim(text), '\\s+') ws
        FROM nrm WHERE doc_id % 23 = 0) t,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(ws)-7, 0))) AS i) u
),
hits AS (
  SELECT doc_id, COUNT(*) AS n_shared FROM tg
  WHERE g IN (SELECT g FROM eg) GROUP BY 1
),
tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM tg GROUP BY 1),
clean AS (
  SELECT tr.* FROM train tr
  LEFT JOIN tot USING (doc_id)
  LEFT JOIN hits USING (doc_id)
  WHERE NOT COALESCE(
    COALESCE(hits.n_shared, 0) / CAST(tot.n_grams AS DOUBLE) >= 0.05, FALSE)
),
planted AS (
  SELECT doc_id, exact_copies, cluster_id,
         CASE WHEN doc_id % 3 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@mail.example.com from 10.'
                   || CAST(doc_id % 256 AS VARCHAR) || '.0.1'
              ELSE text END AS text
  FROM clean
),
r1 AS (
  SELECT doc_id, exact_copies, cluster_id,
         CAST(len(regexp_extract_all(text,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
           AS n_emails,
         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                        '<EMAIL>', 'g') AS t1
  FROM planted
),
scrub AS (
  SELECT doc_id, exact_copies, cluster_id, n_emails,
         CAST(len(regexp_extract_all(t1, '\\b\\d{1,3}(\\.\\d{1,3}){3}\\b'))
              AS BIGINT) AS n_ips,
         regexp_replace(t1, '\\b\\d{1,3}(\\.\\d{1,3}){3}\\b', '<IP>', 'g')
           AS text
  FROM r1
),
tok AS (
  SELECT doc_id, token FROM (
    SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
    FROM scrub
  ) WHERE token <> ''
),
vocab AS (
  SELECT token,
         CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) AS INTEGER)
           AS rank
  FROM (SELECT token, COUNT(*) AS freq FROM tok GROUP BY token)
  ORDER BY freq DESC, token ASC LIMIT 40
),
w AS (
  SELECT token,
         CAST(CASE WHEN rank % 3 = 0 THEN -(41 - rank) ELSE 41 - rank END
              AS BIGINT) AS weight
  FROM vocab
),
score AS (
  SELECT j.doc_id,
         CAST(CAST(SUM(j.wt) AS BIGINT) * 1000000 // COUNT(*) AS BIGINT)
           AS logit_e6
  FROM (SELECT t.doc_id, COALESCE(w.weight, 0) AS wt
        FROM tok t LEFT JOIN w USING (token)) j
  GROUP BY 1
),
survivors AS (
  SELECT s.doc_id, s.exact_copies, s.cluster_id, s.n_emails, s.n_ips,
         s.text, sc.logit_e6, d.source
  FROM scrub s JOIN score sc USING (doc_id) JOIN documents d USING (doc_id)
  WHERE sc.logit_e6 >= 0
),
counts AS (SELECT source, COUNT(*) AS n_docs FROM survivors GROUP BY source),
scaled AS (
  SELECT source, n_docs, CAST(floor(sqrt(n_docs) * 1e6) AS BIGINT) AS _s
  FROM counts
),
twtot AS (SELECT CAST(SUM(_s) AS BIGINT) AS st FROM scaled),
tw AS (
  SELECT source, _s * 1000000 // st AS temp_share_e6
  FROM scaled CROSS JOIN twtot
),
pk AS (
  SELECT doc_id, doc_id % 32 AS shard32,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n
  FROM survivors
),
o AS (
  SELECT doc_id, n,
         CAST(SUM(n) OVER (ORDER BY shard32, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n
              AS BIGINT) AS off
  FROM pk
),
b AS (
  SELECT doc_id, n, off,
         unnest(range(off // 256, (off + n - 1) // 256 + 1)) AS bin_id
  FROM o WHERE n > 0
),
pack AS (
  SELECT CAST(bin_id AS BIGINT) AS bin_id, doc_id,
         CAST(greatest(bin_id * 256 - off, 0) AS BIGINT) AS tok_start,
         CAST(least((bin_id + 1) * 256 - off, n)
              - greatest(bin_id * 256 - off, 0) AS BIGINT) AS n_tokens
  FROM b
),
shards AS (
  SELECT doc_id, CAST(pri % 8 AS BIGINT) AS shard,
         CAST(ROW_NUMBER() OVER (PARTITION BY pri % 8 ORDER BY pri, doc_id)
              AS BIGINT) AS pos
  FROM (SELECT doc_id, (doc_id * 2654435761) % 1048576 AS pri FROM survivors)
)
SELECT p.bin_id, p.doc_id, p.tok_start, p.n_tokens,
       CAST(s.exact_copies AS BIGINT) AS exact_copies,
       CAST(s.cluster_id AS BIGINT) AS cluster_id,
       s.n_emails, s.n_ips, s.logit_e6, s.source,
       t.temp_share_e6, sh.shard, sh.pos
FROM pack p
JOIN survivors s USING (doc_id)
JOIN shards sh USING (doc_id)
JOIN tw t USING (source)
"""

def _bpe_rounds_parts(k: int) -> list[str]:
    """Shared CTE stages replaying k BPE merge rounds (t22 trains,
    t29 encodes): pair counts from adjacent positions -> argmax with
    the (count DESC, left, right) tie-break -> closed-form greedy
    apply. For l <> r occurrences can never overlap, so every (l, r)
    adjacency merges; for l == r the scan merges pairs at even offsets
    within each maximal equal-symbol run (gaps-and-islands parity). A
    row is dropped when its predecessor was a merge start; positions
    are then renumbered. Exact integer counts end to end."""
    parts = [
        """
dict AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
    FROM documents
  ) WHERE w <> '' GROUP BY w
),
pos0 AS MATERIALIZED (
  SELECT w, cnt, CAST(p AS BIGINT) AS p,
         substr(w, CAST(p AS INTEGER), 1) AS s
  FROM dict, LATERAL (SELECT unnest(generate_series(1, length(w))) AS p) u
)"""
    ]
    for i in range(k):
        parts.append(
            f"""
pairs{i} AS MATERIALIZED (
  SELECT a.s AS l, b.s AS r, CAST(SUM(a.cnt) AS BIGINT) AS c
  FROM pos{i} a JOIN pos{i} b ON a.w = b.w AND b.p = a.p + 1
  GROUP BY 1, 2
),
best{i} AS MATERIALIZED (
  SELECT l, r, c FROM pairs{i} ORDER BY c DESC, l ASC, r ASC LIMIT 1
),
run{i} AS MATERIALIZED (
  SELECT w, cnt, p, s,
         CAST(ROW_NUMBER() OVER (PARTITION BY w, s, p - rn ORDER BY p) - 1
              AS BIGINT) AS off
  FROM (
    SELECT w, cnt, p, s,
           ROW_NUMBER() OVER (PARTITION BY w, s ORDER BY p) AS rn
    FROM pos{i}
  )
),
mark{i} AS MATERIALIZED (
  SELECT r1.w, r1.cnt, r1.p, r1.s, r2.s AS ns,
         COALESCE(r1.s = b.l AND r2.s = b.r
                  AND (b.l <> b.r OR r1.off % 2 = 0), FALSE) AS ms
  FROM run{i} r1
  LEFT JOIN run{i} r2 ON r1.w = r2.w AND r2.p = r1.p + 1
  CROSS JOIN best{i} b
),
pos{i + 1} AS MATERIALIZED (
  SELECT w, cnt,
         CAST(ROW_NUMBER() OVER (PARTITION BY w ORDER BY p) AS BIGINT) AS p,
         CASE WHEN ms THEN s || ns ELSE s END AS s
  FROM (
    SELECT w, cnt, p, s, ns, ms,
           COALESCE(LAG(ms) OVER (PARTITION BY w ORDER BY p), FALSE)
             AS consumed
    FROM mark{i}
  )
  WHERE NOT consumed
)"""
        )
    return parts


def _t22_bpe_train_sql(k: int = 8) -> str:
    """Oracle for BPE training: the merge table from the unrolled
    rounds (see :func:`_bpe_rounds_parts`)."""
    parts = _bpe_rounds_parts(k)
    final = "\nUNION ALL\n".join(
        f"SELECT CAST({i + 1} AS INTEGER) AS rank, l AS merge_left, "
        f"r AS merge_right, c AS pair_count FROM best{i}"
        for i in range(k)
    )
    return "WITH " + ",".join(parts) + "\n" + final


ORACLES["t22_bpe_train"] = _t22_bpe_train_sql(8)

# m13: multimodal packing — media token counts predicted from the same
# character/id arithmetic as m11 (png 8x8 -> 16 patches at patch=2; wav
# 1 token per 16 frames of min(len,64); avi 16 patches per frame of
# ceil(min(len,256)/64) frames), plus whitespace text tokens, then the
# t13 pack replay over the combined counts.
ORACLES["m13_multimodal_pack"] = """
WITH meta AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'avi' END
           AS modality,
         CAST(CASE doc_id % 3
              WHEN 0 THEN 16
              WHEN 1 THEN (LEAST(length(text), 64) + 15) // 16
              ELSE ((LEAST(length(text), 256) + 63) // 64) * 16 END
              AS BIGINT) AS media_tokens,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
           AS text_tokens
  FROM documents
),
t AS (
  SELECT doc_id, modality, text_tokens, media_tokens,
         doc_id % 32 AS shard32,
         text_tokens + media_tokens AS n
  FROM meta
),
o AS (
  SELECT doc_id, modality, text_tokens, media_tokens, n,
         CAST(SUM(n) OVER (ORDER BY shard32, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n
              AS BIGINT) AS off
  FROM t
),
b AS (
  SELECT doc_id, modality, text_tokens, media_tokens, n, off,
         unnest(range(off // 256, (off + n - 1) // 256 + 1)) AS bin_id
  FROM o WHERE n > 0
)
SELECT CAST(bin_id AS BIGINT) AS bin_id, doc_id,
       CAST(greatest(bin_id * 256 - off, 0) AS BIGINT) AS tok_start,
       CAST(least((bin_id + 1) * 256 - off, n)
            - greatest(bin_id * 256 - off, 0) AS BIGINT) AS n_tokens,
       modality, text_tokens, media_tokens
FROM b
"""

# c5: the multimodal flagship — m11's decode arithmetic, min-id keeper
# per decoded fingerprint, m13's token rules, pack replay over the
# deduped survivor stream.
ORACLES["c5_multimodal_pipeline"] = """
WITH s AS (
  SELECT doc_id, length(text) AS n,
         COALESCE((SELECT SUM(ord(substr(d.text, CAST(i + 1 AS INTEGER), 1)) % 256)
                   FROM unnest(range(LEAST(length(d.text), 64))) AS u(i)), 0)
           AS sum64,
         COALESCE((SELECT SUM(ord(substr(d.text, CAST(i + 1 AS INTEGER), 1)) % 256)
                   FROM unnest(range(LEAST(length(d.text), 256))) AS u(i)), 0)
           AS sum256
  FROM documents d
),
meta AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'avi' END
           AS modality,
         CAST(CASE doc_id % 3 WHEN 0 THEN 8
              WHEN 1 THEN LEAST(n, 64)
              ELSE (LEAST(n, 256) + 63) // 64 END AS BIGINT) AS dim_a,
         CAST(CASE doc_id % 3 WHEN 0 THEN 8
              WHEN 1 THEN 8000 + (doc_id % 4) * 4000
              ELSE 1000000 // (5 + doc_id % 4) END AS BIGINT) AS dim_b,
         CAST(CASE doc_id % 3 WHEN 0 THEN sum64
              WHEN 1 THEN (sum64 - LEAST(n, 64) * 128) * 256
              ELSE sum256 END AS BIGINT) AS content_sum
  FROM s
),
surv AS (
  SELECT modality, dim_a, dim_b, content_sum,
         MIN(doc_id) AS doc_id,
         CAST(COUNT(*) AS BIGINT) AS exact_copies
  FROM meta GROUP BY 1, 2, 3, 4
),
mt AS (
  SELECT doc_id, modality, exact_copies,
         CAST(CASE modality
              WHEN 'png' THEN ((dim_a + 1) // 2) * ((dim_b + 1) // 2)
              WHEN 'wav' THEN (dim_a + 15) // 16
              ELSE dim_a * 16 END AS BIGINT) AS media_tokens
  FROM surv
),
tt AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
           AS text_tokens
  FROM documents
),
t AS (
  SELECT mt.doc_id, modality, exact_copies, text_tokens, media_tokens,
         mt.doc_id % 32 AS shard32,
         text_tokens + media_tokens AS n
  FROM mt JOIN tt ON mt.doc_id = tt.doc_id
),
o AS (
  SELECT doc_id, modality, exact_copies, text_tokens, media_tokens, n,
         CAST(SUM(n) OVER (ORDER BY shard32, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n
              AS BIGINT) AS off
  FROM t
),
b AS (
  SELECT doc_id, modality, exact_copies, text_tokens, media_tokens, n, off,
         unnest(range(off // 256, (off + n - 1) // 256 + 1)) AS bin_id
  FROM o WHERE n > 0
)
SELECT CAST(bin_id AS BIGINT) AS bin_id, doc_id,
       CAST(greatest(bin_id * 256 - off, 0) AS BIGINT) AS tok_start,
       CAST(least((bin_id + 1) * 256 - off, n)
            - greatest(bin_id * 256 - off, 0) AS BIGINT) AS n_tokens,
       modality, exact_copies, text_tokens, media_tokens
FROM b
"""

# t24: leakage-safe split — the d5 recursive closure for cluster ids,
# then the t7 modulus applied to the CLUSTER id, so near-dup pairs can
# never straddle splits.
ORACLES["t24_leakage_safe_split"] = f"""
WITH RECURSIVE pairs AS ({_JACCARD_SQL}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach AS (
  SELECT a AS node, a AS comp FROM edges
  UNION
  SELECT e.b AS node, r.comp FROM reach r JOIN edges e ON e.a = r.node
),
comp AS (SELECT node, MIN(comp) AS comp FROM reach GROUP BY 1)
SELECT d.doc_id,
       CAST(COALESCE(c.comp, d.doc_id) AS BIGINT) AS cluster_id,
       CASE WHEN COALESCE(c.comp, d.doc_id) % 100 < 80 THEN 'train'
            WHEN COALESCE(c.comp, d.doc_id) % 100 < 90 THEN 'val'
            ELSE 'test' END AS split
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
"""

# st7: streaming OHLC equals the batch q80 exactly — min_by/max_by on
# the total-order key are merge-associative, so the micro-batch schedule
# cannot change open/close; identical oracle.
ORACLES["st7_stream_ohlc"] = ORACLES["q80_ohlc_bars"]

# m14: AV alignment — video frames (m10's char-arithmetic CTE + the
# decoded usec-per-frame timebase) ASOF-joined to audio samples (m8's
# per-sample CTE + the decoded rate timebase) via DuckDB's native ASOF
# LEFT JOIN, mirroring the engine's union+window asof plan.
_M14_AUDIO = "\n    UNION ALL\n".join(
    f"    SELECT doc_id, CAST({k} AS INTEGER) AS a_idx,\n"
    f"           CAST((ord(substr(text, {k + 1}, 1)) % 256 - 128) * 256"
    " AS INTEGER) AS sample,\n"
    f"           CAST({k} * 1000000 // (8000 + (doc_id % 4) * 4000)"
    " AS BIGINT) AS a_ts_us\n"
    f"    FROM documents WHERE length(text) >= {k + 1}"
    for k in (0, 16, 32, 48)
)
ORACLES["m14_av_alignment"] = f"""
WITH vg AS (
  SELECT doc_id, CAST(i // 64 AS INTEGER) AS v_idx,
         CAST(SUM(ord(substr(text, CAST(i + 1 AS INTEGER), 1)) % 256)
              AS BIGINT) AS frame_sum,
         CAST(MIN(1000000 // (5 + doc_id % 4)) AS BIGINT) AS usec
  FROM (SELECT doc_id, text, unnest(range(LEAST(length(text), 256))) AS i
        FROM documents)
  GROUP BY 1, 2
),
video AS (
  SELECT doc_id, v_idx, frame_sum,
         CAST(v_idx * usec AS BIGINT) AS v_ts_us
  FROM vg
),
audio AS (
{_M14_AUDIO}
)
SELECT v.doc_id, v.v_idx, v.v_ts_us, v.frame_sum, a.a_idx, a.sample
FROM video v ASOF LEFT JOIN audio a
  ON v.doc_id = a.doc_id AND a.a_ts_us <= v.v_ts_us
"""

# x5: curriculum scheduling — exact integer difficulty, quantile_disc
# boundaries (DuckDB's discrete quantile == Spark's percentile_disc,
# proven by q60), Knuth-hash within-phase order (the x3 idiom).
ORACLES["x5_curriculum_order"] = """
WITH d AS (
  SELECT doc_id,
         CAST(length(trim(text)) AS BIGINT) * 1000
           // CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
           AS difficulty_milli
  FROM documents
),
b AS (
  SELECT quantile_disc(difficulty_milli, 0.25) AS b1,
         quantile_disc(difficulty_milli, 0.5) AS b2,
         quantile_disc(difficulty_milli, 0.75) AS b3
  FROM d
),
p AS (
  SELECT doc_id, difficulty_milli,
         CAST(1 + CAST(difficulty_milli > b1 AS INTEGER)
                + CAST(difficulty_milli > b2 AS INTEGER)
                + CAST(difficulty_milli > b3 AS INTEGER) AS INTEGER)
           AS phase
  FROM d CROSS JOIN b
)
SELECT doc_id, difficulty_milli, phase,
       CAST(ROW_NUMBER() OVER (
              PARTITION BY phase
              ORDER BY (doc_id * 2654435761) % 1048576, doc_id)
            AS BIGINT) AS pos
FROM p
"""


# --- round 8 additions ---------------------------------------------------

_ANN_EXACT_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
),
scored AS (
  SELECT query_id, e.vec_id AS item_id,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), qv)
           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(qv, qv))) AS score
  FROM embeddings e, q
  WHERE e.vec_id != query_id
),
r AS (
  SELECT query_id, item_id,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, item_id ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, item_id, rank, TRUE AS recall_ok FROM r WHERE rank <= 10
"""

# s6: IVF-routed PQ — exact top-k + compound-recall envelope boolean,
# the same oracle-checkable ANN contract as s2/s3/s5.
ORACLES["s6_ivf_pq_topk"] = _ANN_EXACT_SQL

# d16: segment-blocked fuzzy join — same brute-force oracle as d15, so
# a hash match proves the PassJoin pigeonhole blocking is recall-1.
ORACLES["d16_fuzzy_pairs_segmented"] = ORACLES["d15_fuzzy_name_pairs"]

# st9: streaming incremental refresh — same full-recompute oracle as
# c6; a hash match proves incremental == full recompute IN THE
# STREAMING PATH, independent of the micro-batch split.
ORACLES["st9_stream_incremental_refresh"] = ORACLES["c6_incremental_refresh"]

# q103-q108: the six remaining TPC-H shapes (adaptations documented in
# queries_tpch.py; with these all 22 TPC-H queries are registered).
ORACLES["q103_tpch_q2"] = """
WITH supply AS (
  SELECT l_partkey, l_suppkey,
         MIN(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) * 10000
             // CAST(l_quantity AS BIGINT)) AS cost_micros
  FROM lineitem GROUP BY 1, 2
),
eu AS (
  SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
  FROM supplier s JOIN nation n ON s_nationkey = n_nationkey
  JOIN region r ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
j AS (
  SELECT p.p_partkey, p.p_name, e.s_name, e.n_name,
         CAST(CAST(e.s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS acctbal_cents,
         sp.cost_micros
  FROM supply sp JOIN eu e ON sp.l_suppkey = e.s_suppkey
  JOIN part p ON sp.l_partkey = p.p_partkey
  WHERE p.p_type = 'ECONOMY' AND p.p_size <= 15
),
m AS (SELECT p_partkey, MIN(cost_micros) AS min_cost FROM j GROUP BY 1)
SELECT j.acctbal_cents, j.s_name, j.n_name, j.p_partkey, j.p_name, j.cost_micros
FROM j JOIN m ON j.p_partkey = m.p_partkey AND j.cost_micros = m.min_cost
ORDER BY j.acctbal_cents DESC, j.n_name, j.s_name, j.p_partkey
LIMIT 100
"""

ORACLES["q104_tpch_q9"] = """
SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
       CAST(SUM(CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) * 1000000 AS BIGINT)
           - CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) * 10000 * CAST(l_quantity AS BIGINT)) AS BIGINT) AS profit_micros,
       COUNT(*) AS n_rows
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
ORDER BY 1, 2 DESC
"""

ORACLES["q105_tpch_q11"] = """
WITH v AS (
  SELECT l_partkey,
         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS value_cents
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
  GROUP BY 1
),
tot AS (SELECT SUM(value_cents) AS t FROM v)
SELECT l_partkey AS p_partkey, value_cents FROM v, tot
WHERE value_cents > t // 1000
ORDER BY value_cents DESC, p_partkey
"""

ORACLES["q106_tpch_q12"] = """
SELECT l_returnflag,
       CAST(count_if(o_orderpriority IN ('1-URGENT', '2-HIGH')) AS BIGINT) AS high_line_count,
       CAST(count_if(o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
  AND year(l_shipdate) = 1997
GROUP BY 1 ORDER BY 1
"""

ORACLES["q107_tpch_q16"] = """
WITH supply AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
ok_sup AS (SELECT s_suppkey FROM supplier WHERE s_acctbal >= 1000)
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM supply
JOIN part ON l_partkey = p_partkey
JOIN ok_sup ON l_suppkey = s_suppkey
WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35, 40, 45, 50)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""

ORACLES["q108_tpch_q20"] = """
WITH bolt_parts AS (SELECT p_partkey FROM part WHERE p_name LIKE '%bolt%'),
qty AS (
  SELECT l_suppkey, l_partkey,
         CAST(SUM(CASE WHEN l_shipdate < TIMESTAMP '1997-07-01' THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS h1_qty,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS yr_qty
  FROM lineitem JOIN bolt_parts ON l_partkey = p_partkey
  WHERE year(l_shipdate) = 1997
  GROUP BY 1, 2
),
cand AS (SELECT DISTINCT l_suppkey FROM qty WHERE 2 * h1_qty > yr_qty)
SELECT s_name, CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS acctbal_cents
FROM supplier JOIN cand ON s_suppkey = l_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name IN ('AMERICA', 'ASIA')
ORDER BY s_name
"""


# q110: recursive hierarchy traversal — the oracle runs the GENUINE
# recursive CTE (sequential parent-chain walk), so a hash match proves
# the Spark pointer-doubling fold equals true recursion. Roots are
# customers < 10 (self-parented); everyone else reports to
# c_custkey div 7.
ORACLES["q110_hierarchy_rollup"] = """
WITH RECURSIVE up AS (
  SELECT c_custkey AS node, c_custkey AS cur, CAST(0 AS BIGINT) AS depth
  FROM customer
  UNION ALL
  SELECT node, cur // 7, depth + 1 FROM up WHERE cur >= 10
)
SELECT CAST(node AS BIGINT) AS node,
       CAST(arg_max(cur, depth) AS BIGINT) AS root,
       CAST(MAX(depth) AS BIGINT) AS depth
FROM up GROUP BY node
"""

# d18: asymmetric containment — same distinct-gram CTE as d2, scores as
# exact integer ppm in BOTH directions, pair kept when the larger
# direction clears 0.6.
ORACLES["d18_containment_pairs"] = f"""
WITH {_GRAMS_DISTINCT},
sizes AS (SELECT doc_id, COUNT(*) n FROM grams GROUP BY 1),
inter AS (
  SELECT a.doc_id id_a, b.doc_id id_b, COUNT(*) c
  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(c AS BIGINT) AS inter,
       CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
       CAST(c * 1000000 // sa.n AS BIGINT) AS cont_a_ppm,
       CAST(c * 1000000 // sb.n AS BIGINT) AS cont_b_ppm
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE greatest(c * 1000000 // sa.n, c * 1000000 // sb.n) >= 600000
"""


# g2: bounded-round min-label propagation — same edge CTEs as g1, the 3
# rounds unrolled (integer-exact, so the replay is bit-for-bit).
_G2_ROUND = """
l{j} AS (
  SELECT l.node,
         least(l.label, coalesce(MIN(nl.label), l.label)) AS label
  FROM l{i} l
  LEFT JOIN edges e ON e.src = l.node
  LEFT JOIN l{i} nl ON nl.node = e.dst
  GROUP BY l.node, l.label
)"""
ORACLES["g2_label_propagation"] = (
    """
WITH d AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
s AS (SELECT p, COUNT(*) AS support FROM d GROUP BY p),
r AS (
  SELECT o, p,
         ROW_NUMBER() OVER (PARTITION BY o ORDER BY support DESC, p ASC)
           AS rk
  FROM d JOIN s USING (p)
),
top AS (SELECT o, p FROM r WHERE rk <= 5),
pairs AS (
  SELECT DISTINCT a.p AS src, b.p AS dst
  FROM top a JOIN top b ON a.o = b.o AND a.p < b.p
),
edges AS (
  SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs
),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),"""
    + ",".join(_G2_ROUND.format(i=i, j=i + 1) for i in range(3))
    + """
SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label
FROM l3
"""
)


# x9: largest-remainder token-budget apportionment — all integer, so the
# oracle replays it exactly; the SUM(quota_tokens) == budget theorem is
# implied by the hash match.
ORACLES["x9_token_budget"] = """
WITH c AS (
  SELECT source,
         CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY 1
),
wts AS (
  SELECT source, n_tokens,
         CAST(floor(sqrt(n_tokens) * 1000000) AS BIGINT) AS w
  FROM c
),
tot AS (SELECT SUM(w) AS wtot FROM wts),
base AS (
  SELECT source, n_tokens, w,
         CAST((100000 * wts.w) // wtot AS BIGINT) AS base,
         CAST((100000 * wts.w) % wtot AS BIGINT) AS rem,
         CAST(wts.w * 1000000 // wtot AS BIGINT) AS weight_e6
  FROM wts CROSS JOIN tot
),
slack AS (SELECT 100000 - SUM(base) AS r FROM base),
rk AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC) AS rnk
  FROM base
)
SELECT source, n_tokens, weight_e6,
       CAST(base + CASE WHEN rnk <= (SELECT r FROM slack) THEN 1 ELSE 0 END
            AS BIGINT) AS quota_tokens,
       CAST((base + CASE WHEN rnk <= (SELECT r FROM slack) THEN 1 ELSE 0 END)
            * 1000000 // n_tokens AS BIGINT) AS fill_ppm
FROM rk
"""


# c7: the c6 view-maintenance theorem driven through the transactional
# snapshot sink — same oracle (full recompute over the applied table),
# so the hash match proves the MERGE storage layer's I/U/D semantics.
ORACLES["c7_snapshot_merge_mv"] = ORACLES["c6_incremental_refresh"]

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q110_hierarchy_rollup": R.q110_hierarchy_rollup,
    "d18_containment_pairs": L.d18_containment_pairs,
    "g2_label_propagation": L.g2_label_propagation,
    "x9_token_budget": L.x9_token_budget,
    "c7_snapshot_merge_mv": T.c7_snapshot_merge_mv,
    "d6_dedup_embedding": L.d6_dedup_embedding,
    "d9_repeated_spans": L.d9_repeated_spans,
    "q36_global_topk": R.q36_global_topk,
    "q37_quality_gate": R.q37_quality_gate,
    "q38_ntile_quartiles": R.q38_ntile_quartiles,
    "q45_date_spine_gapfill": R.q45_date_spine_gapfill,
    "q46_scd2_intervals": R.q46_scd2_intervals,
    "q47_upsert_merge": R.q47_upsert_merge,
    "q48_rank_suite": R.q48_rank_suite,
    "q49_forward_fill": R.q49_forward_fill,
    "q50_anomaly_vs_climatology": R.q50_anomaly_vs_climatology,
    "q53_sketch_rollup": R.q53_sketch_rollup,
    "q54_left_outer_enrich": R.q54_left_outer_enrich,
    "q55_variant_json": R.q55_variant_json,
    "q56_grouped_agg_udaf": R.q56_grouped_agg_udaf,
    "q57_group_rank_pandas": R.q57_group_rank_pandas,
    "q58_cohort_retention": R.q58_cohort_retention,
    "q59_session_funnel": R.q59_session_funnel,
    "q60_percentile_disc": R.q60_percentile_disc,
    "q67_column_profile": R.q67_column_profile,
    "q68_skew_report": R.q68_skew_report,
    "q69_incremental_agg": R.q69_incremental_agg,
    "q70_monthly_kpis_dbl": R.q70_monthly_kpis_dbl,
    "s1_cosine_topk": L.s1_cosine_topk,
    "s2_lsh_topk": L.s2_lsh_topk,
    "t10_repetition_stats": L.t10_repetition_stats,
    "t11_stratified_sample": L.t11_stratified_sample,
    "t14_strip_boilerplate": L.t14_strip_boilerplate,
    "t15_vocab_top_terms": L.t15_vocab_top_terms,
    "t16_oov_stats": L.t16_oov_stats,
    "t17_unigram_logprob": L.t17_unigram_logprob,
    "t18_intra_doc_dedup": L.t18_intra_doc_dedup,
    "t19_quality_classifier": L.t19_quality_classifier,
    "t2_quality": L.t2_quality,
    "t3_lang_id": L.t3_lang_id,
    "t4_fingerprint": L.t4_fingerprint,
    "t5_chunk_docs": L.t5_chunk_docs,
    "t7_train_split": L.t7_train_split,
    "t8_tfidf_top_terms": L.t8_tfidf_top_terms,
    "t9_decontaminate": L.t9_decontaminate,
    "x4_temperature_weights": L.x4_temperature_weights,
    "c3_dedup_funnel_lsh": L.c3_dedup_funnel_lsh,
    "d10_incremental_dedup": L.d10_incremental_dedup,
    "d11_image_dup_groups": L.d11_image_dup_groups,
    "d1_dedup_exact": L.d1_dedup_exact,
    "m10_avi_frames": L.m10_avi_frames,
    "m11_mixed_modality": L.m11_mixed_modality,
    "m12_image_ahash": L.m12_image_ahash,
    "s6_ivf_pq_topk": L.s6_ivf_pq_topk,
    "d16_fuzzy_pairs_segmented": L.d16_fuzzy_pairs_segmented,
    "st9_stream_incremental_refresh": L.st9_stream_incremental_refresh,
    "q103_tpch_q2": T.q103_tpch_q2,
    "q104_tpch_q9": T.q104_tpch_q9,
    "q105_tpch_q11": T.q105_tpch_q11,
    "q106_tpch_q12": T.q106_tpch_q12,
    "q107_tpch_q16": T.q107_tpch_q16,
    "q108_tpch_q20": T.q108_tpch_q20,
    "q11_anti_join": R.q11_anti_join,
    "q12_topk_per_group": R.q12_topk_per_group,
    "q13_running_window": R.q13_running_window,
    "q14_rollup": R.q14_rollup,
    "q15_cube": R.q15_cube,
    "q16_distinct_agg": R.q16_distinct_agg,
    "q17_pivot": R.q17_pivot,
    "q18_sessionize": R.q18_sessionize,
    "q19_tumbling_batch": R.q19_tumbling_batch,
    "q20_json_extract": R.q20_json_extract,
    "q21_three_way_join": R.q21_three_way_join,
    "q22_filter_project": R.q22_filter_project,
    "q23_zero_fill": R.q23_zero_fill,
    "q24_asof_join": R.q24_asof_join,
    "q25_range_join": R.q25_range_join,
    "q26_percentiles": R.q26_percentiles,
    "q27_lag_lead": R.q27_lag_lead,
    "q28_salted_join": R.q28_salted_join,
    "q29_set_ops": R.q29_set_ops,
    "q30_posexplode": R.q30_posexplode,
    "q31_grouping_sets": R.q31_grouping_sets,
    "q32_rolling_range_window": R.q32_rolling_range_window,
    "q33_correlated_subquery": R.q33_correlated_subquery,
    "q35_regression_per_group": R.q35_regression_per_group,
    "q39_tpch_q5": R.q39_tpch_q5,
    "q40_argmax_per_key": R.q40_argmax_per_key,
    "q41_unpivot": R.q41_unpivot,
    "q42_histogram": R.q42_histogram,
    "q43_full_outer_join": R.q43_full_outer_join,
    "q44_array_agg_sorted": R.q44_array_agg_sorted,
    "t12_pii_scrub": L.t12_pii_scrub,
    "t13_pack_sequences": L.t13_pack_sequences,
    "x1_mixture_sample": L.x1_mixture_sample,
    "x2_domain_cap": L.x2_domain_cap,
    "x3_shard_assign": L.x3_shard_assign,
    "q03_monthly_kpis": R.q3_monthly_kpis,
    "c1_curation_chain": L.c1_curation_chain,
    "c2_dedup_funnel": L.c2_dedup_funnel,
    "d2_dedup_jaccard": L.d2_dedup_jaccard,
    "d5_dedup_clusters": L.d5_dedup_clusters,
    "t1_token_stats": L.t1_token_stats,
    "c4_pretraining_pipeline": L.c4_pretraining_pipeline,
    "t22_bpe_train": L.t22_bpe_train,
    "m13_multimodal_pack": L.m13_multimodal_pack,
    "q83_basket_pairs_capped": R.q83_basket_pairs_capped,
    "d12_image_neardup": L.d12_image_neardup,
    "q78_cdc_apply": R.q78_cdc_apply,
    "q79_ratio_to_report": R.q79_ratio_to_report,
    "q80_ohlc_bars": R.q80_ohlc_bars,
    "q81_basket_pairs": R.q81_basket_pairs,
    "q82_running_balance_floor": R.q82_running_balance_floor,
    "q84_tpch_q6": T.q84_tpch_q6,
    "q85_tpch_q7": T.q85_tpch_q7,
    "q86_tpch_q8": T.q86_tpch_q8,
    "q87_tpch_q10": T.q87_tpch_q10,
    "q88_tpch_q13": T.q88_tpch_q13,
    "q89_tpch_q14": T.q89_tpch_q14,
    "q90_tpch_q15": T.q90_tpch_q15,
    "q91_tpch_q19": T.q91_tpch_q19,
    "q92_tpch_q21": T.q92_tpch_q21,
    "q93_tpch_q22": T.q93_tpch_q22,
    "s5_pq_topk": L.s5_pq_topk,
    "st7_stream_ohlc": L.st7_stream_ohlc,
    "m14_av_alignment": L.m14_av_alignment,
    "x5_curriculum_order": L.x5_curriculum_order,
    "q94_tpch_q4": T.q94_tpch_q4,
    "q95_bloom_semi": T.q95_bloom_semi,
    "t24_leakage_safe_split": L.t24_leakage_safe_split,
    "c5_multimodal_pipeline": L.c5_multimodal_pipeline,
    "q96_expectations": T.q96_expectations,
    "q97_interval_merge": T.q97_interval_merge,
    "g1_pagerank": L.g1_pagerank,
    "q98_skew_split_join": T.q98_skew_split_join,
    "q99_pit_scd2_join": T.q99_pit_scd2_join,
    "t25_interp_bigram": L.t25_interp_bigram,
    "d15_fuzzy_name_pairs": L.d15_fuzzy_name_pairs,
    "x7_weighted_sample": L.x7_weighted_sample,
    "m15_keyframes": L.m15_keyframes,
    "q100_sliding_distinct": T.q100_sliding_distinct,
    "q101_active_intervals": T.q101_active_intervals,
    "c6_incremental_refresh": T.c6_incremental_refresh,
    "q102_join_discovery": T.q102_join_discovery,
    "st8_stream_daily_uniques": L.st8_stream_daily_uniques,
    "t26_jaccard_search": L.t26_jaccard_search,
    "x8_epoch_reshuffle": L.x8_epoch_reshuffle,
    "d17_semantic_clusters": L.d17_semantic_clusters,
    "d3_dedup_minhash": L.d3_dedup_minhash,
    "d4_dedup_simhash": L.d4_dedup_simhash,
    "d7_segment_dedup": L.d7_segment_dedup,
    "d8_semantic_keeper": L.d8_semantic_keeper,
    "q10_semi_join": R.q10_semi_join,
    "m7_wav_stats": L.m7_wav_stats,
    "m8_wav_frames": L.m8_wav_frames,
    "m9_avi_stats": L.m9_avi_stats,
    "t20_bigram_condprob": L.t20_bigram_condprob,
    "s4_label_centroids": L.s4_label_centroids,
    "q73_tpch_q3": R.q73_tpch_q3,
    "q74_tpch_q17": R.q74_tpch_q17,
    "t21_token_lift": L.t21_token_lift,
    "q75_tpch_q18": R.q75_tpch_q18,
    "q76_table_diff": R.q76_table_diff,
    "q77_mad_outliers": R.q77_mad_outliers,
    "q72_sessionize_salted": R.q72_sessionize_salted,
    "s3_ivf_topk": L.s3_ivf_topk,
    "q71_time_weighted_avg": R.q71_time_weighted_avg,
    "m6_resize_png": L.m6_resize_png,
    "t6_normalize": L.t6_normalize,
    "m1_decode_meta": L.m1_decode_meta,
    "m2_frame_sample": L.m2_frame_sample,
    "m3_embed_norm": L.m3_embed_norm,
    "m4_byte_histogram": L.m4_byte_histogram,
    "m5_resize": L.m5_resize,
    "q01_pricing_summary": R.q1_pricing_summary,
    "q34_approx_distinct": R.q34_approx_distinct,
    "q51_approx_quantiles": R.q51_approx_quantiles,
    "q61_listagg": R.q61_listagg,
    "q62_try_arithmetic": R.q62_try_arithmetic,
    "q63_bitmap_distinct": R.q63_bitmap_distinct,
    "q64_recursive_cte": R.q64_recursive_cte,
    "q65_map_type": R.q65_map_type,
    "q66_array_analytics": R.q66_array_analytics,
    "st1_stream_tumbling": L.st1_stream_tumbling,
    "st2_stream_sessions": L.st2_stream_sessions,
    "st3_stream_stateful": L.st3_stream_stateful,
    "st4_stream_static_join": L.st4_stream_static_join,
    "st5_stream_dedup": L.st5_stream_dedup,
    "st6_stream_stream_join": L.st6_stream_stream_join,
    "q02_daily_supplier_agg": R.q2_daily_supplier_agg,
    "q04_minmax_bounds": R.q4_minmax_bounds,
    "q05_calendar_dim": R.q5_calendar_dim,
    "q06_surrogate_dim": R.q6_surrogate_dim,
    "q07_decimal_comma_roundtrip": R.q7_decimal_comma_roundtrip,
    "q08_dayfirst_dates": R.q8_dayfirst_dates,
    "q09_union_by_name": R.q9_union_by_name,
}

# d19/d20/d21 — the embedding-LSH scale fix harness (VERDICT r9 item 1).
# Contract = the s2/s3 ANN pattern: deterministic exact rows (the d6/d8/
# d17 label-blocked ground truth) + one envelope boolean on the
# production LSH tier (recall / cluster agreement), which the oracle
# asserts as a constant TRUE.
ORACLES["d19_dedup_embedding_lsh"] = """
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos_sim,
       TRUE AS recall_ok
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.35
"""
ORACLES["d20_semantic_keeper_lsh"] = """
WITH RECURSIVE e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.35
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach AS (
  SELECT a AS node, a AS comp FROM edges
  UNION
  SELECT e2.b AS node, r.comp FROM reach r JOIN edges e2 ON e2.a = r.node
),
comp AS (SELECT node, min(comp) AS cluster_id FROM reach GROUP BY 1)
SELECT v.vec_id,
       COALESCE(c.cluster_id, v.vec_id) AS cluster_id,
       v.vec_id = COALESCE(c.cluster_id, v.vec_id) AS is_keeper,
       TRUE AS agree_ok
FROM embeddings v LEFT JOIN comp c ON c.node = v.vec_id
"""
ORACLES["d21_semantic_clusters_lsh"] = """
WITH RECURSIVE ev AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM ev a JOIN ev b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.35
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM p
  UNION
  SELECT id_b AS a, id_a AS b FROM p
),
reach AS (
  SELECT a AS node, a AS comp FROM edges
  UNION
  SELECT e.b AS node, r.comp FROM reach r JOIN edges e ON e.a = r.node
),
comp AS (SELECT node, MIN(comp) AS comp FROM reach GROUP BY 1)
SELECT v.vec_id, v.label,
       CAST(COALESCE(c.comp, v.vec_id) AS BIGINT) AS cluster_id,
       COALESCE(c.comp, v.vec_id) = v.vec_id AS is_canonical,
       TRUE AS agree_ok
FROM embeddings v LEFT JOIN comp c ON c.node = v.vec_id
"""
QUERIES["d19_dedup_embedding_lsh"] = L.d19_dedup_embedding_lsh
QUERIES["d20_semantic_keeper_lsh"] = L.d20_semantic_keeper_lsh
QUERIES["d21_semantic_clusters_lsh"] = L.d21_semantic_clusters_lsh

# d22 — full-corpus (unblocked) truth for the embedding LSH envelope:
# all-pairs cosine>=0.35 + recall_ok of the production LSH tier vs
# THAT truth (covers the cross-label pairs d6's label tier misses).
ORACLES["d22_dedup_embedding_full"] = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos_sim,
       TRUE AS recall_ok
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.35
"""
QUERIES["d22_dedup_embedding_full"] = L.d22_dedup_embedding_full

# d23 — incremental delta-vs-corpus embedding dedup (the d10 pattern
# for embeddings): exact delta x corpus truth + LSH-probe recall flag.
ORACLES["d23_embedding_delta_dedup"] = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos_sim,
       TRUE AS recall_ok
FROM e a JOIN e b ON a.vec_id < 50 AND b.vec_id >= 50
WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.35
"""
QUERIES["d23_embedding_delta_dedup"] = L.d23_embedding_delta_dedup

# st10 — streaming incremental embedding dedup: same harness contract
# and oracle as d23 (the streamed LSH tier equals the batch tier bit
# for bit; the oracle-checked rows are the exact delta x corpus truth).
ORACLES["st10_stream_embedding_dedup"] = ORACLES["d23_embedding_delta_dedup"]
QUERIES["st10_stream_embedding_dedup"] = L.st10_stream_embedding_dedup

# ---------------------------------------------------------------------------
# round-10 additions (continued): graph density, novelty, weighted order
# statistics, association rules.

# g3 — triangle counting. The Spark side uses degree-ordered orientation
# (O(|E|^1.5) wedges, skew-proof); orientation is invisible to WHICH
# triangles exist, so the oracle counts them directly with an a<b<c
# triple join over the same capped co-purchase pairs — a hash match
# proves the oriented plan finds every triangle exactly once.
_CAPPED_BASKETS_SQL = """
d AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
s AS (SELECT p, COUNT(*) AS support FROM d GROUP BY p),
r AS (
  SELECT o, p,
         ROW_NUMBER() OVER (PARTITION BY o ORDER BY support DESC, p ASC)
           AS rk
  FROM d JOIN s USING (p)
),
top AS (SELECT o, p FROM r WHERE rk <= 5)"""

ORACLES["g3_triangle_count"] = f"""
WITH {_CAPPED_BASKETS_SQL},
pairs AS (
  SELECT DISTINCT a.p AS p1, b.p AS p2
  FROM top a JOIN top b ON a.o = b.o AND a.p < b.p
),
tri AS (
  SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
  FROM pairs e1
  JOIN pairs e2 ON e2.p1 = e1.p2
  JOIN pairs e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
GROUP BY 1
ORDER BY n_triangles DESC, node ASC
LIMIT 100
"""
QUERIES["g3_triangle_count"] = L.g3_triangle_count

# t27 — n-gram novelty: DF counting on the string grams (the hashed
# shingle_sets contract: collisions at ~2^-64 are accepted).
ORACLES["t27_ngram_novelty"] = f"""
WITH {_GRAMS_DISTINCT},
df AS (SELECT g, COUNT(*) AS dfc FROM grams GROUP BY 1)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(COUNT(*) FILTER (WHERE dfc = 1) AS BIGINT) AS n_novel,
       CAST(COUNT(*) FILTER (WHERE dfc = 1) * 1000000 // COUNT(*)
            AS BIGINT) AS novelty_ppm
FROM grams JOIN df USING (g)
GROUP BY doc_id
"""
QUERIES["t27_ngram_novelty"] = L.t27_ngram_novelty

# q109 — exact weighted median (order-statistic definition, integer
# cents; aggregate-then-window so the windows see value cardinality,
# not row count).
ORACLES["q109_weighted_median"] = """
WITH v AS (
  SELECT l_returnflag,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents,
         CAST(l_quantity AS BIGINT) AS w
  FROM lineitem
),
agg AS (
  SELECT l_returnflag, cents, CAST(SUM(w) AS BIGINT) AS wv
  FROM v GROUP BY 1, 2
),
c AS (
  SELECT l_returnflag, cents,
         SUM(wv) OVER (PARTITION BY l_returnflag ORDER BY cents
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(wv) OVER (PARTITION BY l_returnflag) AS tot
  FROM agg
)
SELECT l_returnflag,
       CAST(MIN(cents) AS BIGINT) AS wmedian_cents,
       CAST(MAX(tot) AS BIGINT) AS w_total
FROM c WHERE cum * 2 >= tot GROUP BY 1
"""
QUERIES["q109_weighted_median"] = R.q109_weighted_median

# q111 — association rules over the capped baskets; ppm arithmetic
# widened (HUGEINT here, decimal(38,0) in Spark) so no basket scale
# overflows.
ORACLES["q111_assoc_rules"] = f"""
WITH {_CAPPED_BASKETS_SQL},
nb AS (SELECT COUNT(DISTINCT o) AS _nb FROM top),
item AS (SELECT p, COUNT(*) AS n_item FROM top GROUP BY 1),
pairs AS (
  SELECT a.p AS p1, b.p AS p2, COUNT(*) AS n_pair
  FROM top a JOIN top b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING COUNT(*) >= 3
),
rules AS (
  SELECT p1 AS antecedent, p2 AS consequent, n_pair FROM pairs
  UNION ALL
  SELECT p2 AS antecedent, p1 AS consequent, n_pair FROM pairs
)
SELECT antecedent, consequent,
       CAST(n_pair AS BIGINT) AS n_pair,
       CAST(ia.n_item AS BIGINT) AS n_ante,
       CAST(ic.n_item AS BIGINT) AS n_cons,
       CAST(CAST(n_pair AS HUGEINT) * 1000000 // ia.n_item AS BIGINT)
         AS conf_ppm,
       CAST(CAST(n_pair AS HUGEINT) * _nb * 1000000
            // (CAST(ia.n_item AS HUGEINT) * ic.n_item) AS BIGINT)
         AS lift_ppm
FROM rules
JOIN item ia ON ia.p = antecedent
JOIN item ic ON ic.p = consequent
CROSS JOIN nb
ORDER BY lift_ppm DESC, conf_ppm DESC, antecedent ASC, consequent ASC
LIMIT 50
"""
QUERIES["q111_assoc_rules"] = R.q111_assoc_rules

# t28 — Misra-Gries heavy hitters: the emitted surface is the exact
# top-20 OF THE GUARANTEED tier (freq*k > N — tokens below it have no
# sketch-survival guarantee, so including them would make the
# comparison data-dependent; r10 advice). The oracle computes the same
# provable set directly; mg_ok replays the certificate (always true).
ORACLES["t28_heavy_hitters"] = """
WITH toks AS (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
  FROM documents
),
tk AS (SELECT token FROM toks WHERE token <> ''),
counts AS (SELECT token, COUNT(*) AS freq FROM tk GROUP BY 1),
n AS (SELECT COUNT(*) AS total FROM tk)
SELECT token, CAST(freq AS BIGINT) AS freq,
       freq * 256 > total AS mg_ok
FROM counts CROSS JOIN n
WHERE freq * 256 > total
ORDER BY freq DESC, token ASC
LIMIT 20
"""
QUERIES["t28_heavy_hitters"] = L.t28_heavy_hitters

# x6 — DSIR importance weights: integer Laplace-smoothed likelihood
# ratios (HUGEINT here, decimal(38,0) in Spark), summed per doc.
ORACLES["x6_dsir_importance"] = """
WITH toks AS (
  SELECT doc_id, lang = 'en' AS tgt,
         unnest(string_split_regex(trim(text), '\\s+')) AS token
  FROM documents
),
tk AS (SELECT doc_id, tgt, token FROM toks WHERE token <> ''),
counts AS (
  SELECT token,
         COUNT(*) FILTER (WHERE tgt) AS ct,
         COUNT(*) FILTER (WHERE NOT tgt) AS cs
  FROM tk GROUP BY 1
),
sc AS (
  SELECT SUM(ct) AS t_tot, SUM(cs) AS s_tot, COUNT(*) AS v FROM counts
),
ratios AS (
  SELECT token,
         CAST(CAST(ct + 1 AS HUGEINT) * (s_tot + v) * 1000000
              // (CAST(cs + 1 AS HUGEINT) * (t_tot + v)) AS BIGINT)
           AS r_ppm
  FROM counts CROSS JOIN sc
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(r_ppm) AS BIGINT) AS dsir_score_ppm
FROM tk JOIN ratios USING (token)
GROUP BY 1
"""
QUERIES["x6_dsir_importance"] = L.x6_dsir_importance

# d24 — corpus-vs-corpus shingle overlap: the exact tier replayed on
# string grams; the MinHash signature tier is engine-side and surfaces
# only its verified est_ok boolean (the s2/s3 contract).
ORACLES["d24_corpus_overlap"] = """
WITH g AS (
  SELECT DISTINCT (doc_id % 2 = 0) AS in_a,
         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') ws
        FROM documents) t,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(ws)-2, 0)))
                AS i) u
),
member AS (
  SELECT g,
         MAX(CASE WHEN in_a THEN 1 ELSE 0 END) AS a,
         MAX(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS b
  FROM g GROUP BY 1
)
SELECT CAST(SUM(a) AS BIGINT) AS n_shingles_a,
       CAST(SUM(b) AS BIGINT) AS n_shingles_b,
       CAST(COUNT(*) FILTER (WHERE a = 1 AND b = 1) AS BIGINT)
         AS n_intersection,
       CAST(COUNT(*) FILTER (WHERE a = 1 AND b = 1) * 1000000
            // (SUM(a) + SUM(b)
                - COUNT(*) FILTER (WHERE a = 1 AND b = 1)) AS BIGINT)
         AS jaccard_ppm,
       TRUE AS est_ok
FROM member
"""
QUERIES["d24_corpus_overlap"] = L.d24_corpus_overlap


def _m16_image_patches_sql() -> str:
    """Oracle for ViT-style patchify over the m6 PNG payloads: pixel
    (y, x) of doc's 8x8 image is codepoint of character y*8+x (1-based
    substr), masked to a byte, zero past the end — so each of the four
    4x4 patch sums is 16 CASE terms of pure character arithmetic. A
    hash match certifies the real PNG decode + spatial windowing."""
    parts = []
    for pr in (0, 1):
        for pc in (0, 1):
            terms = []
            for dy in range(4):
                for dx in range(4):
                    idx = (pr * 4 + dy) * 8 + (pc * 4 + dx) + 1
                    terms.append(
                        f"(CASE WHEN length(text) >= {idx} THEN"
                        f" ord(substr(text, {idx}, 1)) % 256 ELSE 0 END)"
                    )
            parts.append(
                "SELECT doc_id,"
                f" CAST({pr} AS INTEGER) AS patch_row,"
                f" CAST({pc} AS INTEGER) AS patch_col,"
                " CAST(" + "\n   + ".join(terms) + " AS BIGINT)"
                " AS patch_sum FROM documents"
            )
    return "\nUNION ALL\n".join(parts)


ORACLES["m16_image_patches"] = _m16_image_patches_sql()
QUERIES["m16_image_patches"] = L.m16_image_patches

# s7 — Gram matrix: element-wise micro-quantization before any product
# (the label_centroids contract) makes the integer sums order-free and
# exactly replayable with a posexploded self-join.
ORACLES["s7_embedding_gram"] = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
q AS (
  SELECT vec_id, i, CAST(floor(v[i] * 1000000) AS BIGINT) AS qi
  FROM e, LATERAL (SELECT unnest(generate_series(1, 64)) AS i) t
)
SELECT CAST(a.i - 1 AS INTEGER) AS dim_i,
       CAST(b.i - 1 AS INTEGER) AS dim_j,
       CAST(SUM(a.qi * b.qi) AS BIGINT) AS smoment_q,
       CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM q a JOIN q b ON a.vec_id = b.vec_id AND b.i >= a.i
GROUP BY 1, 2
"""
QUERIES["s7_embedding_gram"] = L.s7_embedding_gram


def _t29_bpe_encode_sql(k: int = 8) -> str:
    """Oracle for BPE tokenizer application: replay t22's k training
    rounds (shared CTEs), read each distinct word's post-merge symbol
    count from the final positions table, and join the encoded lengths
    back onto the per-document word stream."""
    parts = _bpe_rounds_parts(k)
    final = f"""
wlen AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS n_syms FROM pos{k} GROUP BY w
),
dtoks AS (
  SELECT doc_id, w FROM (
    SELECT doc_id,
           unnest(string_split_regex(trim(text), '\\s+')) AS w
    FROM documents
  ) WHERE w <> ''
)
SELECT doc_id,
       CAST(SUM(length(w)) AS BIGINT) AS n_chars,
       CAST(SUM(n_syms) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(n_syms) * 1000000 // SUM(length(w)) AS BIGINT)
         AS compression_ppm
FROM dtoks JOIN wlen USING (w)
GROUP BY doc_id
"""
    return "WITH " + ",".join(parts + [final])


ORACLES["t29_bpe_encode"] = _t29_bpe_encode_sql(8)
QUERIES["t29_bpe_encode"] = L.t29_bpe_encode

# st11 — streaming Gram maintenance: the streamed fold of s7's integer
# partials equals the batch statistic bit for bit (associative sums),
# so the oracle is s7's.
ORACLES["st11_stream_gram"] = ORACLES["s7_embedding_gram"]
QUERIES["st11_stream_gram"] = L.st11_stream_gram


def _m17_audio_energy_sql(win: int = 16, n_max: int = 64) -> str:
    """Oracle for windowed PCM energy: sample i (0-based) of doc's WAV
    is ((codepoint_{i+1} & 0xFF) - 128) * 256 for i < min(len, 64)
    (m7's proven payload contract, no padding); window w covers
    samples w*win .. w*win+win-1 and exists iff min(len,64) > w*win.
    Energy = sum of squares — pure character arithmetic."""
    sels = []
    for w in range(n_max // win):
        lo = w * win
        terms = []
        for dy in range(win):
            idx = lo + dy + 1
            s = f"(ord(substr(text, {idx}, 1)) % 256 - 128) * 256"
            terms.append(
                f"(CASE WHEN LEAST(length(text), {n_max}) >= {idx}"
                f" THEN CAST({s} AS BIGINT) * ({s}) ELSE 0 END)"
            )
        sels.append(
            "SELECT doc_id,"
            f" CAST({w} AS INTEGER) AS win_idx,"
            f" CAST(LEAST(LEAST(length(text), {n_max}) - {lo}, {win})"
            " AS INTEGER) AS n_frames,"
            " CAST(" + "\n   + ".join(terms) + " AS BIGINT) AS energy"
            f" FROM documents WHERE LEAST(length(text), {n_max}) > {lo}"
        )
    return "\nUNION ALL\n".join(sels)


ORACLES["m17_audio_energy"] = _m17_audio_energy_sql(16, 64)
QUERIES["m17_audio_energy"] = L.m17_audio_energy


# g4: bounded-round k-core peel — same edge CTEs as g1/g2, the peel
# rounds unrolled (each round = degree filter + edge restriction to
# kept endpoints; integer-exact, so the replay is bit-for-bit).
_G4_ROUND = """
k{j} AS (
  SELECT src AS node FROM e{i} GROUP BY src HAVING COUNT(*) >= {k}
),
e{j} AS (
  SELECT e.src, e.dst FROM e{i} e
  JOIN k{j} a ON a.node = e.src
  JOIN k{j} b ON b.node = e.dst
)"""


def _g4_kcore_sql(k: int = 3, n_rounds: int = 3) -> str:
    return (
        """
WITH d AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
s AS (SELECT p, COUNT(*) AS support FROM d GROUP BY p),
r AS (
  SELECT o, p,
         ROW_NUMBER() OVER (PARTITION BY o ORDER BY support DESC, p ASC)
           AS rk
  FROM d JOIN s USING (p)
),
top AS (SELECT o, p FROM r WHERE rk <= 5),
pairs AS (
  SELECT DISTINCT a.p AS src, b.p AS dst
  FROM top a JOIN top b ON a.o = b.o AND a.p < b.p
),
e0 AS (
  SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs
),"""
        + ",".join(
            _G4_ROUND.format(i=i, j=i + 1, k=k) for i in range(n_rounds)
        )
        + f"""
SELECT CAST(src AS BIGINT) AS node, CAST(COUNT(*) AS BIGINT) AS degree
FROM e{n_rounds} GROUP BY src
"""
    )


ORACLES["g4_kcore"] = _g4_kcore_sql(3, 3)
QUERIES["g4_kcore"] = L.g4_kcore

# s8 emits the exact top-k + SQ8-tier recall envelope boolean, the
# s2/s3/s5 ann_with_recall_check contract — same exact-topk oracle.
ORACLES["s8_sq8_topk"] = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
),
scored AS (
  SELECT query_id, e.vec_id AS item_id,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), qv)
           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(qv, qv))) AS score
  FROM embeddings e, q
  WHERE e.vec_id != query_id
),
r AS (
  SELECT query_id, item_id,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, item_id ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, item_id, rank, TRUE AS recall_ok FROM r WHERE rank <= 10
"""
QUERIES["s8_sq8_topk"] = L.s8_sq8_topk


def _m18_audio_autocorr_sql(
    lags: tuple[int, ...] = (1, 2, 4, 8), n_max: int = 64
) -> str:
    """Oracle for lag autocorrelation: sample i (0-based) of doc's WAV
    is ((codepoint_{i+1} & 0xFF) - 128) * 256 for i < min(len, 64)
    (m7's payload contract); autocorr(L) = sum over i of s_i * s_{i+L}
    with both indices inside the clip; n_terms = max(min(len,64)-L, 0).
    One row per (doc, lag), including empty clips — pure character
    arithmetic, each product <= 2^30, sums exact in BIGINT."""

    def s(i: int) -> str:  # 1-based substr index
        return f"(ord(substr(text, {i}, 1)) % 256 - 128) * 256"

    sels = []
    for lag in lags:
        terms = []
        for i in range(1, n_max - lag + 1):
            terms.append(
                f"(CASE WHEN LEAST(length(text), {n_max}) >= {i + lag}"
                f" THEN CAST({s(i)} AS BIGINT) * ({s(i + lag)})"
                " ELSE 0 END)"
            )
        sels.append(
            "SELECT doc_id,"
            f" CAST({lag} AS INTEGER) AS lag,"
            f" CAST(GREATEST(LEAST(length(text), {n_max}) - {lag}, 0)"
            " AS INTEGER) AS n_terms,"
            " CAST(" + "\n   + ".join(terms) + " AS BIGINT) AS autocorr"
            " FROM documents"
        )
    return "\nUNION ALL\n".join(sels)


ORACLES["m18_audio_autocorr"] = _m18_audio_autocorr_sql((1, 2, 4, 8), 64)
QUERIES["m18_audio_autocorr"] = L.m18_audio_autocorr

# t30: interpolated Kneser-Ney bigram scoring — t25's bigram CTEs plus
# the distinct-type continuation counts; D=3/4 in quarters, one integer
# division per term in a fixed order, so the replay is bit-for-bit.
ORACLES["t30_kneser_ney"] = """
WITH b AS (
  SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2, ws[i] || ' ' || ws[i+1] AS g
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') ws
        FROM documents) t,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(ws)-1, 0)))
                AS i) u
),
c2 AS (SELECT g, COUNT(*) AS c2 FROM b GROUP BY 1),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM b GROUP BY 1),
ty AS (SELECT DISTINCT g, w1, w2 FROM b),
n1f AS (SELECT w1, COUNT(*) AS n1f FROM ty GROUP BY 1),
nc AS (SELECT w2, COUNT(*) AS nc FROM ty GROUP BY 1),
nt AS (SELECT COUNT(*) AS nt FROM ty),
scored AS (
  SELECT doc_id,
         ((4 * c2.c2 - 3) * 1000000 // (4 * c1.c1))
         + (3 * n1f.n1f * ((nc.nc * 1000000) // nt.nt)) // (4 * c1.c1)
           AS pk
  FROM b JOIN c2 USING (g) JOIN c1 USING (w1)
       JOIN n1f USING (w1) JOIN nc ON nc.w2 = b.w2 CROSS JOIN nt
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(pk) AS BIGINT) AS pkn_sum_micro,
       CAST(SUM(pk) // COUNT(*) AS BIGINT) AS pkn_avg_micro
FROM scored GROUP BY doc_id
"""
QUERIES["t30_kneser_ney"] = L.t30_kneser_ney

# c8: perplexity filter — t30's scoring CTEs as a subquery, the exact
# quantile_disc cutoff (an actual data value, ties kept by >=), filter.
ORACLES["c8_perplexity_filter"] = f"""
WITH s AS ({ORACLES['t30_kneser_ney']}),
thr AS (SELECT quantile_disc(pkn_avg_micro, 0.7) AS thr_micro FROM s)
SELECT s.doc_id, d.source, s.pkn_avg_micro,
       CAST(thr.thr_micro AS BIGINT) AS thr_micro
FROM s JOIN documents d USING (doc_id) CROSS JOIN thr
WHERE s.pkn_avg_micro >= thr.thr_micro
"""
QUERIES["c8_perplexity_filter"] = L.c8_perplexity_filter


# x10 — consistent per-stratum holdout sample: md5 is engine-portable,
# so the oracle IS the same deterministic draw (no envelope needed).
ORACLES["x10_stratified_sample"] = """
WITH h AS (
  SELECT lang, doc_id, md5(CAST(doc_id AS VARCHAR)) AS sample_key
  FROM documents
)
SELECT lang, doc_id, sample_key,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY lang ORDER BY sample_key ASC, doc_id ASC
       ) AS INTEGER) AS sample_rank
FROM h
QUALIFY sample_rank <= 10
"""
QUERIES["x10_stratified_sample"] = L.x10_stratified_sample

# t31 — per-doc cross-corpus duplication ppm: census on gram STRINGS
# here, xxhash64 keys in the engine (the d2/d3 collision contract).
ORACLES["t31_dup_ratio"] = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
  FROM documents
),
grams AS (
  SELECT doc_id,
         ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||
         ws[i+4]||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7] AS g
  FROM toks,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(ws)-7, 0))) AS i) u
),
per_doc AS (SELECT doc_id, g, COUNT(*) AS n_pos FROM grams GROUP BY 1, 2),
dfq AS (SELECT g, COUNT(*) AS dfd FROM per_doc GROUP BY 1),
rolled AS (
  SELECT doc_id, SUM(n_pos) AS n_grams,
         SUM(CASE WHEN dfd >= 2 THEN n_pos ELSE 0 END) AS n_dup
  FROM per_doc JOIN dfq USING (g) GROUP BY 1
)
SELECT d.doc_id,
       CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(n_dup, 0) AS BIGINT) AS n_dup,
       CAST(CASE WHEN COALESCE(n_grams, 0) = 0 THEN 0
                 ELSE COALESCE(n_dup, 0) * 1000000 // n_grams
            END AS BIGINT) AS dup_ppm
FROM documents d LEFT JOIN rolled USING (doc_id)
"""
QUERIES["t31_dup_ratio"] = L.t31_dup_ratio



# t32 — Count-Min sketch census: md5 hash family is engine-portable,
# so the oracle rebuilds the SAME sketch — est/over hash-match exactly.
ORACLES["t32_count_min"] = """
WITH toks AS (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
  FROM documents
),
tk AS (SELECT token FROM toks WHERE token <> ''),
d AS (SELECT unnest(range(4)) AS j),
cells AS (
  SELECT j,
         CAST(('0x' || left(md5(CAST(j AS VARCHAR) || ':' || token), 8))
              AS UBIGINT) % 512 AS c
  FROM tk CROSS JOIN d
),
sketch AS (SELECT j, c, COUNT(*) AS cnt FROM cells GROUP BY 1, 2),
exact AS (
  SELECT token, COUNT(*) AS freq FROM tk GROUP BY 1
  ORDER BY freq DESC, token ASC LIMIT 20
),
est AS (
  SELECT e.token, e.freq, MIN(s.cnt) AS cms_est
  FROM exact e CROSS JOIN d
  JOIN sketch s ON s.j = d.j
   AND s.c = CAST(('0x' || left(md5(CAST(d.j AS VARCHAR) || ':' || e.token), 8))
                  AS UBIGINT) % 512
  GROUP BY 1, 2
)
SELECT token, CAST(freq AS BIGINT) AS freq,
       CAST(cms_est AS BIGINT) AS cms_est,
       CAST(cms_est - freq AS BIGINT) AS cms_over,
       cms_est >= freq AS cms_ok
FROM est ORDER BY freq DESC, token ASC
"""
QUERIES["t32_count_min"] = L.t32_count_min



# x11 — Pareto curation skyline: NOT EXISTS dominance replay on the
# same exact-integer metrics.
ORACLES["x11_pareto_frontier"] = """
WITH m AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         CAST(CASE WHEN len(tk) = 0 THEN 0
                   ELSE len(list_distinct(tk)) * 1000000 // len(tk)
              END AS BIGINT) AS uniq_ppm
  FROM (
    SELECT doc_id, n_chars,
           list_filter(string_split_regex(trim(text), '\\s+'),
                       t -> t <> '') AS tk
    FROM documents
  )
)
SELECT doc_id, n_chars, uniq_ppm FROM m a
WHERE NOT EXISTS (
  SELECT 1 FROM m b
  WHERE b.n_chars >= a.n_chars AND b.uniq_ppm >= a.uniq_ppm
    AND (b.n_chars > a.n_chars OR b.uniq_ppm > a.uniq_ppm)
)
"""
QUERIES["x11_pareto_frontier"] = L.x11_pareto_frontier


# c9 — lakehouse compaction planning: exclusive running sum + exact
# integer division over the file manifest, replayed as window SQL.
ORACLES["c9_compaction_plan"] = """
WITH manifest AS (
  SELECT CAST(ts AS DATE) AS event_date, event_type AS file_name,
         CAST(SUM(length(props)) AS BIGINT) AS size_bytes
  FROM events GROUP BY 1, 2
),
binned AS (
  SELECT event_date, file_name, size_bytes,
         (SUM(size_bytes) OVER (
            PARTITION BY event_date
            ORDER BY size_bytes DESC, file_name ASC
            ROWS UNBOUNDED PRECEDING) - size_bytes) // 1500 AS bin_id
  FROM manifest
)
SELECT event_date, file_name, size_bytes,
       CAST(bin_id AS BIGINT) AS bin_id,
       CAST(COUNT(*) OVER (PARTITION BY event_date, bin_id) AS BIGINT)
         AS bin_files,
       CAST(SUM(size_bytes) OVER (PARTITION BY event_date, bin_id)
            AS BIGINT) AS bin_bytes
FROM binned
ORDER BY event_date, bin_id, size_bytes DESC, file_name
"""
QUERIES["c9_compaction_plan"] = L.c9_compaction_plan


# x12 — Z-order layout: the Morton interleave is pure integer
# arithmetic, generated term-by-term so DuckDB replays it bit for bit;
# NTILE's SQL fill rule matches global_ntile's closed form.
_Z16_TERMS = " + ".join(
    f"(((zx >> {i}) & 1) * {1 << (2 * i)})"
    f" + (((zy >> {i}) & 1) * {1 << (2 * i + 1)})"
    for i in range(16)
)
ORACLES["x12_zorder_layout"] = f"""
WITH k AS (
  SELECT l_partkey & 65535 AS zx, l_suppkey & 65535 AS zy,
         l_orderkey, l_linenumber
  FROM lineitem
),
z AS (
  SELECT zx, zy, l_orderkey, l_linenumber,
         CAST({_Z16_TERMS} AS BIGINT) AS zval
  FROM k
),
f AS (
  SELECT zx, zy, zval,
         NTILE(64) OVER (ORDER BY zval, l_orderkey, l_linenumber)
           AS file_id
  FROM z
)
SELECT CAST(file_id AS INT) AS file_id, COUNT(*) AS n_rows,
       MIN(zx) AS min_x, MAX(zx) AS max_x,
       MIN(zy) AS min_y, MAX(zy) AS max_y,
       MIN(zval) AS min_z, MAX(zval) AS max_z
FROM f GROUP BY 1 ORDER BY 1
"""
QUERIES["x12_zorder_layout"] = L.x12_zorder_layout


# t33 — Heaps'-law curve: vocabulary membership at checkpoint k is
# first_occurrence <= threshold_k, so the oracle joins the
# first-occurrence frame to rank-derived thresholds.
ORACLES["t33_vocab_growth"] = """
WITH tk AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                            t -> t <> '')) AS token
  FROM documents
),
firsts AS (SELECT token, MIN(doc_id) AS first_doc FROM tk GROUP BY 1),
dt AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(trim(text), '\\s+'),
                         t -> t <> '')) AS n_tok
  FROM documents
),
dr AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
  FROM documents
),
n AS (SELECT COUNT(*) AS c FROM documents),
cp AS (
  SELECT CAST(p AS INT) AS decile,
         GREATEST(1, (SELECT c FROM n) * p // 10) AS n_docs
  FROM (SELECT unnest(range(1, 11)) AS p)
),
th AS (
  SELECT decile, n_docs, dr.doc_id AS tdoc
  FROM cp JOIN dr ON dr.rn = cp.n_docs
),
vocab AS (
  SELECT th.decile, COUNT(*) AS vocab_size
  FROM th JOIN firsts f ON f.first_doc <= th.tdoc GROUP BY 1
),
toks AS (
  SELECT th.decile, SUM(dt.n_tok) AS n_tokens
  FROM th JOIN dt ON dt.doc_id <= th.tdoc GROUP BY 1
)
SELECT th.decile, CAST(th.n_docs AS BIGINT) AS n_docs,
       CAST(v.vocab_size AS BIGINT) AS vocab_size,
       CAST(t.n_tokens AS BIGINT) AS n_tokens
FROM th JOIN vocab v USING (decile) JOIN toks t USING (decile)
ORDER BY decile
"""
QUERIES["t33_vocab_growth"] = L.t33_vocab_growth


# q112 — zone-map pruning audit: per-file min/max + range predicate,
# folded to one summary row. All counts exact bigint.
ORACLES["q112_zonemap_prune"] = """
WITH files AS (
  SELECT l_orderkey // 1024 AS file_id, COUNT(*) AS n_rows,
         MIN(CAST(l_shipdate AS DATE)) AS vmin,
         MAX(CAST(l_shipdate AS DATE)) AS vmax,
         SUM(CASE WHEN CAST(l_shipdate AS DATE)
                       BETWEEN DATE '1997-01-01' AND DATE '1997-12-31'
                  THEN 1 ELSE 0 END) AS n_match
  FROM lineitem GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(CASE WHEN vmax < DATE '1997-01-01'
                       OR vmin > DATE '1997-12-31'
                     THEN 1 ELSE 0 END) AS BIGINT) AS files_pruned,
       CAST(SUM(n_rows) AS BIGINT) AS rows_total,
       CAST(SUM(CASE WHEN NOT (vmax < DATE '1997-01-01'
                                OR vmin > DATE '1997-12-31')
                     THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
       CAST(SUM(n_match) AS BIGINT) AS rows_matching
FROM files
"""
QUERIES["q112_zonemap_prune"] = R.q112_zonemap_prune


# g5 — bounded-round BFS: same edge CTEs as g1/g2/g4, frontier
# expansion unrolled round by round (anti-join = NOT IN over the
# visited set; integer-exact, bit-for-bit replay).
_G5_ROUND = """
r{r} AS (
  SELECT DISTINCT e.dst AS node FROM e0 e JOIN f{p} f ON e.src = f.node
),
n{r} AS (
  SELECT r{r}.node, {r} AS dist FROM r{r}
  WHERE r{r}.node NOT IN (SELECT node FROM d{p})
),
d{r} AS (SELECT * FROM d{p} UNION ALL SELECT * FROM n{r}),
f{r} AS (SELECT node FROM n{r})"""


def _g5_bfs_sql(n_rounds: int = 4) -> str:
    return (
        """
WITH d AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
s AS (SELECT p, COUNT(*) AS support FROM d GROUP BY p),
r AS (
  SELECT o, p,
         ROW_NUMBER() OVER (PARTITION BY o ORDER BY support DESC, p ASC)
           AS rk
  FROM d JOIN s USING (p)
),
top AS (SELECT o, p FROM r WHERE rk <= 5),
pairs AS (
  SELECT DISTINCT a.p AS src, b.p AS dst
  FROM top a JOIN top b ON a.o = b.o AND a.p < b.p
),
e0 AS (
  SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs
),
f0 AS (SELECT MIN(src) AS node FROM e0),
d0 AS (SELECT node, 0 AS dist FROM f0),"""
        + ",".join(
            _G5_ROUND.format(r=i + 1, p=i) for i in range(n_rounds)
        )
        + f"""
SELECT CAST(node AS BIGINT) AS node, CAST(dist AS INT) AS dist
FROM d{n_rounds} ORDER BY dist, node
"""
    )


ORACLES["g5_bfs_distances"] = _g5_bfs_sql(4)
QUERIES["g5_bfs_distances"] = L.g5_bfs_distances


# t34 — Zipf head coverage: token census + running sum + exact ppm
# (HUGEINT-widened division mirrors the engine's decimal(38,0) `div`).
ORACLES["t34_zipf_coverage"] = """
WITH tk AS (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
  FROM documents
),
t2 AS (SELECT token FROM tk WHERE token <> ''),
cnt AS (SELECT token, COUNT(*) AS freq FROM t2 GROUP BY 1),
tot AS (SELECT SUM(freq) AS total FROM cnt),
top AS (
  SELECT token, freq,
         ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) AS rank
  FROM cnt ORDER BY freq DESC, token ASC LIMIT 100
)
SELECT CAST(rank AS INT) AS rank, token, CAST(freq AS BIGINT) AS freq,
       CAST(SUM(freq) OVER (ORDER BY rank ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cum_freq,
       CAST(CAST(SUM(freq) OVER (ORDER BY rank ROWS UNBOUNDED PRECEDING)
                 AS HUGEINT) * 1000000 // (SELECT total FROM tot)
            AS BIGINT) AS coverage_ppm
FROM top ORDER BY rank
"""
QUERIES["t34_zipf_coverage"] = L.t34_zipf_coverage


# st12 — streaming CMS maintenance: additive cells make the streamed
# fold split-invariant, so the oracle rebuilds the identical sketch
# from the full corpus (t32's hash family).
ORACLES["st12_stream_count_min"] = """
WITH toks AS (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
  FROM documents
),
tk AS (SELECT token FROM toks WHERE token <> ''),
d AS (SELECT unnest(range(4)) AS j),
cells AS (
  SELECT j,
         CAST(('0x' || left(md5(CAST(j AS VARCHAR) || ':' || token), 8))
              AS UBIGINT) % 512 AS c
  FROM tk CROSS JOIN d
)
SELECT CAST(j AS INT) AS j, CAST(c AS BIGINT) AS c,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM cells GROUP BY 1, 2 ORDER BY 1, 2
"""
QUERIES["st12_stream_count_min"] = L.st12_stream_count_min


# x13 — MMR diversified selection: the greedy argmax rounds unrolled
# (the t22/g4/g5 iterative-replay contract); each round = max-sim vs
# the selected set, integer-weighted score, argmax with id tiebreak.
# The emitted surface is the selection ORDER (the s1 rank contract).
# sel/rel CTEs are MATERIALIZED: DuckDB inlines CTEs by default, and
# the sel chain re-inlined into every round is exponential (measured:
# >420 s plain, 0.07 s materialized).
_X13_STEP = """
m{t} AS (
  SELECT r.vec_id, r.rel,
         MAX(list_dot_product(r.v, s.v)
             / (sqrt(list_dot_product(r.v, r.v))
                * sqrt(list_dot_product(s.v, s.v)))) AS maxsim
  FROM rel r, sel{p} s
  WHERE r.vec_id NOT IN (SELECT vec_id FROM sel{p})
  GROUP BY r.vec_id, r.rel
),
s{t} AS (
  SELECT m.vec_id FROM m{t} m
  ORDER BY (7 * m.rel - 3 * m.maxsim) DESC, m.vec_id ASC LIMIT 1
),
sel{t} AS MATERIALIZED (
  SELECT vec_id, v FROM sel{p}
  UNION ALL SELECT e.vec_id, e.v FROM e JOIN s{t} USING (vec_id)
)"""


def _x13_mmr_sql(k: int = 8) -> str:
    steps = ",".join(_X13_STEP.format(t=t, p=t - 1) for t in range(2, k + 1))
    finals = "\nUNION ALL ".join(
        f"SELECT CAST({t} AS INT) AS step, vec_id FROM s{t}"
        for t in range(1, k + 1)
    )
    return (
        """
WITH e AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id < 200
),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
rel AS MATERIALIZED (
  SELECT vec_id, v,
         list_dot_product(v, qv)
           / (sqrt(list_dot_product(v, v))
              * sqrt(list_dot_product(qv, qv))) AS rel
  FROM e, q WHERE vec_id != 0
),
s1 AS (SELECT vec_id FROM rel ORDER BY rel DESC, vec_id ASC LIMIT 1),
sel1 AS MATERIALIZED (SELECT e.vec_id, e.v FROM e JOIN s1 USING (vec_id)),"""
        + steps
        + "\nSELECT step, vec_id FROM (\n"
        + finals
        + "\n) ORDER BY step\n"
    )


ORACLES["x13_mmr_diverse_topk"] = _x13_mmr_sql(8)
QUERIES["x13_mmr_diverse_topk"] = L.x13_mmr_diverse_topk




# s9 — exact integer Lloyd k-means, rounds unrolled (g1/g4/t22 contract).
# Quantization, distances, argmin tiebreak (dist*16+cid) and the
# floor-div centroid update are all integer-exact, so DuckDB replays
# the full 3-round trajectory bit for bit; empty clusters keep the
# previous centroid (COALESCE in each update CTE).
# (parts, final-centroid-CTE-name) per parameterization — the s9 CTE
# chain is shared by the d25 SemDeDup oracle, which extends the same
# clustering trajectory with pair/loser CTEs.
_S9_PARTS: dict = {}


def _s9_kmeans_sql(k: int, n_rounds: int, dim: int, scale: int) -> str:
    # The oracle's argmin tiebreak packs (dist, cid) into dist*pack+cid;
    # any pack >= k preserves the lexicographic order (the engine side
    # uses an unpacked struct argmin — same order, no factor). pack=16
    # for k <= 16 keeps historical oracle text byte-identical.
    pack = max(16, 1 << max(k - 1, 1).bit_length())
    assign = """
a{r} AS (
  SELECT vec_id, min_by(cid, dist * {pack} + cid) AS cluster
  FROM (
    SELECT q.vec_id, c.cid,
           CAST(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
              - 2 * list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(c.cv AS DOUBLE[]))
              + list_dot_product(CAST(c.cv AS DOUBLE[]), CAST(c.cv AS DOUBLE[]))
             AS BIGINT) AS dist
    FROM q, {prev} c)
  GROUP BY vec_id
)"""
    update = """
c{r} AS (
  SELECT p.cid, COALESCE(nc.cv, p.cv) AS cv
  FROM {prev} p LEFT JOIN (
    SELECT cid, list((s - ((s % n + n) % n)) // n ORDER BY i) AS cv
    FROM (
      SELECT a.cluster AS cid, u.i, sum(u.v) AS s, count(*) AS n
      FROM a{r} a JOIN q USING (vec_id),
           LATERAL (SELECT unnest(qv) AS v,
                           unnest(range(1, {dim1})) AS i) u
      GROUP BY a.cluster, u.i) GROUP BY cid) nc
  ON p.cid = nc.cid
)"""
    parts = [
        f"""q AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * {scale}) AS BIGINT)) AS qv
  FROM embeddings
)""",
        f"""c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
         qv AS cv
  FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT {k})
)""",
    ]
    prev = "c0"
    for r in range(1, n_rounds + 1):
        parts.append(assign.format(r=r, prev=prev, pack=pack))
        parts.append(update.format(r=r, prev=prev, dim1=dim + 1))
        prev = f"c{r}"
    _S9_PARTS[(k, n_rounds, dim, scale)] = (list(parts), prev, pack)
    final = f"""
SELECT vec_id,
       CAST(key % {pack} AS INTEGER) AS cluster,
       key // {pack} AS dist_q
FROM (
  SELECT q.vec_id, min(
           CAST(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
              - 2 * list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(c.cv AS DOUBLE[]))
              + list_dot_product(CAST(c.cv AS DOUBLE[]), CAST(c.cv AS DOUBLE[]))
             AS BIGINT) * {pack} + cid) AS key
  FROM q, {prev} c
  GROUP BY q.vec_id)
"""
    return "WITH " + ",".join(parts) + final


ORACLES["s9_kmeans"] = _s9_kmeans_sql(8, 3, 64, 1000)
QUERIES["s9_kmeans"] = L.s9_kmeans


# d25 — SemDeDup: the full s9 clustering trajectory (same CTE chain,
# via _S9_PARTS) extended with the intra-cluster pair + closer-to-
# centroid-loses algebra. Keep/drop is pure integer (dist_q, ids);
# only the tau crossing is float (the d6 contract).
def _d25_semdedup_sql(k: int, n_rounds: int, dim: int, scale: int,
                      tau: float) -> str:
    if (k, n_rounds, dim, scale) not in _S9_PARTS:
        _s9_kmeans_sql(k, n_rounds, dim, scale)
    parts, prev, pack = _S9_PARTS[(k, n_rounds, dim, scale)]
    fin = f"""
fin AS (
  SELECT vec_id,
         CAST(key % {pack} AS INTEGER) AS cluster,
         key // {pack} AS dist_q
  FROM (
    SELECT q.vec_id, min(
             CAST(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
                - 2 * list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(c.cv AS DOUBLE[]))
                + list_dot_product(CAST(c.cv AS DOUBLE[]), CAST(c.cv AS DOUBLE[]))
               AS BIGINT) * {pack} + cid) AS key
    FROM q, {prev} c
    GROUP BY q.vec_id)
)"""
    rest = f""",
ev AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
),
p AS (
  SELECT fa.vec_id AS id_a, fb.vec_id AS id_b,
         fa.dist_q AS dist_a, fb.dist_q AS dist_b
  FROM fin fa JOIN fin fb
    ON fa.cluster = fb.cluster AND fa.vec_id < fb.vec_id
  JOIN ev a ON a.vec_id = fa.vec_id
  JOIN ev b ON b.vec_id = fb.vec_id
  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= {tau}
),
losers AS (
  SELECT DISTINCT CASE
    WHEN dist_a < dist_b OR (dist_a = dist_b AND id_a < id_b)
    THEN id_a ELSE id_b END AS vec_id
  FROM p
)
SELECT f.vec_id, f.cluster, f.dist_q,
       (l.vec_id IS NOT NULL) AS dropped
FROM fin f LEFT JOIN losers l USING (vec_id)
"""
    return "WITH " + ",".join(parts + [fin]) + rest


ORACLES["d25_semdedup"] = _d25_semdedup_sql(8, 3, 64, 1000, 0.35)
QUERIES["d25_semdedup"] = L.d25_semdedup

# st14 — streaming top-k maintenance: union-then-truncate is an
# associative fold under the (score DESC, item ASC) total order, so
# the streamed state equals the one-shot batch scan — the oracle IS
# s1's SQL (the st13/d3 equality pattern on the serving side).
ORACLES["st14_stream_topk"] = ORACLES["s1_cosine_topk"]
QUERIES["st14_stream_topk"] = L.st14_stream_topk

# t36 — readability: same regex counts + floor-divided Flesch formula.
# greatest(..., 1) guards empty docs on both sides.
ORACLES["t36_readability"] = r"""
WITH c AS (
  SELECT doc_id,
         greatest(len(string_split_regex(trim(text), '\s+')), 1) AS n_words,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
         greatest(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')), 1)
           AS n_vowel_groups
  FROM documents
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_sentences AS BIGINT) AS n_sentences,
       CAST(n_vowel_groups AS BIGINT) AS n_vowel_groups,
       CAST(206835 - (1015 * n_words) // n_sentences
                   - (84600 * n_vowel_groups) // n_words
            AS BIGINT) AS flesch_milli
FROM c
"""
QUERIES["t36_readability"] = L.t36_readability

# d26 — SemDeDup on IVF blocking: the d19/s2 envelope contract. The
# emitted rows are d25's oracle-exact tier; the IVF tier's drop-set
# recall vs it is measured engine-side and asserted via the envelope
# scalar (oracle emits literal TRUE).
ORACLES["d26_semdedup_ivf"] = (
    "SELECT *, TRUE AS blocking_recall_ok FROM ("
    + ORACLES["d25_semdedup"]
    + ")"
)
QUERIES["d26_semdedup_ivf"] = L.d26_semdedup_ivf

_D28_FLAGS_SQL = """
WITH qe AS (
  SELECT vec_id, label,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * 1000) AS BIGINT)) AS qv
  FROM embeddings
),
qn AS (
  SELECT vec_id, label, qv,
         CAST(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[]))
              AS BIGINT) AS n2
  FROM qe
)
SELECT a.vec_id,
       COALESCE(bool_or(
         a.n2 > 0 AND b.n2 > 0 AND d.dot >= 0
         AND 400 * (CAST(d.dot AS HUGEINT) * CAST(d.dot AS HUGEINT))
             >= 49 * (CAST(a.n2 AS HUGEINT) * CAST(b.n2 AS HUGEINT))
       ), FALSE) AS neardup
FROM qn a
LEFT JOIN qn b ON a.label = b.label AND a.vec_id <> b.vec_id
LEFT JOIN LATERAL (
  SELECT CAST(list_dot_product(CAST(a.qv AS DOUBLE[]),
                               CAST(b.qv AS DOUBLE[])) AS BIGINT) AS dot
) d ON TRUE
GROUP BY a.vec_id
"""

# c10 — dedup-ensemble report: each tier's OWN oracle nested as a
# subquery (the c2/c4 composite contract); flags are set-membership
# over those tiers' pair/drop sets.
ORACLES["c10_dedup_ensemble"] = f"""
WITH ex AS (
  SELECT doc_id,
         COUNT(*) OVER (PARTITION BY text) > 1 AS exact_dup
  FROM documents
),
tf AS (
  SELECT DISTINCT id AS doc_id FROM (
    SELECT id_a AS id FROM ({_JACCARD_SQL})
    UNION ALL
    SELECT id_b AS id FROM ({_JACCARD_SQL})
  )
),
ef AS (
  SELECT vec_id AS doc_id FROM ({_D28_FLAGS_SQL}) WHERE neardup
),
sd AS (
  SELECT vec_id AS doc_id, dropped FROM ({_d25_semdedup_sql(22, 3, 64, 1000, 0.35)})
)
SELECT ex.doc_id,
       ex.exact_dup,
       (tf.doc_id IS NOT NULL) AS text_neardup,
       (ef.doc_id IS NOT NULL) AS embedding_neardup,
       COALESCE(sd.dropped, FALSE) AS semdedup_dropped,
       CAST(CAST(ex.exact_dup AS INT)
            + CAST(tf.doc_id IS NOT NULL AS INT)
            + CAST(ef.doc_id IS NOT NULL AS INT)
            + CAST(COALESCE(sd.dropped, FALSE) AS INT) AS BIGINT)
         AS n_tiers
FROM ex
LEFT JOIN tf USING (doc_id)
LEFT JOIN ef USING (doc_id)
LEFT JOIN sd USING (doc_id)
-- guard: the SemDeDup tier above is PINNED at k=22 = max(8, isqrt(N));
-- the engine derives k from the live count, so if the correctness
-- embeddings are ever regenerated/resized out of isqrt(N)=22 territory
-- this fails loudly instead of producing a confusing trajectory mismatch
WHERE (SELECT CASE WHEN count(*) BETWEEN 484 AND 528 THEN TRUE
       ELSE error('c10 oracle pins SemDeDup k=22=max(8,isqrt(N)); '
                  || 'embeddings count moved out of [484,528] - '
                  || 'regenerate the pinned k') END
       FROM embeddings)
"""
QUERIES["c10_dedup_ensemble"] = L.c10_dedup_ensemble

# d27 — SemDeDup at the paper's blocking scale: k=64 cells, which the
# k > _LITERAL_ASSIGN_MAX_K rule routes through the Arrow exact-integer
# argmin (the production k ~ sqrt(N) path, which the old dist*16+cid
# packing capped at 16 cells). The oracle replays the identical 64-cell
# 3-round trajectory (pack factor 64) — the large-k argmin is pinned bit
# for bit, not just envelope-checked.
ORACLES["d27_semdedup_scaled"] = _d25_semdedup_sql(64, 3, 64, 1000, 0.35)
QUERIES["d27_semdedup_scaled"] = L.d27_semdedup_scaled

# d28 — blocked near-dup flags: the existence reduction of d6's pair
# tier on the d25 integer grid; tau = 7/20 decided rationally
# (dot >= 0 AND 400*dot^2 >= 49*|a|^2*|b|^2, HUGEINT-widened), zero-
# norm vectors never flag. The engine computes the same decision with
# one chunked int64 Gram matmul per block.
ORACLES["d28_blocked_neardup_flags"] = _D28_FLAGS_SQL
QUERIES["d28_blocked_neardup_flags"] = L.d28_blocked_neardup_flags

# t37 — char entropy: the t17 ln contract (micro-nat quantization
# before the sum); both engines split to chars identically (probed:
# string_split(text, '') == split(text, ''), empty docs -> [''],
# filtered on both sides).
ORACLES["t37_char_entropy"] = r"""
WITH ch AS (
  SELECT doc_id, unnest(string_split(text, '')) AS c
  FROM documents
),
ch2 AS (SELECT doc_id, c FROM ch WHERE c <> ''),
cnt AS (SELECT doc_id, c, COUNT(*) AS n_c FROM ch2 GROUP BY 1, 2),
tot AS (
  SELECT doc_id, SUM(n_c) AS n, COUNT(*) AS n_distinct_chars
  FROM cnt GROUP BY 1
),
scored AS (
  SELECT cnt.doc_id, cnt.n_c, tot.n, tot.n_distinct_chars,
         CAST(round(-ln(cnt.n_c / CAST(tot.n AS DOUBLE)) * 1e6)
              AS BIGINT) AS nl_u
  FROM cnt JOIN tot USING (doc_id)
)
SELECT doc_id,
       CAST(SUM(n_c) AS BIGINT) AS n_chars,
       CAST(n_distinct_chars AS BIGINT) AS n_distinct_chars,
       CAST(SUM(n_c * nl_u) AS DOUBLE) / (SUM(n_c) * 1e6)
         AS entropy_nats
FROM scored GROUP BY doc_id, n_distinct_chars
"""
QUERIES["t37_char_entropy"] = L.t37_char_entropy


# t35 — positional phrase search. The Spark side matches via the anchor
# join (generalizes to any phrase length); the oracle uses the
# INDEPENDENT n-gram-instance formulation — a hash match proves the two
# algebras agree, a stronger check than replaying the same plan.
ORACLES["t35_phrase_search"] = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'),
                     x -> x <> '') AS toks
  FROM documents
),
g AS (
  SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS gram
  FROM base, LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i) u
  WHERE len(toks) >= 3
),
top AS (
  SELECT gram AS phrase FROM (
    SELECT gram, count(*) AS cnt FROM g GROUP BY 1
    ORDER BY cnt DESC, gram ASC LIMIT 3)
)
SELECT g.doc_id, t.phrase, CAST(count(*) AS BIGINT) AS n_occ
FROM g JOIN top t ON g.gram = t.phrase
GROUP BY 1, 2
"""
QUERIES["t35_phrase_search"] = L.t35_phrase_search


# g6 — weighted SSSP, 4 synchronous Bellman-Ford rounds unrolled. The
# oracle relaxes EVERY settled node per round (the naive algebra); the
# Spark side relaxes only the improved frontier — equivalence is the
# delta-stepping argument, and the hash match proves it on this graph.
def _g6_sssp_sql(n_rounds: int) -> str:
    parts = [
        """d AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem)""",
        """s AS (SELECT p, COUNT(*) AS support FROM d GROUP BY p)""",
        """r AS (
  SELECT o, p,
         ROW_NUMBER() OVER (PARTITION BY o ORDER BY support DESC, p ASC)
           AS rk
  FROM d JOIN s USING (p)
)""",
        """top AS (SELECT o, p FROM r WHERE rk <= 5)""",
        """pairs AS (
  SELECT DISTINCT a.p AS src, b.p AS dst
  FROM top a JOIN top b ON a.o = b.o AND a.p < b.p
)""",
        """ew AS (
  SELECT src, dst, 1 + ((src + dst) % 5) AS w FROM (
    SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs)
)""",
        """d0 AS (
  SELECT node, CAST(0 AS BIGINT) AS dist
  FROM (SELECT MIN(src) AS node FROM ew)
)""",
    ]
    for r in range(1, n_rounds + 1):
        parts.append(f"""d{r} AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d{r - 1}
    UNION ALL
    SELECT e.dst AS node, x.dist + e.w AS dist
    FROM d{r - 1} x JOIN ew e ON x.node = e.src
  ) GROUP BY node
)""")
    return (
        "WITH "
        + ",".join(parts)
        + f"\nSELECT node, CAST(dist AS BIGINT) AS dist FROM d{n_rounds}"
    )


ORACLES["g6_sssp"] = _g6_sssp_sql(4)
QUERIES["g6_sssp"] = L.g6_sssp


# st13 — the streamed growing-index pair set equals the batch LSH run
# (split-invariance argument in the operator docstring), so the oracle
# is d3's exact-Jaccard formulation, unchanged.
ORACLES["st13_stream_growing_dedup"] = ORACLES["d3_dedup_minhash"]
QUERIES["st13_stream_growing_dedup"] = L.st13_stream_growing_dedup


# x15 — greedy k-center, 8 rounds unrolled. Same quantization/distance
# algebra as s9; selected rows leave the pool each round, and the
# radius curve is part of the checked surface.
def _x15_kcenter_sql(k: int, scale: int) -> str:
    dist = (
        "CAST(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[]))"
        " - 2 * list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
        " + list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
        " AS BIGINT)"
    )
    parts = [
        f"""q AS MATERIALIZED (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * {scale}) AS BIGINT)) AS qv
  FROM embeddings
)""",
        """s1 AS MATERIALIZED (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 1)""",
        f"""m1 AS MATERIALIZED (
  SELECT q.vec_id, q.qv,
         {dist.format(a='q.qv', b='s.qv')} AS md
  FROM q, s1 s
  WHERE q.vec_id <> (SELECT vec_id FROM s1)
)""",
    ]
    for step in range(2, k + 1):
        parts.append(
            f"""p{step} AS MATERIALIZED (
  SELECT vec_id, qv, md FROM m{step - 1}
  ORDER BY md DESC, vec_id ASC LIMIT 1
)"""
        )
        if step < k:
            parts.append(
                f"""m{step} AS MATERIALIZED (
  SELECT m.vec_id, m.qv,
         LEAST(m.md, {dist.format(a='m.qv', b='p.qv')}) AS md
  FROM m{step - 1} m, p{step} p
  WHERE m.vec_id <> (SELECT vec_id FROM p{step})
)"""
            )
    finals = [
        "SELECT CAST(1 AS INTEGER) AS step, vec_id,"
        " CAST(0 AS BIGINT) AS radius_q FROM s1"
    ] + [
        f"SELECT CAST({s} AS INTEGER) AS step, vec_id,"
        f" CAST(md AS BIGINT) AS radius_q FROM p{s}"
        for s in range(2, k + 1)
    ]
    return "WITH " + ",".join(parts) + "\n" + "\nUNION ALL\n".join(finals)


ORACLES["x15_kcenter_coreset"] = _x15_kcenter_sql(8, 1000)
QUERIES["x15_kcenter_coreset"] = L.x15_kcenter_coreset


# s10 — hybrid dense+lexical RRF. Reuses s1's cosine algebra and t26's
# inverted-index Jaccard algebra verbatim (both independently proven),
# fused with exact integer division so the ensemble replays bit for bit.
ORACLES["s10_hybrid_rrf"] = r"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 3
),
cscored AS (
  SELECT query_id, e.vec_id AS item_id,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), qv)
           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                    CAST(e.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(qv, qv))) AS score
  FROM embeddings e, q
  WHERE e.vec_id != query_id
),
rv AS (
  SELECT query_id, item_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, item_id ASC) AS r
  FROM cscored
),
va AS (SELECT query_id, item_id, r FROM rv WHERE r <= 20),
grams AS (
  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') ws
        FROM documents) t,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(ws)-2, 0)))
                AS i) u
),
sizes AS (SELECT doc_id, COUNT(*) n FROM grams GROUP BY 1),
inter AS (
  SELECT q.doc_id AS query_id, c.doc_id AS item_id, COUNT(*) AS inter
  FROM grams q JOIN grams c ON q.g = c.g
  WHERE q.doc_id IN (0, 1, 2) AND c.doc_id <> q.doc_id
  GROUP BY 1, 2
),
jscored AS (
  SELECT query_id, item_id,
         CAST(inter * 1000000 // (sq.n + si.n - inter) AS BIGINT)
           AS jaccard_ppm
  FROM inter
  JOIN sizes sq ON sq.doc_id = query_id
  JOIN sizes si ON si.doc_id = item_id
),
rl AS (
  SELECT query_id, item_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY jaccard_ppm DESC, item_id ASC) AS r
  FROM jscored
),
vb AS (SELECT query_id, item_id, r FROM rl WHERE r <= 20),
fused AS (
  SELECT COALESCE(va.query_id, vb.query_id) AS query_id,
         COALESCE(va.item_id, vb.item_id) AS item_id,
         COALESCE(1000000000 // (60 + va.r), 0)
           + COALESCE(1000000000 // (60 + vb.r), 0) AS rrf_score
  FROM va FULL OUTER JOIN vb
    ON va.query_id = vb.query_id AND va.item_id = vb.item_id
)
SELECT query_id, item_id, CAST(rrf_score AS BIGINT) AS rrf_score,
       CAST(rank AS INTEGER) AS rank
FROM (
  SELECT query_id, item_id, rrf_score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rrf_score DESC, item_id ASC) AS rank
  FROM fused)
WHERE rank <= 10
"""
QUERIES["s10_hybrid_rrf"] = L.s10_hybrid_rrf

# g7 — local clustering coefficient: triangles recounted with the
# direct a<b<c triple join (orientation-invisibility, the g3 proof),
# degrees one hash-agg over the same pairs, and the identical
# decimal-widened floor division. DuckDB's // on the small sf0.01
# counts needs no widening (the Spark side widens for 100 TB hubs).
ORACLES["g7_clustering_coeff"] = f"""
WITH {_CAPPED_BASKETS_SQL},
pairs AS (
  SELECT DISTINCT a.p AS p1, b.p AS p2
  FROM top a JOIN top b ON a.o = b.o AND a.p < b.p
),
tri AS (
  SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
  FROM pairs e1
  JOIN pairs e2 ON e2.p1 = e1.p2
  JOIN pairs e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
),
tcount AS (
  SELECT node, COUNT(*) AS n_triangles
  FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  )
  GROUP BY 1
),
deg AS (
  SELECT node, COUNT(*) AS degree
  FROM (SELECT p1 AS node FROM pairs UNION ALL SELECT p2 FROM pairs)
  GROUP BY 1
)
SELECT node,
       CAST(degree AS BIGINT) AS degree,
       CAST(COALESCE(n_triangles, 0) AS BIGINT) AS n_triangles,
       CAST((COALESCE(n_triangles, 0) * 2 * 1000000)
            // (degree * (degree - 1)) AS BIGINT) AS cc_ppm
FROM deg LEFT JOIN tcount USING (node)
WHERE degree >= 2
ORDER BY cc_ppm DESC, degree DESC, node ASC
LIMIT 100
"""
QUERIES["g7_clustering_coeff"] = L.g7_clustering_coeff


# s11 — Matryoshka truncated-dim ANN: the s2/s3/s5/s8 exact-companion
# contract (exact top-k + literal TRUE recall envelope; the ANN tier's
# recall is measured engine-side against the same exact frame).
ORACLES["s11_matryoshka_topk"] = ORACLES["s8_sq8_topk"]
QUERIES["s11_matryoshka_topk"] = L.s11_matryoshka_topk


# s12 — NN-Descent k-NN graph build: deterministic id-modulo bucket
# init + unrolled neighbors-of-neighbors rounds on the d25 integer
# grid; every top-k cut is row_number over (dist_q, id). The engine
# replays the identical algebra with per-node windows and equi-joins.
def _s12_nn_descent_sql(
    k: int, n_rounds: int, scale: int, init: str = "hash2"
) -> str:
    dist = (
        "CAST(list_dot_product(CAST(qa.qv AS DOUBLE[]), CAST(qa.qv AS DOUBLE[]))"
        " - 2 * list_dot_product(CAST(qa.qv AS DOUBLE[]), CAST(qb.qv AS DOUBLE[]))"
        " + list_dot_product(CAST(qb.qv AS DOUBLE[]), CAST(qb.qv AS DOUBLE[]))"
        " AS BIGINT)"
    )
    parts = [f"""q AS (
  SELECT vec_id AS node,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * {scale}) AS BIGINT)) AS qv
  FROM embeddings
)""", f"""nb AS (
  SELECT CAST(greatest(1, (count(*) + {k}) // {k + 1}) AS BIGINT) AS b FROM q
)"""]
    hash_pairs = """
  SELECT qa.node, qb.node AS nbr_id
  FROM q qa JOIN q qb
    ON (qa.node % (SELECT b FROM nb) = qb.node % (SELECT b FROM nb)
        OR (((qa.node % 2147483647) * 2654435761) % 2147483647)
             % (SELECT b FROM nb)
           = (((qb.node % 2147483647) * 2654435761) % 2147483647)
             % (SELECT b FROM nb))
   AND qa.node <> qb.node"""
    if init == "lsh":
        # the r14 locality-aware init: two salted sign-LSH families
        # (md5-parity ±1 planes on the integer grid — the st18 cell
        # algebra), occupancy-derived plane count, skew-capped
        # sub-buckets; the id-hash families stay as connectivity
        # insurance. Mirrors similarity.nn_descent_knn_graph init="lsh".
        cap = 4 * (k + 1)
        parts.append(f"""pl AS (
  SELECT CAST(greatest(4, ceil(log2(count(*) / {2 * (k + 1)}.0)))
         AS BIGINT) AS np
  FROM q
)""")
        parts.append("""dims AS (SELECT unnest(range(64)) AS j)""")
        parts.append(
            """planes AS (SELECT unnest(range((SELECT np FROM pl))) AS p)"""
        )
        parts.append("""lsigns AS (
  SELECT s.salt, p, j,
    CASE WHEN CAST(('0x' || left(md5(s.salt || CAST(p AS VARCHAR) || ':'
                                  || CAST(j AS VARCHAR)), 2))
              AS INTEGER) % 2 = 1
         THEN 1 ELSE -1 END AS sg
  FROM planes CROSS JOIN dims
       CROSS JOIN (SELECT unnest(['a', 'b']) AS salt) s
)""")
        parts.append("""qd AS (
  SELECT node, j, qv[j + 1] AS qj FROM q CROSS JOIN dims
)""")
        parts.append("""ldots AS (
  SELECT salt, node, p, sum(sg * qj) AS dot
  FROM qd JOIN lsigns USING (j) GROUP BY salt, node, p
)""")
        parts.append("""lcell AS (
  SELECT salt, node,
         sum(CASE WHEN dot >= 0 THEN 1 << p ELSE 0 END) AS cell
  FROM ldots GROUP BY salt, node
)""")
        parts.append("""locc AS (
  SELECT salt, cell, count(*) AS occ FROM lcell GROUP BY salt, cell
)""")
        parts.append(f"""lsub AS (
  SELECT l.salt, l.node, l.cell,
         l.node % greatest(1, (o.occ + {cap - 1}) // {cap}) AS sb
  FROM lcell l JOIN locc o ON l.salt = o.salt AND l.cell = o.cell
)""")
        lsh_pairs = """
  UNION ALL
  SELECT a.node, b.node AS nbr_id
  FROM lsub a JOIN lsub b
    ON a.salt = b.salt AND a.cell = b.cell AND a.sb = b.sb
   AND a.node <> b.node"""
    else:
        lsh_pairs = ""
    parts.append(f"""p0 AS (
  -- init: overlapping bucket families (one alone is disjoint
  -- cliques, closed under neighbor-of-neighbor — degenerate);
  -- DISTINCT so a pair in several families feeds row_number once
  SELECT DISTINCT node, nbr_id FROM ({hash_pairs}{lsh_pairs})
)""")
    parts += [f"""f0 AS (
  SELECT node, nbr_id, dist_q FROM (
    SELECT p.node, p.nbr_id, {dist} AS dist_q,
           row_number() OVER (PARTITION BY p.node
                              ORDER BY {dist} ASC, p.nbr_id ASC) AS rk
    FROM p0 p JOIN q qa ON qa.node = p.node
              JOIN q qb ON qb.node = p.nbr_id
  ) WHERE rk <= {k}
)"""]
    prev = "f0"
    for r in range(1, n_rounds + 1):
        parts.append(f"""rev{r} AS (
  SELECT node, nbr_id, dist_q FROM (
    SELECT f.nbr_id AS node, f.node AS nbr_id, f.dist_q,
           row_number() OVER (PARTITION BY f.nbr_id
                              ORDER BY f.dist_q ASC, f.node ASC) AS rk
    FROM {prev} f) WHERE rk <= {k}
)""")
        parts.append(f"""b{r} AS (
  SELECT DISTINCT node, nbr_id FROM (
    SELECT node, nbr_id FROM {prev}
    UNION ALL SELECT node, nbr_id FROM rev{r})
)""")
        parts.append(f"""cand{r} AS (
  SELECT DISTINCT x.node, y.nbr_id
  FROM b{r} x JOIN b{r} y ON x.nbr_id = y.node
  WHERE x.node <> y.nbr_id
)""")
        parts.append(f"""sc{r} AS (
  SELECT node, nbr_id, min(dist_q) AS dist_q FROM (
    SELECT c.node, c.nbr_id, {dist} AS dist_q
    FROM cand{r} c JOIN q qa ON qa.node = c.node
                   JOIN q qb ON qb.node = c.nbr_id
    UNION ALL SELECT node, nbr_id, dist_q FROM {prev}
  ) GROUP BY node, nbr_id
)""")
        parts.append(f"""f{r} AS (
  SELECT node, nbr_id, dist_q FROM (
    SELECT node, nbr_id, dist_q,
           row_number() OVER (PARTITION BY node
                              ORDER BY dist_q ASC, nbr_id ASC) AS rk
    FROM sc{r}) WHERE rk <= {k}
)""")
        prev = f"f{r}"
    final = f"""
SELECT node AS vec_id, nbr_id, dist_q, CAST(rk AS INTEGER) AS rank
FROM (
  SELECT node, nbr_id, dist_q,
         row_number() OVER (PARTITION BY node
                            ORDER BY dist_q ASC, nbr_id ASC) AS rk
  FROM {prev})
"""
    return "WITH " + ",".join(parts) + final


ORACLES["s12_nn_descent"] = _s12_nn_descent_sql(5, 2, 1000, init="lsh")
QUERIES["s12_nn_descent"] = L.s12_nn_descent


# d29 — robust winnowing (MOSS): positional 4-grams, rightmost-min hash
# per 4-window via the key = md5 || lpad(99999999 - pos) trick (a plain
# windowed MIN encodes the paper's tiebreak), then set-intersection
# pairing with exact containment ppm. Mirrors operators/text.py
# winnow_fingerprints/winnow_pairs clause by clause.
def _d29_winnow_sql(k: int, w: int, min_shared: int) -> str:
    lastw = k - 1  # ws[i] .. ws[i + k - 1]
    gram = " || ' ' || ".join(
        f"ws[i+{j}]" if j else "ws[i]" for j in range(k)
    )
    return f"""
WITH pg AS (
  SELECT doc_id, i - 1 AS pos, {gram} AS g
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') ws
        FROM documents) t,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(ws)-{lastw}, 0))) AS i) u
),
kq AS (
  SELECT doc_id, pos,
         md5(g) || lpad(CAST(99999999 - pos AS VARCHAR), 8, '0') AS key
  FROM pg
),
wmin AS (
  SELECT doc_id, pos,
         min(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW) AS wk
  FROM kq
),
fps AS (
  SELECT DISTINCT doc_id, substr(wk, 1, 32) AS fp_hash
  FROM wmin WHERE pos >= {w - 1}
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) n_fp FROM fps GROUP BY 1),
pairs AS (
  SELECT a.doc_id id_a, b.doc_id id_b, CAST(COUNT(*) AS BIGINT) n_shared
  FROM fps a JOIN fps b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_shared, sa.n_fp AS fp_a, sb.n_fp AS fp_b,
       CAST(n_shared * 1000000 // least(sa.n_fp, sb.n_fp) AS BIGINT)
         AS overlap_ppm
FROM pairs
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_shared >= {min_shared}
"""


ORACLES["d29_winnow_pairs"] = _d29_winnow_sql(4, 4, 3)
QUERIES["d29_winnow_pairs"] = L.d29_winnow_pairs


# s13 — simplified silhouette over the s9/d25 Lloyd trajectory: the
# same unrolled CTE chain (_S9_PARTS), then per-vector a = argmin dist
# (the packed key's quotient), b = min dist over the other centroids,
# (b-a)*1000 floor-div max(b,1) per point, summed per cluster. Mirrors
# operators/similarity.py kmeans_silhouette clause by clause.
def _s13_silhouette_sql(k: int, n_rounds: int, dim: int, scale: int) -> str:
    if (k, n_rounds, dim, scale) not in _S9_PARTS:
        _s9_kmeans_sql(k, n_rounds, dim, scale)
    parts, prev, pack = _S9_PARTS[(k, n_rounds, dim, scale)]
    rest = f""",
dm AS (
  SELECT q.vec_id, c.cid,
         CAST(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
            - 2 * list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(c.cv AS DOUBLE[]))
            + list_dot_product(CAST(c.cv AS DOUBLE[]), CAST(c.cv AS DOUBLE[]))
           AS BIGINT) AS dist
  FROM q, {prev} c
),
f AS (
  SELECT vec_id, min(dist * {pack} + cid) AS key FROM dm GROUP BY vec_id
),
bb AS (
  SELECT dm.vec_id, min(dm.dist) AS b
  FROM dm JOIN f ON dm.vec_id = f.vec_id
       AND dm.cid <> CAST(f.key % {pack} AS INTEGER)
  GROUP BY dm.vec_id
),
s AS (
  SELECT CAST(f.key % {pack} AS INTEGER) AS cluster,
         ((bb.b - f.key // {pack}) * 1000) // greatest(bb.b, 1) AS sil
  FROM f JOIN bb USING (vec_id)
)
SELECT cluster, CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(sil) AS BIGINT) AS sum_sil_milli,
       CAST(CAST(sum(sil) AS BIGINT) // count(*) AS BIGINT) AS mean_sil_milli
FROM s GROUP BY cluster
"""
    return "WITH " + ",".join(parts) + rest


ORACLES["s13_silhouette"] = _s13_silhouette_sql(8, 3, 64, 1000)
QUERIES["s13_silhouette"] = L.s13_silhouette


# q113 — order-invariant partition manifest: t32's portable md5-prefix
# hash per row, commutative sum/xor folds per month. Mirrors
# operators/relational.py partition_manifest.
ORACLES["q113_partition_manifest"] = """
WITH h AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
         CAST(('0x' || left(md5(
             CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)
             || '|' || o_orderstatus || '|' || strftime(o_orderdate, '%Y-%m-%d')
             || '|' || o_orderpriority), 8)) AS UBIGINT) AS rh
  FROM orders
)
-- sum channel contract: exact HUGEINT sum reduced mod 2^64 into
-- signed-bigint range (matches the engine's decimal fold + wrap)
SELECT order_month, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(CASE WHEN sum(rh) % 18446744073709551616::HUGEINT
                      >= 9223372036854775808::HUGEINT
             THEN sum(rh) % 18446744073709551616::HUGEINT
                  - 18446744073709551616::HUGEINT
             ELSE sum(rh) % 18446744073709551616::HUGEINT END
            AS BIGINT) AS hash_sum,
       CAST(bit_xor(rh) AS BIGINT) AS hash_xor
FROM h GROUP BY 1
"""
QUERIES["q113_partition_manifest"] = R.q113_partition_manifest


# st15 — streaming manifest maintenance: all three channels are
# commutative monoids (sum, sum, xor), so the streamed fold equals the
# batch manifest — the oracle IS q113's full-table recompute.
ORACLES["st15_stream_manifest"] = ORACLES["q113_partition_manifest"]
QUERIES["st15_stream_manifest"] = L.st15_stream_manifest


# t38 — BM25 with the exact rational RSJ odds idf (no transcendental
# log -> bit-for-bit cross-engine). Same tokenization as t32, the t15
# census cut as the query, HUGEINT-widened numerator. Mirrors
# operators/text.py bm25_topk clause by clause.
ORACLES["t38_bm25"] = """
WITH tk AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents
),
tk2 AS (SELECT doc_id, tok FROM tk WHERE tok <> ''),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) dl FROM tk2 GROUP BY 1),
terms AS (
  SELECT tok FROM (SELECT tok, count(*) freq FROM tk2 GROUP BY 1)
  ORDER BY freq DESC, tok ASC LIMIT 5
),
tf AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) tf
  FROM tk2 JOIN terms USING (tok) GROUP BY 1, 2
),
dfq AS (SELECT tok, CAST(count(*) AS BIGINT) df_t FROM tf GROUP BY 1),
scal AS (
  SELECT CAST(count(*) AS BIGINT) n_docs,
         (1000 * CAST(sum(dl) AS BIGINT)) // count(*) AS avgdl_milli
  FROM dl
),
sc AS (
  SELECT tf.doc_id,
         CAST(CAST((s.n_docs - d.df_t) * 1000000 // d.df_t AS HUGEINT)
              * 44 * tf.tf * s.avgdl_milli
              // (20 * tf.tf * s.avgdl_milli + 6 * s.avgdl_milli
                  + 18 * dl.dl * 1000) AS BIGINT) AS contrib
  FROM tf JOIN dl USING (doc_id) JOIN dfq d USING (tok) CROSS JOIN scal s
),
agg AS (
  SELECT doc_id, CAST(sum(contrib) AS BIGINT) score_ppm,
         CAST(count(*) AS BIGINT) n_terms_hit
  FROM sc GROUP BY 1
)
SELECT doc_id, score_ppm, n_terms_hit,
       CAST(row_number() OVER (ORDER BY score_ppm DESC, doc_id ASC)
            AS INTEGER) AS rank
FROM agg ORDER BY score_ppm DESC, doc_id ASC LIMIT 10
"""
QUERIES["t38_bm25"] = L.t38_bm25


# x17 — rendezvous (HRW) sharding at n=8 and n=9 with the moved flag:
# the same md5(s:id) || lpad(s,4) max-key argmax, decoded from the
# suffix. Mirrors operators/mixing.py rendezvous_shard_col.
ORACLES["x17_rendezvous_shards"] = """
WITH w8 AS (
  SELECT doc_id,
         max(md5(CAST(s AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR))
             || lpad(CAST(s AS VARCHAR), 4, '0')) AS k
  FROM documents, LATERAL (SELECT unnest(range(8)) AS s) u
  GROUP BY doc_id
),
w9 AS (
  SELECT doc_id,
         max(md5(CAST(s AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR))
             || lpad(CAST(s AS VARCHAR), 4, '0')) AS k
  FROM documents, LATERAL (SELECT unnest(range(9)) AS s) u
  GROUP BY doc_id
)
SELECT w8.doc_id,
       CAST(right(w8.k, 4) AS INTEGER) AS shard_8,
       CAST(right(w9.k, 4) AS INTEGER) AS shard_9,
       CAST(CAST(right(w8.k, 4) AS INTEGER)
            <> CAST(right(w9.k, 4) AS INTEGER) AS INTEGER) AS moved
FROM w8 JOIN w9 USING (doc_id)
"""
QUERIES["x17_rendezvous_shards"] = L.x17_rendezvous_shards


# s14 — power iteration on s7's Gram, unrolled in HUGEINT (the g1/t22
# iterative contract): v0 = ones * scale, each round w = G v, then
# v = floor(w * scale / max|w|) via the pmod identity (signs exact).
# Mirrors operators/similarity.py power_iteration_projection.
def _s14_power_sql(n_rounds: int, dim: int, scale: int) -> str:
    parts = [
        f"""e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
)""",
        f"""q AS (
  SELECT vec_id, i, CAST(floor(v[i] * {scale}) AS BIGINT) AS qi
  FROM e, LATERAL (SELECT unnest(generate_series(1, {dim})) AS i) t
)""",
        """g AS (
  SELECT a.i AS gi, b.i AS gj, CAST(SUM(a.qi * b.qi) AS HUGEINT) AS val
  FROM q a JOIN q b ON a.vec_id = b.vec_id GROUP BY 1, 2
)""",
        f"""v0 AS (
  SELECT unnest(generate_series(1, {dim})) AS i,
         CAST({scale} AS HUGEINT) AS v
)""",
    ]
    prev = "v0"
    for r in range(1, n_rounds + 1):
        parts.append(f"""
w{r} AS (
  SELECT g.gi AS i, SUM(g.val * p.v) AS w
  FROM g JOIN {prev} p ON p.i = g.gj GROUP BY 1
)""")
        parts.append(f"""
m{r} AS (SELECT greatest(max(abs(w)), 1) AS m FROM w{r})""")
        parts.append(f"""
v{r} AS (
  SELECT i, ((w * {scale}) - (((w * {scale}) % m + m) % m)) // m AS v
  FROM w{r}, m{r}
)""")
        prev = f"v{r}"
    final = f"""
SELECT q.vec_id, CAST(SUM(q.qi * p.v) AS BIGINT) AS proj_q
FROM q JOIN {prev} p ON p.i = q.i
GROUP BY 1
"""
    return "WITH " + ",".join(parts) + final


ORACLES["s14_power_iteration"] = _s14_power_sql(3, 64, 1_000_000)
QUERIES["s14_power_iteration"] = L.s14_power_iteration


# s21 — anisotropy profile: the SAME trajectory CTE chain as s14 (the
# shared-direction contract), final select emits per-vector norm, dot,
# and the decimal/HUGEINT energy-fraction ppm. Mirrors
# operators/similarity.py anisotropy_profile.
def _s21_anisotropy_sql(n_rounds: int, dim: int, scale: int) -> str:
    base = _s14_power_sql(n_rounds, dim, scale)
    final_marker = "\nSELECT q.vec_id, CAST(SUM(q.qi * p.v) AS BIGINT) AS proj_q"
    head = base[: base.index(final_marker)]
    return head + f""",
u2 AS (SELECT SUM(v * v) AS u2 FROM v{n_rounds}),
prof AS (
  SELECT q.vec_id,
         CAST(SUM(q.qi * q.qi) AS HUGEINT) AS n2,
         CAST(SUM(q.qi * p.v) AS HUGEINT) AS dot_u
  FROM q JOIN v{n_rounds} p ON p.i = q.i
  GROUP BY 1
)
SELECT vec_id,
       CAST(n2 AS BIGINT) AS n2_q,
       CAST(dot_u AS BIGINT) AS dot_u,
       CAST(CASE WHEN n2 = 0 OR u2.u2 = 0 THEN 0
            ELSE (dot_u * dot_u * 1000000) // (n2 * u2.u2) END
            AS BIGINT) AS top_dir_ppm
FROM prof CROSS JOIN u2
"""


ORACLES["s21_anisotropy_profile"] = _s21_anisotropy_sql(3, 64, 1_000_000)
QUERIES["s21_anisotropy_profile"] = L.s21_anisotropy_profile


# c11 — SSL-prototypes pruning: the s9/d25 trajectory (same _S9_PARTS
# chain), then a per-cluster (dist_q, vec_id) rank and the exact ceil
# quota (n*keep_num + keep_den - 1) // keep_den. Mirrors
# operators/dedup.py prototype_pruning.
def _c11_prototype_sql(k: int, n_rounds: int, dim: int, scale: int,
                       keep_num: int, keep_den: int) -> str:
    if (k, n_rounds, dim, scale) not in _S9_PARTS:
        _s9_kmeans_sql(k, n_rounds, dim, scale)
    parts, prev, pack = _S9_PARTS[(k, n_rounds, dim, scale)]
    rest = f""",
fin AS (
  SELECT vec_id,
         CAST(key % {pack} AS INTEGER) AS cluster,
         key // {pack} AS dist_q
  FROM (
    SELECT q.vec_id, min(
             CAST(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
                - 2 * list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(c.cv AS DOUBLE[]))
                + list_dot_product(CAST(c.cv AS DOUBLE[]), CAST(c.cv AS DOUBLE[]))
               AS BIGINT) * {pack} + cid) AS key
    FROM q, {prev} c
    GROUP BY q.vec_id)
),
sz AS (SELECT cluster, CAST(count(*) AS BIGINT) n FROM fin GROUP BY 1),
rk AS (
  SELECT vec_id, cluster, dist_q,
         CAST(row_number() OVER (PARTITION BY cluster
                                 ORDER BY dist_q ASC, vec_id ASC)
              AS BIGINT) AS rank_in_cluster
  FROM fin
)
SELECT rk.vec_id, rk.cluster, rk.dist_q, rk.rank_in_cluster,
       CAST(rk.rank_in_cluster
            <= (sz.n * {keep_num} + {keep_den} - 1) // {keep_den}
            AS INTEGER) AS kept
FROM rk JOIN sz USING (cluster)
"""
    return "WITH " + ",".join(parts) + rest


ORACLES["c11_prototype_pruning"] = _c11_prototype_sql(8, 3, 64, 1000, 7, 10)
QUERIES["c11_prototype_pruning"] = L.c11_prototype_pruning


# c12 — threshold sweep: d28's quantization + exact BIGINT dot, the
# rational crossing per tau in HUGEINT, label blocks as ground truth;
# the LSH recall envelope is TRUE on the oracle side (the d19-family
# contract). Mirrors operators/dedup.py lsh_threshold_sweep.
ORACLES["c12_lsh_threshold_sweep"] = """
WITH qe AS (
  SELECT vec_id, label,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * 1000) AS BIGINT)) AS qv
  FROM embeddings
),
qn AS (
  SELECT vec_id, label, qv,
         CAST(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[]))
              AS BIGINT) AS n2
  FROM qe
),
p AS (
  SELECT a.vec_id id_a, b.vec_id id_b, a.n2 n2a, b.n2 n2b, d.dot
  FROM qn a JOIN qn b ON a.label = b.label AND a.vec_id < b.vec_id
  JOIN LATERAL (
    SELECT CAST(list_dot_product(CAST(a.qv AS DOUBLE[]),
                                 CAST(b.qv AS DOUBLE[])) AS BIGINT) AS dot
  ) d ON TRUE
),
taus AS (SELECT unnest([7, 9, 11, 13]) AS tau_twentieths)
SELECT t.tau_twentieths,
       CAST(count_if(
         p.n2a > 0 AND p.n2b > 0 AND p.dot >= 0
         AND 400 * (CAST(p.dot AS HUGEINT) * CAST(p.dot AS HUGEINT))
             >= t.tau_twentieths * t.tau_twentieths
                * (CAST(p.n2a AS HUGEINT) * CAST(p.n2b AS HUGEINT))
       ) AS BIGINT) AS n_pairs_exact,
       TRUE AS lsh_recall_ok
FROM taus t LEFT JOIN p ON TRUE
GROUP BY 1
"""
QUERIES["c12_lsh_threshold_sweep"] = L.c12_lsh_threshold_sweep


# t39 — greedy decode: the best-continuation table is a plain agg
# (min over lpad(1e9-cnt) || w2 — aggregates are NOT allowed in a
# recursive term, which is why the argmax is precomputed), then the
# chain is a pure-lookup recursive CTE. Mirrors
# operators/text.py greedy_decode.
ORACLES["t39_greedy_decode"] = """
WITH RECURSIVE ws AS (
  SELECT string_split_regex(trim(text), '\\s+') AS w FROM documents
),
toks AS (
  SELECT unnest(w) AS token FROM ws
  WHERE len(w) >= 1 AND w[1] <> ''
),
big AS (
  SELECT w[i] AS w1, w[i+1] AS w2, count(*) AS cnt
  FROM ws, LATERAL (SELECT unnest(generate_series(1, greatest(len(w)-1, 0))) AS i) u
  GROUP BY 1, 2
),
bn AS (
  SELECT w1,
         substr(min(lpad(CAST(1000000000 - cnt AS VARCHAR), 10, '0') || w2),
                11) AS nxt
  FROM big GROUP BY 1
),
seed AS (
  SELECT token FROM (SELECT token, count(*) c FROM toks GROUP BY 1)
  ORDER BY c DESC, token ASC LIMIT 1
),
chain AS (
  SELECT 0 AS step, token FROM seed
  UNION ALL
  SELECT c.step + 1, b.nxt FROM chain c JOIN bn b ON b.w1 = c.token
  WHERE c.step < 19
)
SELECT CAST(step AS INTEGER) AS step, token FROM chain
"""
QUERIES["t39_greedy_decode"] = L.t39_greedy_decode


# s15 — late interaction: the same 4 x 16 milli-grid slices, dot per
# (doc-slice, query-slice), max per query slice, sum, per-query rank.
# Mirrors operators/similarity.py late_interaction_topk.
ORACLES["s15_late_interaction"] = """
WITH q AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * 1000) AS BIGINT)) AS qv
  FROM embeddings
),
dsl AS (
  SELECT vec_id AS item_id, s AS d_slice, qv[s*16+1 : s*16+16] AS dv
  FROM q, LATERAL (SELECT unnest(generate_series(0, 3)) AS s) u
),
qsl AS (
  SELECT vec_id AS query_id, s AS q_slice, qv[s*16+1 : s*16+16] AS qsv
  FROM q, LATERAL (SELECT unnest(generate_series(0, 3)) AS s) u
  WHERE vec_id < 5
),
dots AS (
  SELECT qsl.query_id, dsl.item_id, qsl.q_slice,
         max(CAST(list_dot_product(CAST(dsl.dv AS DOUBLE[]),
                                   CAST(qsl.qsv AS DOUBLE[]))
                  AS BIGINT)) AS maxdot
  FROM dsl CROSS JOIN qsl
  GROUP BY 1, 2, 3
),
sc AS (
  SELECT query_id, item_id, CAST(SUM(maxdot) AS BIGINT) AS maxsim_q
  FROM dots GROUP BY 1, 2
)
SELECT query_id, item_id, maxsim_q, rank FROM (
  SELECT query_id, item_id, maxsim_q,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY maxsim_q DESC, item_id ASC)
              AS INTEGER) AS rank
  FROM sc)
WHERE rank <= 10
"""
QUERIES["s15_late_interaction"] = L.s15_late_interaction


# q114 — event transition matrix: same lead window (total order
# ts, event_id), pair counts, ppm over the row total. Mirrors
# operators/relational.py event_transitions.
ORACLES["q114_event_transitions"] = """
WITH s AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
),
c AS (
  SELECT event_type, next_type, CAST(count(*) AS BIGINT) n_trans
  FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2
),
t AS (SELECT event_type, CAST(sum(n_trans) AS BIGINT) tot FROM c GROUP BY 1)
SELECT c.event_type, c.next_type, c.n_trans,
       CAST(c.n_trans * 1000000 // t.tot AS BIGINT) AS p_ppm
FROM c JOIN t USING (event_type)
"""
QUERIES["q114_event_transitions"] = R.q114_event_transitions


# t40 — lang-ID confusion matrix vs the gold lang column: t3's scorer
# CTE verbatim, then counts / row-share ppm / correctness. Mirrors
# plans/queries_llm.py t40_langid_eval.
ORACLES["t40_langid_eval"] = """
WITH s AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), w -> w IN ('the','and','of','a'))) AS BIGINT) AS score_en,
         CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), w -> w IN ('el','la','de','que'))) AS BIGINT) AS score_es,
         CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), w -> w IN ('der','die','und','das'))) AS BIGINT) AS score_de,
         CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), w -> w IN ('le','la','et','les'))) AS BIGINT) AS score_fr
  FROM documents
),
p AS (
  SELECT doc_id,
         CASE WHEN greatest(score_en, score_es, score_de, score_fr) <= 0 THEN 'unknown'
              WHEN score_en = greatest(score_en, score_es, score_de, score_fr) THEN 'en'
              WHEN score_es = greatest(score_en, score_es, score_de, score_fr) THEN 'es'
              WHEN score_de = greatest(score_en, score_es, score_de, score_fr) THEN 'de'
              ELSE 'fr' END AS lang_pred
  FROM s
),
c AS (
  SELECT d.lang, p.lang_pred, CAST(count(*) AS BIGINT) n_docs
  FROM documents d JOIN p USING (doc_id) GROUP BY 1, 2
),
t AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) tot FROM c GROUP BY 1)
SELECT c.lang, c.lang_pred, c.n_docs,
       CAST(c.n_docs * 1000000 // t.tot AS BIGINT) AS share_ppm,
       CAST(c.lang = c.lang_pred AS INTEGER) AS is_correct
FROM c JOIN t USING (lang)
"""
QUERIES["t40_langid_eval"] = L.t40_langid_eval


# s16 — graph-ANN serving over the s12 NN-Descent index: engine-specific
# walk, so the emitted surface is the s2 contract (exact top-k rows +
# recall envelope TRUE) — the oracle is byte-identical to s2's.
# CALIBRATION: the TRUE envelope is pinned at the driver's sf0.01
# (recall@10 measured 0.88 vs envelope 0.5 there; fixed n_entries/
# n_hops means reachable coverage DECAYS with corpus size — see the
# scale measurement in SCALING.md). If the gate ever runs at a larger
# sf, re-derive the dials before reading a failure as an engine bug.
ORACLES["s16_graph_ann_topk"] = ORACLES["s2_lsh_topk"]
QUERIES["s16_graph_ann_topk"] = L.s16_graph_ann_topk


# s17 — filtered ANN: the emitted surface is the exact FILTERED
# brute-force top-k (the predicate replayed in SQL) + envelope TRUE.
ORACLES["s17_filtered_ann"] = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
),
scored AS (
  SELECT query_id, e.vec_id AS item_id,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), qv)
           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(qv, qv))) AS score
  FROM embeddings e, q
  WHERE e.vec_id != query_id AND e.label % 3 = 0
),
r AS (
  SELECT query_id, item_id,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, item_id ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, item_id, rank, TRUE AS recall_ok FROM r WHERE rank <= 10
"""
QUERIES["s17_filtered_ann"] = L.s17_filtered_ann


# s18 — k-NN join (every even vec_id -> top-3 among odd vec_ids): the
# emitted surface is the exact cross-corpus top-k + envelope TRUE.
# CALIBRATION: the TRUE envelope (0.6) is pinned at the driver's sf0.01
# (overall recall measured 0.833 at n_probe=8 there); occupancy-derived
# cells with a FIXED n_probe cover a shrinking cell fraction as the
# corpus grows, so recall decays with sf by design — re-derive n_probe
# (or serve from the s16 graph walk) before reading a larger-sf gate
# failure as an engine bug.
ORACLES["s18_knn_join"] = """
WITH l AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 2 = 0
),
r AS (
  SELECT vec_id AS item_id, CAST(embedding AS DOUBLE[]) AS iv
  FROM embeddings WHERE vec_id % 2 = 1
),
scored AS (
  SELECT query_id, item_id,
         list_dot_product(iv, qv)
           / (sqrt(list_dot_product(iv, iv)) * sqrt(list_dot_product(qv, qv))) AS score
  FROM l, r
),
rk AS (
  SELECT query_id, item_id,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, item_id ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, item_id, rank, TRUE AS recall_ok FROM rk WHERE rank <= 3
"""
QUERIES["s18_knn_join"] = L.s18_knn_join


# st16 — streaming exact dedup: MIN/SUM monoid fold over the content
# hash, so stream == batch; oracle recomputes from the full table.
ORACLES["st16_stream_dedup"] = """
SELECT CAST(min(doc_id) AS BIGINT) AS doc_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM documents GROUP BY md5(text)
"""
QUERIES["st16_stream_dedup"] = L.st16_stream_dedup


# x18 — hard-negative mining: band membership on the exact d25 integer
# grid, ranking by the same float cosine s1 hash-matches. The integer
# dot/norms are PURE HUGEINT list arithmetic (r13 ADVICE: the previous
# list_dot_product-over-DOUBLE[] detour was exact only below 2^53 —
# integer sums stay exact at any magnitude, matching the engine-side
# int64-envelope guard in hard_negative_topk).
ORACLES["x18_hard_negatives"] = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * 1000) AS BIGINT)) AS qq
  FROM embeddings WHERE vec_id < 5
),
it AS (
  SELECT vec_id AS item_id, CAST(embedding AS DOUBLE[]) AS iv,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * 1000) AS BIGINT)) AS iq
  FROM embeddings
),
scored AS (
  SELECT query_id, item_id,
         list_dot_product(iv, qv)
           / (sqrt(list_dot_product(iv, iv)) * sqrt(list_dot_product(qv, qv))) AS score,
         list_sum(list_transform(range(1, len(iq)+1),
                  i -> CAST(iq[i] AS HUGEINT) * qq[i])) AS d,
         list_sum(list_transform(iq, x -> CAST(x AS HUGEINT) * x)) AS n2i,
         list_sum(list_transform(qq, x -> CAST(x AS HUGEINT) * x)) AS n2q
  FROM it, q WHERE item_id != query_id
),
banded AS (
  SELECT query_id, item_id, score FROM scored
  WHERE n2i > 0 AND n2q > 0
    AND (d >= 0 AND 400 * (d * d) >= 9 * (n2i * n2q))
    AND NOT (d >= 0 AND 400 * (d * d) >= 225 * (n2i * n2q))
),
rk AS (
  SELECT query_id, item_id,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, item_id ASC) AS INTEGER) AS rank
  FROM banded
)
SELECT query_id, item_id, rank FROM rk WHERE rank <= 5
"""
QUERIES["x18_hard_negatives"] = L.x18_hard_negatives


# st17 — streaming banded-MinHash near-dup manifest: st16's min/sum
# monoid fold generalized to the d3 LSH family. The portable md5-prefix
# hash family (t32/q113) is what lets the oracle recompute the ENTIRE
# manifest — signature mins, band keys, keepers, counts — from the full
# table, instead of the envelope checks engine-specific xxhash64
# surfaces get. num_hashes=12, bands=4 (r=3 rows/band).
ORACLES["st17_stream_band_manifest"] = """
WITH grams AS (
  SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') ws FROM documents) t,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(ws)-2, 0))) AS i) u
),
salts AS (SELECT unnest(range(12)) AS k),
mh AS (
  SELECT doc_id, k,
         min(CAST(CAST(('0x' || left(md5(CAST(k AS VARCHAR) || ':' || g), 15))
                  AS UBIGINT) AS BIGINT)) AS mh
  FROM grams CROSS JOIN salts GROUP BY doc_id, k
),
band AS (
  SELECT doc_id, CAST(k // 3 AS INTEGER) AS band,
         md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY k)) AS bkey
  FROM mh GROUP BY doc_id, k // 3
)
SELECT band, bkey, CAST(min(doc_id) AS BIGINT) AS keeper_id,
       CAST(count(*) AS BIGINT) AS n_docs
FROM band GROUP BY 1, 2
"""
QUERIES["st17_stream_band_manifest"] = L.st17_stream_band_manifest


# d30 — Bloom-gated incremental dedup: the oracle rebuilds the SAME
# occupancy-sized (m = 8 bits/doc) position set with the portable
# md5-prefix hash, so bloom_positive — including the filter's
# deterministic FALSE positives — matches bit for bit; is_dup/keeper_id
# replay the verification join. The batch is the deterministic re-crawl
# mix the Spark entry constructs (%7==0 verbatim re-submit, %7==3 with
# a marker suffix).
ORACLES["d30_bloom_gated_dedup"] = """
WITH corpus AS (SELECT doc_id, text, md5(text) AS ch FROM documents),
params AS (SELECT greatest(64, 8 * count(*)) AS m FROM corpus),
batch AS (
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text || ' zq-new-ingest' AS text
  FROM documents WHERE doc_id % 7 = 3
),
salts AS (SELECT unnest(range(3)) AS i),
bloom AS (
  SELECT DISTINCT
    CAST(CAST(('0x' || left(md5(CAST(i AS VARCHAR) || ':' || ch), 15))
         AS UBIGINT) AS BIGINT) % (SELECT m FROM params) AS pos
  FROM corpus CROSS JOIN salts
),
probes AS (
  SELECT b.doc_id, md5(b.text) AS ch,
    CAST(CAST(('0x' || left(md5(CAST(i AS VARCHAR) || ':' || md5(b.text)), 15))
         AS UBIGINT) AS BIGINT) % (SELECT m FROM params) AS pos
  FROM batch b CROSS JOIN salts
),
memb AS (
  SELECT doc_id, any_value(ch) AS ch,
         bool_and(pos IN (SELECT pos FROM bloom)) AS bloom_positive
  FROM probes GROUP BY doc_id
),
keepers AS (SELECT ch, min(doc_id) AS keeper FROM corpus GROUP BY ch)
SELECT mb.doc_id,
       mb.bloom_positive,
       coalesce(mb.bloom_positive AND k.keeper IS NOT NULL, FALSE) AS is_dup,
       CAST(CASE WHEN mb.bloom_positive THEN k.keeper END AS BIGINT)
         AS keeper_id
FROM memb mb LEFT JOIN keepers k ON mb.ch = k.ch
"""
QUERIES["d30_bloom_gated_dedup"] = L.d30_bloom_gated_dedup


# st18 — streaming ANN cell-occupancy manifest: the oracle re-derives
# the SAME ±1 planes from md5 parity over (plane, dim) indices, the
# same floor(x*1000) integer grid, and recomputes the whole per-cell
# manifest from the full table; SUM(BIGINT) is HUGEINT in DuckDB, so
# every aggregate is cast back (the q03 type-skew lesson).
ORACLES["st18_stream_cell_manifest"] = """
WITH dims AS (SELECT unnest(range(64)) AS j),
planes AS (SELECT unnest(range(8)) AS p),
signs AS (
  SELECT p, j,
    CASE WHEN CAST(('0x' || left(md5(CAST(p AS VARCHAR) || ':'
                                  || CAST(j AS VARCHAR)), 2))
              AS INTEGER) % 2 = 1
         THEN 1 ELSE -1 END AS s
  FROM planes CROSS JOIN dims
),
q AS (
  SELECT vec_id, j,
         CAST(floor(CAST(embedding[j + 1] AS DOUBLE) * 1000.0) AS BIGINT)
           AS qj
  FROM embeddings CROSS JOIN dims
),
dots AS (
  SELECT vec_id, p, sum(s * qj) AS dot
  FROM q JOIN signs USING (j) GROUP BY vec_id, p
),
cells AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN dot >= 0 THEN 1 << p ELSE 0 END) AS INTEGER)
           AS cell
  FROM dots GROUP BY vec_id
),
norms AS (SELECT vec_id, sum(qj * qj) AS norm_q FROM q GROUP BY vec_id)
SELECT cell,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(min(vec_id) AS BIGINT) AS min_vec_id,
       CAST(sum(norm_q) AS BIGINT) AS mass_q
FROM cells JOIN norms USING (vec_id)
GROUP BY cell
"""
QUERIES["st18_stream_cell_manifest"] = L.st18_stream_cell_manifest


# x19 — semantic decontamination: the oracle replays the x18 integer
# band in HUGEINT (no 2^63 ceiling; the engine raises on its own
# envelope instead) and the surface is integer counts + boolean —
# hash-exact end to end, no float column anywhere.
ORACLES["x19_semantic_decontam"] = """
WITH ev AS (
  SELECT list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * 1000) AS BIGINT)) AS eq
  FROM embeddings WHERE vec_id < 20
),
tr AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * 1000) AS BIGINT)) AS tq
  FROM embeddings WHERE vec_id >= 20
),
pairs AS (
  SELECT vec_id,
         list_sum(list_transform(range(1, len(tq) + 1),
                  i -> CAST(tq[i] AS HUGEINT) * eq[i])) AS d,
         list_sum(list_transform(tq, x -> CAST(x AS HUGEINT) * x)) AS n2t,
         list_sum(list_transform(eq, x -> CAST(x AS HUGEINT) * x)) AS n2e
  FROM tr, ev
),
hits AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN n2t > 0 AND n2e > 0 AND d >= 0
                        AND 400 * (d * d) >= 49 * (n2t * n2e)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
  FROM pairs GROUP BY vec_id
)
SELECT vec_id, n_hits, n_hits > 0 AS contaminated FROM hits
"""
QUERIES["x19_semantic_decontam"] = L.x19_semantic_decontam


# c13 — Bloom sizing calibration: the oracle reprices every config with
# the same portable positions and the same floor-ppm integer division
# (`//`), so measured FPR matches bit for bit across engines.
ORACLES["c13_bloom_fpr_sweep"] = """
WITH corpus AS (SELECT doc_id, text, md5(text) AS ch FROM documents),
n AS (SELECT count(*) AS n_corpus FROM corpus),
configs AS (SELECT unnest([2, 4, 8, 16]) AS bits),
params AS (
  SELECT bits, greatest(64, bits * n_corpus) AS m FROM configs, n
),
batch AS (
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text || ' zq-new-ingest' AS text
  FROM documents WHERE doc_id % 7 = 3
),
salts AS (SELECT unnest(range(3)) AS i),
bloom AS (
  SELECT DISTINCT p.bits,
    CAST(CAST(('0x' || left(md5(CAST(i AS VARCHAR) || ':' || ch), 15))
         AS UBIGINT) AS BIGINT) % p.m AS pos
  FROM corpus CROSS JOIN salts CROSS JOIN params p
),
probes AS (
  SELECT b.doc_id, md5(b.text) AS ch, p.bits,
    CAST(CAST(('0x' || left(md5(CAST(i AS VARCHAR) || ':' || md5(b.text)), 15))
         AS UBIGINT) AS BIGINT) % p.m AS pos
  FROM batch b CROSS JOIN salts CROSS JOIN params p
),
memb AS (
  SELECT doc_id, bits, any_value(ch) AS ch,
         bool_and((bits, pos) IN (SELECT (bits, pos) FROM bloom))
           AS positive
  FROM probes GROUP BY doc_id, bits
),
truth AS (SELECT DISTINCT ch FROM corpus),
rows_ AS (
  SELECT m.bits, m.positive, (t.ch IS NOT NULL) AS dup
  FROM memb m LEFT JOIN truth t ON m.ch = t.ch
)
SELECT CAST(bits AS INTEGER) AS bits_per_doc,
       CAST(count(*) AS BIGINT) AS n_batch,
       CAST(count(*) FILTER (positive) AS BIGINT) AS n_positive,
       CAST(count(*) FILTER (dup) AS BIGINT) AS n_true_dup,
       CAST(count(*) FILTER (positive AND NOT dup) AS BIGINT)
         AS n_false_pos,
       CAST(CASE WHEN count(*) > count(*) FILTER (dup)
                 THEN (1000000 * count(*) FILTER (positive AND NOT dup))
                      // (count(*) - count(*) FILTER (dup))
                 ELSE 0 END AS BIGINT) AS fpr_ppm
FROM rows_ GROUP BY bits
"""
QUERIES["c13_bloom_fpr_sweep"] = L.c13_bloom_fpr_sweep


# s19 — routed graph-ANN serving: same s2 surface contract as s16
# (exact brute-force top-10, recall_ok pinned TRUE; envelope 0.5
# calibrated at sf0.01 where routed recall@10 measures 0.88 — the
# same calibration-scale note as s16/s18).
ORACLES["s19_routed_graph_ann"] = ORACLES["s2_lsh_topk"]
QUERIES["s19_routed_graph_ann"] = L.s19_routed_graph_ann


# st19 — streaming decontamination census: x19's pair kernel grouped by
# eval item, zeros preserved; HUGEINT replay of the integer band.
ORACLES["st19_stream_decontam_census"] = """
WITH ev AS (
  SELECT vec_id AS eval_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * 1000) AS BIGINT)) AS eq
  FROM embeddings WHERE vec_id < 20
),
tr AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * 1000) AS BIGINT)) AS tq
  FROM embeddings WHERE vec_id >= 20
),
pairs AS (
  SELECT eval_id,
         list_sum(list_transform(range(1, len(tq) + 1),
                  i -> CAST(tq[i] AS HUGEINT) * eq[i])) AS d,
         list_sum(list_transform(tq, x -> CAST(x AS HUGEINT) * x)) AS n2t,
         list_sum(list_transform(eq, x -> CAST(x AS HUGEINT) * x)) AS n2e
  FROM tr, ev
),
hits AS (
  SELECT eval_id, count(*) AS n_hits
  FROM pairs
  WHERE n2t > 0 AND n2e > 0 AND d >= 0
    AND 400 * (d * d) >= 49 * (n2t * n2e)
  GROUP BY eval_id
)
SELECT e.eval_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits
FROM ev e LEFT JOIN hits h ON e.eval_id = h.eval_id
"""
QUERIES["st19_stream_decontam_census"] = L.st19_stream_decontam_census


# --- r15 additions --------------------------------------------------------------

# x20 — the O(1) hash-threshold cap tier: the kept SET is a pure
# function of (id, per-source count), so the oracle replays it exactly.
ORACLES["x20_domain_cap_approx"] = """
WITH cnt AS (SELECT source, COUNT(*) AS _n FROM documents GROUP BY source)
SELECT d.doc_id, d.source,
       CAST((d.doc_id * 2654435761) % 1048576 AS BIGINT) AS priority
FROM documents d JOIN cnt USING (source)
WHERE (d.doc_id * 2654435761) % 1048576 * _n < 15 * 1048576
"""
QUERIES["x20_domain_cap_approx"] = L.x20_domain_cap_approx


# s20 — embedding QC census: the planted fault mix and the d25 integer
# grid replay exactly; norm stats are NULL-skipping in both engines.
# NULL-element vectors (the %97==3 plant) are fenced out of the stats
# CTE explicitly — DuckDB's unnest+sum would otherwise SKIP the NULL
# element where Spark's aggregate propagates it, the exact divergence
# the n_null_elem counter (ADVICE r16) exists to make visible.
ORACLES["s20_embedding_qc"] = """
WITH f AS (
  SELECT vec_id, label,
         CASE WHEN vec_id % 97 = 0 THEN NULL
              WHEN vec_id % 97 = 1 THEN embedding[1:8]
              WHEN vec_id % 97 = 2
                THEN list_transform(embedding, x -> CAST(0.0 AS FLOAT))
              WHEN vec_id % 97 = 3
                THEN [CAST(NULL AS FLOAT)] || embedding[2:64]
              ELSE embedding END AS emb
  FROM embeddings
),
g AS (
  SELECT vec_id, label, emb,
         emb IS NOT NULL
           AND len(list_filter(emb, x -> x IS NULL)) > 0 AS nullelem
  FROM f
),
stats AS (
  SELECT vec_id,
         sum(CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)
             * CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS nq
  FROM (SELECT vec_id, unnest(emb) AS x
        FROM g WHERE emb IS NOT NULL AND NOT nullelem AND len(emb) = 64)
  GROUP BY vec_id
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(count(*) FILTER (emb IS NULL) AS BIGINT) AS n_null,
       CAST(count(*) FILTER (nullelem) AS BIGINT) AS n_null_elem,
       CAST(count(*) FILTER (emb IS NOT NULL AND NOT nullelem
                             AND len(emb) <> 64)
            AS BIGINT) AS n_dim_mismatch,
       CAST(count(*) FILTER (s.nq = 0) AS BIGINT) AS n_zero_norm,
       CAST(min(s.nq) AS BIGINT) AS min_norm_q,
       CAST(max(s.nq) AS BIGINT) AS max_norm_q,
       CAST(sum(s.nq) AS BIGINT) AS sum_norm_q
FROM g LEFT JOIN stats s USING (vec_id)
GROUP BY label
"""
QUERIES["s20_embedding_qc"] = L.s20_embedding_qc


# c14 — the full training recipe: every stage integer-exact (sqrt
# damping is the x4 fixed-point contract; Hamilton the x9 idiom; the
# mixture arithmetic is x1's; both orderings replay as ROW_NUMBER over
# the same keys grouped_rank/global_rank produce).
ORACLES["c14_training_recipe"] = """
WITH cnt AS (SELECT source, COUNT(*) AS _n FROM documents GROUP BY source),
damp AS (
  SELECT source, _n,
         CAST(floor(sqrt(_n) * 1000000) AS BIGINT) AS _w
  FROM cnt
),
tot AS (SELECT sum(_w) AS _wtot FROM damp),
based AS (
  SELECT source, _n, _w,
         CAST(800 * _w // _wtot AS BIGINT) AS _base,
         CAST(800 * _w % _wtot AS BIGINT) AS _rem
  FROM damp CROSS JOIN tot
),
slack AS (SELECT 800 - sum(_base) AS _r FROM based),
quota AS (
  SELECT source, _n,
         _base + CASE WHEN ROW_NUMBER()
                        OVER (ORDER BY _rem DESC, source ASC) <= _r
                      THEN 1 ELSE 0 END AS _quota
  FROM based CROSS JOIN slack
),
q2 AS (
  SELECT source, _n, _quota // _n AS _qbase, _quota % _n AS _qrem
  FROM quota
),
ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source
             ORDER BY (doc_id * 2654435761) % 1048576, doc_id) AS _rnk
  FROM documents
),
copies AS (
  SELECT r.doc_id, r.source,
         q._qbase + CASE WHEN r._rnk <= q._qrem THEN 1 ELSE 0 END
           AS _copies
  FROM ranked r JOIN q2 q USING (source)
),
expl AS (
  SELECT doc_id, source,
         CAST(unnest(generate_series(1, _copies)) AS BIGINT) AS copy_idx
  FROM copies WHERE _copies >= 1
)
SELECT doc_id, source, copy_idx,
       CAST(ROW_NUMBER() OVER (
         ORDER BY (doc_id * 2654435761 + copy_idx * 99991) % 1048576,
                  doc_id, copy_idx) AS BIGINT) AS pos
FROM expl
"""
QUERIES["c14_training_recipe"] = L.c14_training_recipe


# c15 — dedup-aware token accounting; md5(text) in DuckDB hashes the
# same UTF-8 bytes Spark's md5(cast(text as binary)) does (the d30
# precedent).
ORACLES["c15_effective_tokens"] = """
WITH base AS (
  SELECT doc_id, source, md5(text) AS _ch,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS _t
  FROM documents
),
k AS (SELECT _ch, min(doc_id) AS _keeper FROM base GROUP BY _ch)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (doc_id = _keeper) AS BIGINT) AS n_kept,
       CAST(sum(_t) AS BIGINT) AS raw_tokens,
       CAST(sum(CASE WHEN doc_id = _keeper THEN _t ELSE 0 END)
            AS BIGINT) AS kept_tokens
FROM base JOIN k USING (_ch)
GROUP BY source
"""
QUERIES["c15_effective_tokens"] = L.c15_effective_tokens


# q115 — histogram quantile sketch; the DECIMAL(18,2) bridge makes the
# cents exact in both engines (double->bigint casts truncate in Spark
# but round in DuckDB), and every later step is integer //.
ORACLES["q115_histogram_quantiles"] = """
WITH v AS (
  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS _v
  FROM lineitem
),
b AS (SELECT min(_v) AS _lo, max(_v) + 1 AS _hi FROM v),
h AS (
  SELECT least(127, greatest(0, (_v - _lo) * 128 // (_hi - _lo))) AS bin,
         count(*) AS n_rows
  FROM v CROSS JOIN b GROUP BY 1
),
c AS (SELECT bin, sum(n_rows) OVER (ORDER BY bin) AS _cum FROM h),
t AS (SELECT max(_cum) AS _n FROM c),
q AS (SELECT unnest([500000, 900000, 990000]) AS q_ppm),
r AS (
  SELECT q_ppm, greatest(1, (_n * q_ppm + 999999) // 1000000) AS _rank
  FROM q CROSS JOIN t
),
x AS (
  SELECT r.q_ppm, min(c.bin) AS bin
  FROM r JOIN c ON c._cum >= r._rank GROUP BY r.q_ppm
)
SELECT CAST(x.q_ppm AS BIGINT) AS q_ppm,
       CAST(x.bin AS BIGINT) AS bin,
       CAST(_lo + x.bin * (_hi - _lo) // 128 AS BIGINT) AS bin_lo,
       CAST(_lo + (x.bin + 1) * (_hi - _lo) // 128 AS BIGINT) AS bin_hi,
       CAST(c._cum AS BIGINT) AS n_le
FROM x JOIN c USING (bin) CROSS JOIN b
"""
QUERIES["q115_histogram_quantiles"] = R.q115_histogram_quantiles


# st20 — streaming histogram fold; SUM/MIN/MAX monoids, so the oracle
# recomputes the whole state from the full table.
ORACLES["st20_stream_histogram"] = """
WITH d AS (
  SELECT CAST(length(trim(text)) AS BIGINT) * 1000
         // CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
           AS _v
  FROM documents
)
SELECT CAST(least(31, greatest(0, _v * 32 // 16000)) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(_v) AS BIGINT) AS min_value,
       CAST(max(_v) AS BIGINT) AS max_value
FROM d GROUP BY 1
"""
QUERIES["st20_stream_histogram"] = L.st20_stream_histogram


# st21 — streaming effective-token accounting; the batch c15 report IS
# the oracle (the stream's two monoid states refold to it exactly).
ORACLES["st21_stream_effective_tokens"] = ORACLES["c15_effective_tokens"]
QUERIES["st21_stream_effective_tokens"] = L.st21_stream_effective_tokens


# x22 — length-grouped batching; rank replay is ROW_NUMBER per band.
ORACLES["x22_length_grouped_batches"] = """
WITH base AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS _tok
  FROM documents
),
banded AS (SELECT doc_id, _tok, _tok // 32 AS band FROM base),
ranked AS (
  SELECT doc_id, _tok, band,
         ROW_NUMBER() OVER (PARTITION BY band
             ORDER BY (doc_id * 2654435761) % 1048576, doc_id) AS _pos
  FROM banded
)
SELECT band, (_pos - 1) // 8 AS batch_idx,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(max(_tok) AS BIGINT) AS max_tokens,
       CAST(sum(_tok) AS BIGINT) AS sum_tokens,
       CAST(count(*) * max(_tok) - sum(_tok) AS BIGINT) AS pad_tokens
FROM ranked
GROUP BY band, (_pos - 1) // 8
"""
QUERIES["x22_length_grouped_batches"] = L.x22_length_grouped_batches


# x23 — whole-document harmonic packing: the class/rank/bin algebra is
# pure integer (Knuth priority, ROW_NUMBER replay of grouped_rank).
ORACLES["x23_whole_doc_packing"] = """
WITH base AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(coalesce(text, '')), '\\s+'))
              AS BIGINT) AS _tok
  FROM documents
),
cls AS (
  SELECT doc_id, _tok,
         CASE WHEN _tok > 256 THEN CAST(0 AS BIGINT)
              ELSE 256 // _tok END AS size_class
  FROM base
),
ranked AS (
  SELECT doc_id, _tok, size_class,
         ROW_NUMBER() OVER (PARTITION BY size_class
             ORDER BY (doc_id * 2654435761) % 1048576, doc_id) AS _pos
  FROM cls
)
SELECT size_class,
       (_pos - 1) // (CASE WHEN size_class = 0 THEN 1 ELSE size_class END)
         AS bin_idx,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(_tok) AS BIGINT) AS sum_tokens,
       CAST(256 - sum(_tok) AS BIGINT) AS waste
FROM ranked
GROUP BY 1, 2
"""
QUERIES["x23_whole_doc_packing"] = L.x23_whole_doc_packing


# s22 — quantizer occupancy census: the s9 integer k-means trajectory
# (same _S9_PARTS CTE chain) aggregated per cell over a range(k) spine
# so empty cells surface; all counters/distortions exact int64.
def _s22_occupancy_sql(k: int, n_rounds: int, dim: int, scale: int) -> str:
    if (k, n_rounds, dim, scale) not in _S9_PARTS:
        _s9_kmeans_sql(k, n_rounds, dim, scale)
    parts, prev, pack = _S9_PARTS[(k, n_rounds, dim, scale)]
    final = f"""
, asg AS (
  SELECT vec_id,
         CAST(key % {pack} AS INTEGER) AS cluster,
         key // {pack} AS dist_q
  FROM (
    SELECT q.vec_id, min(
             CAST(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
                - 2 * list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(c.cv AS DOUBLE[]))
                + list_dot_product(CAST(c.cv AS DOUBLE[]), CAST(c.cv AS DOUBLE[]))
               AS BIGINT) * {pack} + cid) AS key
    FROM q, {prev} c
    GROUP BY q.vec_id)
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS _n FROM asg),
spine AS (SELECT CAST(unnest(range({k})) AS INTEGER) AS cluster),
stats AS (
  SELECT cluster,
         CAST(count(*) AS BIGINT) AS n_members,
         CAST(min(dist_q) AS BIGINT) AS min_dist_q,
         CAST(max(dist_q) AS BIGINT) AS max_dist_q,
         CAST(sum(dist_q) AS BIGINT) AS sum_dist_q
  FROM asg GROUP BY cluster
)
SELECT s.cluster,
       CAST(COALESCE(st.n_members, 0) AS BIGINT) AS n_members,
       st.min_dist_q, st.max_dist_q, st.sum_dist_q,
       CAST(COALESCE(st.n_members, 0) * 1000000 // _n AS BIGINT)
         AS occupancy_ppm
FROM spine s LEFT JOIN stats st USING (cluster), tot
"""
    return "WITH " + ",".join(parts) + final


ORACLES["s22_quantizer_occupancy"] = _s22_occupancy_sql(8, 3, 64, 1000)
QUERIES["s22_quantizer_occupancy"] = L.s22_quantizer_occupancy


# t41 — per-language Zipf profile: census + ROW_NUMBER rank replay of
# grouped_rank + integer log2 via binary-string length (no float log).
ORACLES["t41_zipf_profile"] = """
WITH toks AS (
  SELECT lang, unnest(string_split_regex(trim(text), '\\s+')) AS token
  FROM documents
),
counts AS (
  SELECT lang, token, CAST(count(*) AS BIGINT) AS freq
  FROM toks WHERE token <> '' GROUP BY lang, token
),
ranked AS (
  SELECT lang, token, freq,
         ROW_NUMBER() OVER (PARTITION BY lang
             ORDER BY freq DESC, token ASC) AS _rank
  FROM counts
)
SELECT lang, CAST(length(bin(_rank)) - 1 AS BIGINT) AS rank_bucket,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(freq) AS BIGINT) AS sum_freq,
       CAST(max(freq) AS BIGINT) AS max_freq,
       CAST(min(freq) AS BIGINT) AS min_freq
FROM ranked GROUP BY lang, rank_bucket
"""
QUERIES["t41_zipf_profile"] = L.t41_zipf_profile


# q116 — as-of with tolerance: DuckDB's native ASOF LEFT JOIN, then the
# same day-granularity staleness null-out the engine applies to the
# carried match struct.
ORACLES["q116_asof_tolerance"] = """
WITH marks AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS mark_date,
         CAST(max(o_totalprice) AS DOUBLE) AS day_max
  FROM orders GROUP BY 1, 2 HAVING CAST(max(o_totalprice) AS DOUBLE) > 300000
),
a AS (
  SELECT o.o_orderkey, o.o_custkey,
         CAST(o.o_orderdate AS DATE) AS order_date,
         m.mark_date, m.day_max
  FROM orders o ASOF LEFT JOIN marks m
    ON o.o_custkey = m.o_custkey AND CAST(o.o_orderdate AS DATE) >= m.mark_date
)
SELECT o_orderkey, o_custkey, order_date,
       CASE WHEN order_date - mark_date <= 30 THEN mark_date END AS mark_date,
       CASE WHEN order_date - mark_date <= 30 THEN day_max END AS day_max
FROM a
"""
QUERIES["q116_asof_tolerance"] = R.q116_asof_tolerance


# d31 — corpus-level exact substring dedup (r17 VERDICT item 4): the
# excision manifest. Redundant occurrence == row_number >= 2 over
# (doc_id, pos) within the gram's occurrence class (the window here is
# value-identical to the Spark side's min-struct keeper join); island
# merge rule identical to d9 (gap <= n). n = 12 word-grams.
ORACLES["d31_substring_dedup"] = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') ws FROM documents
),
g AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(ws, i, i + 11), ' ') AS gm
  FROM toks,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(ws) - 11, 0))) AS i) u
),
r AS (
  SELECT doc_id, pos,
         ROW_NUMBER() OVER (PARTITION BY gm ORDER BY doc_id, pos) AS rn
  FROM g
),
red AS (SELECT doc_id, pos FROM r WHERE rn >= 2),
isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev IS NULL OR pos - prev > 12 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM (SELECT doc_id, pos,
               LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM red) t
)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + 11 AS BIGINT) AS span_end,
       CAST(count(*) AS BIGINT) AS span_grams,
       CAST(max(pos) + 11 - min(pos) + 1 AS BIGINT) AS span_tokens
FROM isl
GROUP BY doc_id, island
"""
QUERIES["d31_substring_dedup"] = L.d31_substring_dedup


# d32 — apply the d31 manifest: per-doc token conservation + md5 of the
# kept tokens (string_agg over position order; empty survivor sets
# coalesce to '' so fully-excised docs still hash like Spark's
# array_join of an empty array).
ORACLES["d32_substring_excise"] = """
WITH toks AS (
  SELECT doc_id,
         string_split_regex(trim(coalesce(text, '')), '\\s+') ws
  FROM documents
),
g AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(ws, i, i + 11), ' ') AS gm
  FROM toks,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(ws) - 11, 0))) AS i) u
),
r AS (
  SELECT doc_id, pos,
         ROW_NUMBER() OVER (PARTITION BY gm ORDER BY doc_id, pos) AS rn
  FROM g
),
red AS (SELECT doc_id, pos FROM r WHERE rn >= 2),
isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev IS NULL OR pos - prev > 12 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM (SELECT doc_id, pos,
               LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM red) t
),
manifest AS (
  SELECT doc_id, min(pos) AS span_start, max(pos) + 11 AS span_end,
         max(pos) + 11 - min(pos) + 1 AS span_tokens
  FROM isl GROUP BY doc_id, island
),
posn AS (
  SELECT doc_id, i - 1 AS p, ws[i] AS tok
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) u
),
kept AS (
  SELECT posn.doc_id, p, tok
  FROM posn
  LEFT JOIN manifest m
    ON posn.doc_id = m.doc_id AND p BETWEEN m.span_start AND m.span_end
  WHERE m.doc_id IS NULL
),
kagg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_kept,
         md5(string_agg(tok, ' ' ORDER BY p)) AS kept_md5
  FROM kept GROUP BY doc_id
),
xagg AS (
  SELECT doc_id, CAST(sum(span_tokens) AS BIGINT) AS n_excised
  FROM manifest GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.ws) AS BIGINT) AS n_tokens,
       coalesce(x.n_excised, 0) AS n_excised,
       coalesce(k.n_kept, 0) AS n_kept,
       coalesce(k.kept_md5, md5('')) AS kept_md5
FROM toks t
LEFT JOIN kagg k ON k.doc_id = t.doc_id
LEFT JOIN xagg x ON x.doc_id = t.doc_id
"""
QUERIES["d32_substring_excise"] = L.d32_substring_excise


# st22 — streaming Zipf census: the folded SUM-monoid state equals the
# one-shot census, so the batch t41 profile SQL is the exact oracle.
ORACLES["st22_stream_zipf_profile"] = ORACLES["t41_zipf_profile"]
QUERIES["st22_stream_zipf_profile"] = L.st22_stream_zipf_profile


# d33 — incremental substring dedup: delta (odd doc_ids) excised against
# the base (even doc_ids). A delta occurrence is redundant iff its gram
# is anywhere in the base (base keeps by definition) or earlier within
# the delta (the d31 row_number rule, delta-internal). gm is never NULL
# (array_to_string of a non-empty slice), so NOT IN is safe.
ORACLES["d33_delta_substring_dedup"] = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') ws FROM documents
),
g AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(ws, i, i + 11), ' ') AS gm
  FROM toks,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(ws) - 11, 0))) AS i) u
),
base AS (SELECT DISTINCT gm FROM g WHERE doc_id % 2 = 0),
dg AS (SELECT doc_id, pos, gm FROM g WHERE doc_id % 2 = 1),
in_base AS (SELECT doc_id, pos FROM dg WHERE gm IN (SELECT gm FROM base)),
r AS (
  SELECT doc_id, pos,
         ROW_NUMBER() OVER (PARTITION BY gm ORDER BY doc_id, pos) AS rn
  FROM dg WHERE gm NOT IN (SELECT gm FROM base)
),
red AS (
  SELECT doc_id, pos FROM in_base
  UNION ALL
  SELECT doc_id, pos FROM r WHERE rn >= 2
),
isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev IS NULL OR pos - prev > 12 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM (SELECT doc_id, pos,
               LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM red) t
)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + 11 AS BIGINT) AS span_end,
       CAST(count(*) AS BIGINT) AS span_grams,
       CAST(max(pos) + 11 - min(pos) + 1 AS BIGINT) AS span_tokens
FROM isl
GROUP BY doc_id, island
"""
QUERIES["d33_delta_substring_dedup"] = L.d33_delta_substring_dedup


# d34 — corpus duplication census over the d31 manifest: decile-bucket
# each doc's duplicated-token fraction (bucket 10, fully-duplicated,
# clamps to 9). The fraction divides two exact integers in IEEE double
# and floor/least are engine-stable, so the bucketing is hash-exact.
ORACLES["d34_duplication_profile"] = """
WITH toks AS (
  SELECT doc_id,
         string_split_regex(trim(coalesce(text, '')), '\\s+') ws
  FROM documents
),
g AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(ws, i, i + 11), ' ') AS gm
  FROM toks,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(ws) - 11, 0))) AS i) u
),
r AS (
  SELECT doc_id, pos,
         ROW_NUMBER() OVER (PARTITION BY gm ORDER BY doc_id, pos) AS rn
  FROM g
),
red AS (SELECT doc_id, pos FROM r WHERE rn >= 2),
isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev IS NULL OR pos - prev > 12 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM (SELECT doc_id, pos,
               LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM red) t
),
manifest AS (
  SELECT doc_id, max(pos) + 11 - min(pos) + 1 AS span_tokens
  FROM isl GROUP BY doc_id, island
),
dup AS (SELECT doc_id, sum(span_tokens) AS d FROM manifest GROUP BY doc_id),
prof AS (
  SELECT t.doc_id, len(t.ws) AS tok, coalesce(dup.d, 0) AS dup
  FROM toks t LEFT JOIN dup ON dup.doc_id = t.doc_id
)
SELECT CAST(least(floor(CAST(dup AS DOUBLE) / CAST(tok AS DOUBLE) * 10), 9) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(tok) AS BIGINT) AS sum_tokens,
       CAST(sum(dup) AS BIGINT) AS dup_tokens
FROM prof
GROUP BY 1
"""
QUERIES["d34_duplication_profile"] = L.d34_duplication_profile


# st23 — streaming gram-index maintenance: the folded SUM+MIN monoid
# state equals the one-shot per-gram aggregation, so the batch SQL
# below is the exact oracle (the st22 contract). Keyed by the keeper
# occurrence — one gram starts at a given (doc, pos) — so the oracle
# needs no xxhash64.
ORACLES["st23_stream_substring_index"] = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') ws FROM documents
),
g AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(ws, i, i + 11), ' ') AS gm
  FROM toks,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(ws) - 11, 0))) AS i) u
),
k AS (
  SELECT doc_id, pos,
         ROW_NUMBER() OVER (PARTITION BY gm ORDER BY doc_id, pos) AS rn,
         COUNT(*) OVER (PARTITION BY gm) AS n_occ
  FROM g
)
SELECT CAST(doc_id AS BIGINT) AS keep_doc,
       CAST(pos AS BIGINT) AS keep_pos,
       CAST(n_occ AS BIGINT) AS n_occ
FROM k WHERE rn = 1 AND n_occ >= 2
"""
QUERIES["st23_stream_substring_index"] = L.st23_stream_substring_index
