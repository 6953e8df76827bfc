"""Relational query inventory over the driver testdata (TPC-H-ish star
schema), one entry per operator family of SURVEY.md §2, each with a DuckDB
oracle in plans.registry.

Determinism contract (oracle hash-match): every SUM/AVG over doubles goes
through an exact decimal accumulation (order-insensitive) and is cast back
to double — see operators.relational.exact_sum/exact_avg. Timestamps are
output as DATE or epoch-microsecond BIGINT, never raw timestamps, to avoid
engine-specific tz/precision formatting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from ..operators.util import lineage_checkpoint

from ..functions.cleaning import (
    date_parts,
    dayfirst_date,
    decimal_comma_to_double,
    surrogate_key,
)
from ..functions.timeutil import read_nanos_ts, utc_timestamps
from ..operators.relational import (
    calendar_dim,
    exact_avg,
    exact_sum,
    sessionize,
    topk_per_group,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # NOTE: no blanket ensure_parallelism here — measured at sf0.1, a
    # round-robin pre-shuffle only pays off for CPU-bound pre-shuffle
    # work (the doc/similarity operators apply it internally); queries
    # whose first op is already a shuffle (window/groupBy) get strictly
    # slower from the extra exchange.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        return read_nanos_ts(spark, lambda: spark.read.parquet(path))
    return utc_timestamps(spark.read.parquet(path))


# --- A2/A1 family: aggregations ---------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape — the canonical grouped-agg (SURVEY §2.4 A2):
    filter -> groupBy 2 keys -> 8 aggregates, partial+final hash agg."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum("l_quantity", 2).alias("sum_qty"),
            exact_sum("l_extendedprice", 2).alias("sum_base_price"),
            F.sum(disc_price.cast("decimal(18,6)")).cast("double").alias(
                "sum_disc_price"
            ),
            exact_avg("l_quantity", 2).alias("avg_qty"),
            exact_avg("l_extendedprice", 2).alias("avg_price"),
            exact_avg("l_discount", 2).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q2_daily_supplier_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fato_agg_previsoes_dia analog (J1+A2, create_analitic_fato_agg_
    previsoes_dia.sql:4-19): fact x broadcast tiny dim on the key, group
    by (key, day), MIN/MAX/AVG/SUM/COUNT."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    # r17 (optimization): aggregate FIRST on (l_suppkey, day), then
    # broadcast-join the dim onto the aggregated frame. Equivalent by
    # construction — s_name is functionally dependent on the join key,
    # and the inner join drops exactly the same rows whether it runs
    # before the agg (per fact row) or after (per group) — but the
    # hash-agg now probes no broadcast per fact row, the shuffle rows
    # carry no s_name string, and at 100 TB the join touches |groups|
    # rows instead of |fact| rows (guide §2.3/§2.4: aggregate before
    # you shuffle, shuffle fewer bytes). Measured 2.89 s -> 2.02 s
    # (median-of-3, same session) at sf0.1.
    g = li.groupBy(
        "l_suppkey", F.to_date("l_shipdate").alias("ship_date")
    ).agg(
        F.min("l_quantity").alias("qty_min"),
        F.max("l_quantity").alias("qty_max"),
        exact_avg("l_quantity", 2).alias("qty_avg"),
        exact_sum("l_extendedprice", 2).alias("price_total"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return g.join(
        F.broadcast(sup), g.l_suppkey == sup.s_suppkey, "inner"
    ).select(
        "s_suppkey", "s_name", "ship_date",
        "qty_min", "qty_max", "qty_avg", "price_total", "n_rows",
    )


def q3_monthly_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cidade_kpis_mensal analog (J2+A3+P10, create_analitic_cidade_kpis_
    mensal.sql:5-18): daily aggregate re-joined with two broadcast dims,
    monthly rollup with AVG-of-daily-averages and COUNT_IF.

    Determinism: round 1 (double->DECIMAL(18,8) round-trip) and round 2
    (floor-to-1e8 grid, still finishing with float division) both
    hash-mismatched at the driver despite passing every local replica. This
    version removes ALL floating-point and decimal-rounding steps from the
    aggregate chain: daily quantity sums become exact BIGINT cents, the
    daily average becomes BIGINT micro-units via integer `div`, and the
    monthly outputs are BIGINT (`_e6` micro-units / cents). Round 4: the
    last double (`mensal_qty_max`) is integerized too — l_quantity is
    DECIMAL(18,2)-exact, so max over BIGINT cents is lossless and every
    output column is now integer/string.
    """
    li = _t(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_suppkey", F.to_date("l_shipdate").alias("ship_date")
    ).agg(
        # integer-valued by construction: DECIMAL(18,2) sum * 100 has a
        # zero fractional part, so the BIGINT cast is exact on both engines
        (F.sum(F.col("l_quantity").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("qty_cents"),
        (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("price_cents"),
        F.max((F.col("l_quantity").cast("decimal(18,2)") * 100).cast("bigint")).alias(
            "qty_max_cents"
        ),
        F.count(F.lit(1)).alias("n_rows"),
    ).withColumn(
        # daily mean quantity in micro-units: cents*10^4/rows, floored by
        # integer division — exact, order-free, engine-neutral
        "qty_avg_e6", F.expr("qty_cents * 10000 div n_rows")
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = daily.join(
        F.broadcast(sup), daily.l_suppkey == sup.s_suppkey
    ).join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
    return j.groupBy(
        "n_name", F.year("ship_date").alias("ano"), F.month("ship_date").alias("mes")
    ).agg(
        F.expr("sum(qty_avg_e6) div count(qty_avg_e6)").alias(
            "mensal_qty_media_e6"
        ),
        F.max("qty_max_cents").alias("mensal_qty_max_cents"),
        F.sum("price_cents").alias("mensal_price_cents"),
        F.count_if(F.col("price_cents") > 5_000_000).alias("dias_high_rev"),
    )


def q70_monthly_kpis_dbl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q03 with the natural double-typed presentation a KPI consumer
    wants (quantities/prices in units, not micro-units/cents). The
    aggregate chain is IDENTICAL to q03 — all-integer, order-free — and
    only the final projection divides each BIGINT by a power-of-ten
    literal. One IEEE division of an exactly-representable integer is
    correctly rounded on every engine, so the doubles hash-match the
    oracle by construction (unlike doubles summed in the aggregate,
    which 3 rounds of q03 history showed to be hash-unstable)."""
    kpis = q3_monthly_kpis(spark, sf_dir)
    return kpis.select(
        "n_name",
        "ano",
        "mes",
        (F.col("mensal_qty_media_e6") / F.lit(1e6)).alias("mensal_qty_media"),
        (F.col("mensal_qty_max_cents") / F.lit(100.0)).alias("mensal_qty_max"),
        (F.col("mensal_price_cents") / F.lit(100.0)).alias("mensal_price"),
        "dias_high_rev",
    )


def q71_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-Riemann time-weighted mean of `value` per user over the
    irregular events series — the correct mean for uneven sensor
    cadences (plain AVG over-weights bursts). Exact integer math
    end-to-end: cents x microsecond gaps, one integer div."""
    from ..operators.relational import time_weighted_avg

    ev = _t(spark, sf_dir, "events")
    return time_weighted_avg(
        ev, key_col="user_id", ts_col="ts", value_col="value",
        tiebreak_col="event_id",
    )


def q4_minmax_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: one-job scalar min/max/count (the reference runs two separate
    collect()s at job_parquet.py:265-266)."""
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.min(F.to_date("o_orderdate")).alias("lo"),
        F.max(F.to_date("o_orderdate")).alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )


# --- F11/F12: calendar dimension ---------------------------------------------


def q5_calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """datas builder (F12+F11, job_parquet.py:261-280): dense daily
    calendar between orders min/max, distributed sequence+explode."""
    o = _t(spark, sf_dir, "orders")
    b = o.agg(
        F.min(F.to_date("o_orderdate")).alias("lo"),
        F.max(F.to_date("o_orderdate")).alias("hi"),
    ).first()
    return calendar_dim(spark, b["lo"], b["hi"])


# --- F9/P2/P4: surrogate keys, renames, projections --------------------------


def q6_surrogate_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dim_cidade_atributos analog (F9, create_dim_cidade_atributos.sql:
    7-12): broadcast dim join + TRIM/UPPER/COALESCE surrogate key +
    projection reorder (P4)."""
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    j = nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    return j.select(
        surrogate_key("n_name", "r_name").alias("nation_sk"),
        F.col("n_nationkey").alias("nation_id"),
        F.col("n_name").alias("nome"),
        F.col("r_name").alias("regiao"),
    )


# --- F1/F2/F3: dirty-data parsing --------------------------------------------


def q7_decimal_comma_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2: build decimal-comma dirty strings from part prices (incl.
    'None' markers) and parse them back with the cleaning kit."""
    p = _t(spark, sf_dir, "part")
    dirty = (
        "CASE WHEN p_partkey % 97 = 0 THEN 'None'"
        " ELSE replace(CAST(p_retailprice AS STRING), '.', ',') END"
    )
    return p.select(
        "p_partkey",
        decimal_comma_to_double(dirty).alias("parsed_price"),
    )


def q8_dayfirst_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: multi-format date strings (dd/MM/yyyy and yyyy/MM/dd mixed by
    row, plus junk) parsed with the coerce-to-null chain."""
    o = _t(spark, sf_dir, "orders")
    s = (
        "CASE o_orderkey % 3"
        " WHEN 0 THEN date_format(to_date(o_orderdate), 'dd/MM/yyyy')"
        " WHEN 1 THEN date_format(to_date(o_orderdate), 'yyyy/MM/dd')"
        " ELSE 'not a date' END"
    )
    return o.select("o_orderkey", dayfirst_date(s).alias("parsed_date"))


# --- U1/U2: unions ------------------------------------------------------------


def q9_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/U2 (job_parquet.py:104,249-252): unionByName of two differently
    shaped projections, then aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    b = li.filter(F.col("l_returnflag") == "A").select(
        "l_returnflag", "l_orderkey", "l_quantity"  # shuffled column order
    )
    u = a.unionByName(b)
    return u.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"), exact_sum("l_quantity", 2).alias("qty")
    )


# --- J family: join types ------------------------------------------------------


def q10_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers with at least one big order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


def q11_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no urgent order —
    anti against a filtered build side so the result is non-trivial."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


def q21_three_way_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 shape: fact x dim x dim chained equi-joins, grouped. customer is
    broadcast here (1.5k rows/SF); at SF where it outgrows the broadcast
    threshold AQE falls back to shuffle join on the sorted key."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    return j.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_orders"),
        exact_sum("o_totalprice", 2).alias("revenue"),
    )


# --- windows -------------------------------------------------------------------


def q12_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via row_number window (free Spark extension the
    reference lacks, SURVEY §2.7). Spark 3.5+ pushes a WindowGroupLimit
    below the shuffle so full groups never materialize."""
    o = _t(spark, sf_dir, "orders")
    return topk_per_group(
        o.select("o_orderpriority", "o_orderkey", "o_totalprice"),
        ["o_orderpriority"],
        "o_totalprice",
        k=3,
        tiebreak="o_orderkey",
    )


def q13_running_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) sum + row numbering per partition — decimal
    accumulation so the cumulative values oracle-match exactly."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("order_seq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(frame)
        .cast("double")
        .alias("running_total"),
    )


def q18_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: gap>30min starts a new session; one shuffle on
    user_id, stacked lag + cumsum windows; timestamps surfaced as epoch
    micros for engine-neutral comparison."""
    e = _t(spark, sf_dir, "events")
    s = sessionize(e, "user_id", "ts", gap_seconds=1800)
    return s.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.unix_micros(F.min("ts")).alias("first_us"),
        F.unix_micros(F.max("ts")).alias("last_us"),
    )


def q72_sessionize_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q18's sessionization under a PLANTED hot key (every 5th event is
    remapped to one power user, ~20% of the corpus) through the
    skew-hardened operator: the event window partitions by
    (user, 6-hour chunk), so the hot user's events spread across chunks
    instead of serializing one task, and chunk boundaries are merged via
    a per-user window over the tiny chunk-stats frame. The oracle runs
    the plain per-user session SQL on the same remapped events — a hash
    match proves the salted decomposition is exactly session-equivalent,
    not an approximation."""
    from ..operators.relational import sessionize_salted

    e = _t(spark, sf_dir, "events").select(
        F.when(F.col("event_id") % 5 == 0, F.lit(999999))
        .otherwise(F.col("user_id"))
        .cast("bigint")
        .alias("user_id"),
        "ts",
    )
    s = sessionize_salted(e, "user_id", "ts", gap_seconds=1800,
                          chunk_seconds=21600)
    return s.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.unix_micros(F.min("ts")).alias("first_us"),
        F.unix_micros(F.max("ts")).alias("last_us"),
    )


# --- grouping sets / distinct / pivot -------------------------------------------


def q14_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over region/nation with grouping id — free extension
    (SURVEY §2.4 note: reference has no grouping sets)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return j.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        exact_sum("c_acctbal", 2).alias("acctbal_total"),
        F.grouping_id().alias("grp_id"),
    )


def q15_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over returnflag/linestatus."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum("l_quantity", 2).alias("qty"),
        F.grouping_id().alias("grp_id"),
    )


def q16_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregates (reference has none, SURVEY §2.4)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q17_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (P1 analog — the metadata row->column pivot generalized):
    explicit value list so no extra distinct-scan job."""
    li = _t(spark, sf_dir, "lineitem")
    p = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"))
    )
    return p.select(
        "l_returnflag",
        F.col("O").alias("qty_o"),
        F.col("F").alias("qty_f"),
    )


# --- filters / projections / pushdown --------------------------------------------


def q22_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4/P5/P7/P10: predicate + projection; filter and column pruning
    reach the parquet scan (verified in bench explain audit)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-02-01"))
        & (F.col("l_quantity") > 45)
        & F.col("l_returnflag").isNotNull()
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(18,6)")
        .cast("double")
        .alias("net_price"),
    )


def q23_zero_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 semantics: null measures zero-filled BEFORE aggregation, so the
    AVG counts zeros (differs from SQL null-skipping AVG — the reference's
    exact behavior at job_parquet.py:214-220)."""
    li = _t(spark, sf_dir, "lineitem")
    nullable = F.when(F.col("l_quantity") < 5, None).otherwise(F.col("l_quantity"))
    filled = li.select("l_returnflag", nullable.alias("q")).na.fill(
        0, subset=["q"]
    )
    return filled.groupBy("l_returnflag").agg(
        exact_avg("q", 2).alias("avg_filled"),
        F.count(F.lit(1)).alias("n"),
    )


def q19_tumbling_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling daily window over events (batch form; streaming twin in
    streaming/windows.py)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        exact_sum("value", 4).alias("total_value"),
    )


def q20_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from the events props column (map/json
    functions — absent in the reference, SURVEY §2.6 note)."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.sum("k").alias("k_sum"),
        F.countDistinct("k").alias("k_distinct"),
        F.count(F.lit(1)).alias("n"),
    )


# --- beyond-reference joins (as-of, range) ---------------------------------------


def q24_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (no reference analog — SURVEY §2.3 notes only equi-joins
    exist there): each order matched to the customer's latest high-revenue
    day (day_max > 300000) at or before its order date. Single-shuffle
    union+window plan (operators.relational.asof_join); DuckDB oracle uses
    its native ASOF LEFT JOIN."""
    from ..operators.relational import asof_join

    o = _t(spark, sf_dir, "orders")
    left = o.select(
        "o_orderkey", "o_custkey", F.to_date("o_orderdate").alias("order_date")
    )
    marks = (
        o.groupBy("o_custkey", F.to_date("o_orderdate").alias("_mark_ts"))
        .agg(F.max("o_totalprice").cast("double").alias("day_max"))
        .filter(F.col("day_max") > 300000)
        .select("o_custkey", "_mark_ts", F.col("_mark_ts").alias("mark_date"), "day_max")
    )
    return asof_join(left, marks, on="o_custkey", left_ts="order_date", right_ts="_mark_ts")


def q25_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join via bucketization (operators.relational.
    range_join_bucketed): parts banded by retail price into fixed [lo,hi]
    bands, then count+revenue per band. Scales both sides (no broadcast
    nested loop at 100 TB)."""
    from ..operators.relational import range_join_bucketed

    part = _t(spark, sf_dir, "part")
    bands = spark.range(90, 100).select(
        F.col("id").alias("band_id"),
        (F.col("id") * 10.0).alias("lo"),
        (F.col("id") * 10.0 + 9.99).alias("hi"),
    )
    joined = range_join_bucketed(
        part, bands, value_col="p_retailprice", lo_col="lo", hi_col="hi", bucket_width=4.0
    )
    return joined.groupBy("band_id").agg(
        F.count(F.lit(1)).alias("n_parts"),
        exact_sum("p_retailprice", 2).alias("price_total"),
    )


def q26_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (median, p90) per group — F.percentile is the
    exact sort-based aggregate (approx_percentile is the sketch variant;
    not oracle-comparable). DuckDB twin: quantile_cont."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile(F.col("l_quantity").cast("double"), F.lit(0.5)).alias("qty_median"),
        F.percentile(F.col("l_quantity").cast("double"), F.lit(0.9)).alias("qty_p90"),
        F.count(F.lit(1)).alias("n"),
    )


def q27_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead offsets per customer order history: days since previous
    order and price delta to the next order (deterministic tiebreak on
    orderkey)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev_date = F.lag(F.to_date("o_orderdate")).over(w)
    next_price = F.lead(F.col("o_totalprice")).over(w)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.to_date("o_orderdate"), prev_date).alias("days_since_prev"),
        (next_price.cast("decimal(18,2)") - F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("next_price_delta"),
    )


def q28_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi-join (operators.relational.salted_join): result
    identical to the plain join — the oracle IS the plain join — while the
    physical plan spreads each suppkey across 8 reducers."""
    from ..operators.relational import salted_join

    li = _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_quantity", "l_orderkey")
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    j = salted_join(li, sup, on="l_suppkey", n_salts=8)
    return j.groupBy("s_name").agg(
        exact_sum("l_quantity", 2).alias("qty_total"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q29_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT (absent in the reference — SURVEY §2.5 notes no
    set ops beyond union): customers active in both 1997 and 1998 vs 1997
    only."""
    o = _t(spark, sf_dir, "orders")
    y97 = (
        o.filter(F.year("o_orderdate") == 1997).select("o_custkey").distinct()
    )
    y98 = (
        o.filter(F.year("o_orderdate") == 1998).select("o_custkey").distinct()
    )
    both = y97.intersect(y98).withColumn("segment", F.lit("both"))
    only97 = y97.exceptAll(y98).withColumn("segment", F.lit("1997_only"))
    return both.unionByName(only97)


def q30_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array fan-out with position (posexplode / lateral unnest): part
    names tokenized to (word, pos) rows."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.posexplode(F.split("p_name", " ")).alias("pos", "word"),
    ).select("p_partkey", "word", F.col("pos").cast("int").alias("pos"))


def q31_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via the SQL surface (finer than rollup/cube: exactly
    the three sets (flag), (status), ())."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("_li_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
               CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT) AS grp_id
        FROM _li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


def q32_rolling_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame rolling aggregate: 7-day trailing revenue per supplier
    over daily totals. rangeBetween(-6, 0) on an integer day key — a
    value-based frame (includes absent days implicitly), not a row-count
    frame."""
    li = _t(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_suppkey",
        F.datediff(F.to_date("l_shipdate"), F.lit("1992-01-01")).alias("day_n"),
    ).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("_rev")
    )
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("day_n")
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "l_suppkey",
        "day_n",
        F.col("_rev").cast("double").alias("day_rev"),
        F.sum("_rev").over(w).cast("double").alias("rev_7d"),
    )


def q33_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subqueries (orders 1.5x above their customer's
    average) — Catalyst decorrelates both into aggregate+join. The
    predicate is rewritten to exact decimal arithmetic
    (2 * price * n > 3 * total) so the filter boundary is engine-exact."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_ords_cs")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        FROM _ords_cs o
        WHERE CAST(o_totalprice AS DECIMAL(18,2)) * 2 *
                (SELECT COUNT(*) FROM _ords_cs i WHERE i.o_custkey = o.o_custkey)
              > 3 * (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                     FROM _ords_cs i WHERE i.o_custkey = o.o_custkey)
        """
    )


def q34_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ sketch aggregate (approx_count_distinct, rsd 2%):
    the constant-memory path for distinct counts at 100 TB where exact
    distinct shuffles every key. The sketch estimate is engine-specific,
    so the registry binding emits an exact companion column plus an
    error-envelope boolean (|approx-exact|/exact <= 5% — measured 0.95%
    at sf0.01; HLL is order-insensitive so the estimate is deterministic
    for a given dataset): the oracle emits the same exact count and a
    literal TRUE, making the sketch driver-hashable. Production mode is
    the approx aggregate alone."""
    li = _t(spark, sf_dir, "lineitem")
    out = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    err = F.abs(F.col("approx_parts") - F.col("exact_parts")) / F.col(
        "exact_parts"
    )
    return out.select(
        "l_returnflag",
        "exact_parts",
        "n_rows",
        (err <= F.lit(0.05)).alias("approx_ok"),
    )


def q35_regression_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS slope (quantity trend over ship day per supplier)
    from closed-form exact sums: slope = (n*Sxy - Sx*Sy)/(n*Sxx - Sx^2).
    All four accumulators are decimal (order-insensitive), so the slope is
    bit-identical across engines — the no-UDF way to push simple ML
    features into the partial+final aggregate path."""
    li = _t(spark, sf_dir, "lineitem")
    x = F.datediff(F.to_date("l_shipdate"), F.lit("1992-01-01"))
    y = F.col("l_quantity").cast("decimal(18,2)")
    g = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast("decimal(18,0)")).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum((x * y).cast("decimal(28,2)")).alias("sxy"),
        F.sum((x * x).cast("decimal(28,0)")).alias("sxx"),
    )
    denom = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    # divide as doubles (exact-integer decimals convert identically under
    # IEEE on both engines; decimal/decimal division scale rules differ)
    return g.select(
        "l_suppkey",
        "n",
        F.when(denom != 0, num.cast("double") / denom.cast("double"))
        .otherwise(F.lit(None).cast("double"))
        .alias("qty_slope"),
    )


def q36_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ORDER BY ... LIMIT k: Spark compiles this to
    TakeOrderedAndProject — each partition keeps its local top-k, the
    driver merges k*partitions rows — never a full sort of the table
    (asserted in tests/test_plans.py). Deterministic tiebreak on the key."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("price"),
        )
        .orderBy(F.col("price").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


def q37_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate: one pass computing violation counts per rule
    (null keys, out-of-range measures, malformed flags) as conditional
    aggregates — the validate-before-publish step of a production
    pipeline, fused into a single scan instead of one job per rule."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("l_orderkey").isNull()).alias("null_orderkey"),
        F.count_if(
            (F.col("l_quantity") <= 0) | (F.col("l_quantity") > 50)
        ).alias("qty_out_of_range"),
        F.count_if(
            (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)
        ).alias("disc_out_of_range"),
        F.count_if(~F.col("l_returnflag").isin("A", "N", "R")).alias(
            "bad_returnflag"
        ),
        F.count_if(
            F.col("l_shipdate") < F.lit("1992-01-01")
        ).alias("shipdate_too_early"),
    )


def q38_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile bucketing: customers ranked into spend quartiles (exact
    decimal totals, deterministic tiebreak).

    Uses global_ntile (range-partition + partition-offset ranks) instead
    of an unpartitioned ntile window — same result bit-for-bit, but no
    single-task `WindowExec: No Partition Defined` straggler at scale."""
    from ..operators.relational import global_ntile

    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        exact_sum("o_totalprice", 2).alias("spend")
    )
    return global_ntile(
        spend,
        [F.col("spend").desc(), F.col("o_custkey").asc()],
        4,
        out_col="quartile",
    ).select("o_custkey", "spend", "quartile")


def q39_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table star join (two big tables shuffle-joined on
    orderkey, four dims broadcast) with region filter pushed into the dim
    before the join fans out — local-supplier revenue per nation."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey", "n_name")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA").select(
        "r_regionkey"
    )
    nr = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    j = (
        li.join(o.select("o_orderkey", "o_custkey"), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nr), F.col("s_nationkey") == nr.n_nationkey)
    )
    return j.groupBy("n_name").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,6)"
            )
        )
        .cast("double")
        .alias("revenue")
    )


def q40_argmax_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax without a window: max_by keeps each customer's single most
    expensive order inside a plain hash aggregate — one shuffle, no sort,
    the cheap form of 'top-1 per group' (deterministic tiebreak folded
    into the ordering struct)."""
    o = _t(spark, sf_dir, "orders")
    best = F.struct(
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
        (-F.col("o_orderkey")).alias("negk"),  # tie -> lowest orderkey wins
    )
    return o.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", best).alias("best_orderkey"),
        F.max(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("best_price"),
    )


def q41_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long melt (the inverse of q17's pivot): the four lineitem
    measures become (measure, value) rows via the native unpivot operator
    — a map-only Expand, no shuffle, no UDF."""
    li = _t(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "value",
    )


def q42_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram as a pure hash aggregate: bucket id is
    floor(x/width) computed map-side, so the shuffle carries one row per
    (bucket) per partition — the distributed way to histogram 100 TB
    (never a driver-side collect of values)."""
    o = _t(spark, sf_dir, "orders")
    b = F.floor(F.col("o_totalprice") / F.lit(25000.0)).alias("bucket")
    return (
        o.groupBy(b)
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            exact_sum("o_totalprice").alias("total"),
        )
    )


def q43_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join of two per-customer activity periods: customers
    active in only one period survive with the other side null->0
    (SortMergeJoin FullOuter — the one join shape that can never
    broadcast; both sides shuffle on the key)."""
    o = _t(spark, sf_dir, "orders")
    h1 = (
        o.filter(F.col("o_orderdate") < F.lit("1995-07-01").cast("timestamp"))
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_early"))
    )
    h2 = (
        o.filter(F.col("o_orderdate") >= F.lit("1995-07-01").cast("timestamp"))
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_late"))
    )
    j = h1.withColumnRenamed("o_custkey", "k1").join(
        h2.withColumnRenamed("o_custkey", "k2"),
        F.col("k1") == F.col("k2"),
        "full_outer",
    )
    return j.select(
        F.coalesce(F.col("k1"), F.col("k2")).alias("custkey"),
        F.coalesce(F.col("n_early"), F.lit(0)).alias("n_early"),
        F.coalesce(F.col("n_late"), F.lit(0)).alias("n_late"),
    )


def q44_array_agg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive list aggregation: collect_list gathers in
    partition-arrival order (non-deterministic), so array_sort canonicalizes
    before array_join — the only safe way to emit list-valued results from
    a distributed agg."""
    o = _t(spark, sf_dir, "orders")
    keys = F.array_sort(F.collect_list("o_orderkey"))
    return o.groupBy("o_custkey").agg(
        F.size(keys).alias("n_orders"),
        F.array_join(keys.cast("array<string>"), ",").alias("orderkeys_csv"),
    )


def q45_date_spine_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-free daily series per event type: a generated date spine
    (sequence+explode, fully distributed) cross-joined with the tiny
    distinct-type dim (broadcast), left-joined to the daily counts,
    missing days zero-filled. The spine never materializes on the driver
    — only the 2-scalar min/max does (one job), so the pattern holds when
    the fact side is 100 TB."""
    ev = _t(spark, sf_dir, "events")
    lo, hi = ev.agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    ).first()
    spine = spark.range(1).select(
        F.explode(
            F.sequence(F.lit(lo), F.lit(hi), F.expr("interval 1 day"))
        ).alias("day")
    )
    types = ev.select("event_type").distinct()
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        spine.crossJoin(F.broadcast(types))
        .join(daily, ["day", "event_type"], "left")
        .select(
            "day",
            "event_type",
            F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n_events"),
        )
    )


def q46_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands / SCD2 collapse: consecutive same-type events per
    user become one validity interval [first_ts, last_ts] — the change
    flag is a lag() comparison, the island id a running sum of flags, the
    interval a group-by over (user, island). Two window passes + one
    aggregate, all on the same user_id partitioning, so the three shuffles
    collapse to one exchange at scale."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts")
    flagged = ev.withColumn(
        "chg",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    islands = flagged.withColumn(
        "island", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return islands.groupBy("user_id", "island").agg(
        F.min("event_type").alias("event_type"),
        F.unix_micros(F.min("ts")).alias("valid_from_us"),
        F.unix_micros(F.max("ts")).alias("valid_to_us"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q47_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style SCD1 upsert via operators.relational.merge_upsert: a
    deterministic update batch (10% of orders, repriced) merged into the
    base table — update rows win, the rest pass through an anti-join."""
    from ..operators.relational import merge_upsert

    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    updates = base.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") * F.lit(1.1)).alias("o_totalprice"),
    )
    return merge_upsert(base, updates, "o_orderkey")


def q48_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ranking-function family over one window (segment, acctbal
    desc): rank / dense_rank / percent_rank / cume_dist — all computed in
    a single Window pass (one shuffle on the segment key)."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc())
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
    )


def q49_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF (last-observation-carried-forward) gap repair, the sensor-data
    twin of q45's spine fill: readings are nulled deterministically
    (event_id % 7 == 0), then repaired with last(ignorenulls) over an
    unbounded-preceding frame per user — one window pass, one shuffle on
    the key, no self-join."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    gappy = ev.withColumn(
        "v",
        F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("double")).otherwise(
            F.col("value")
        ),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return gappy.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.last("v", ignorenulls=True).over(w).alias("value_filled"),
    )


def q50_anomaly_vs_climatology(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly KPI the reference *promises but never implements* — its
    comment "KPIs por cidade e mes: medias, anomalias, dias com
    precipitacao" (create_analitic_cidade_kpis_mensal.sql:2) lists
    anomalies, the SELECT below it has none. Here: each (supplier, day)
    average vs the supplier's own long-run mean, as a windowed deviation
    on the daily aggregate — no second scan, no self-join; the
    climatology mean is an exact decimal window sum / count (order-
    insensitive, oracle-stable)."""
    daily = q2_daily_supplier_agg(spark, sf_dir)
    w = Window.partitionBy("s_suppkey")
    clim = (
        F.sum(F.col("qty_avg").cast("decimal(18,8)")).over(w).cast("double")
        / F.count("qty_avg").over(w)
    )
    return daily.select(
        "s_suppkey",
        "ship_date",
        "qty_avg",
        clim.alias("clim_mean"),
        (F.col("qty_avg") - clim).alias("anomaly"),
    )


def q51_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (approx_percentile, Greenwald-Khanna):
    the 100 TB path for percentiles — partial sketches merge
    associatively, so no global sort ever happens (q26 is the exact
    counterpart). The GK result can depend on merge order, so instead of
    hashing the sketch value the registry binding validates its RANK
    guarantee: join the approx quantile back to the data, count rows at
    or below it, and check that rank lands within the epsilon envelope
    of p*n (tolerance = n*0.005 + 2 >> GK eps of 1/10000). Exact
    percentile companions (F.percentile == DuckDB quantile_cont) make
    the row hashable."""
    o = _t(spark, sf_dir, "orders")
    appx = o.groupBy("o_orderstatus").agg(
        F.approx_percentile("o_totalprice", F.lit(0.5), F.lit(10000)).alias(
            "ap50"
        ),
        F.approx_percentile("o_totalprice", F.lit(0.95), F.lit(10000)).alias(
            "ap95"
        ),
        F.percentile("o_totalprice", F.lit(0.5)).alias("p50_exact"),
        F.percentile("o_totalprice", F.lit(0.95)).alias("p95_exact"),
        F.count(F.lit(1)).alias("n"),
    )
    j = o.join(F.broadcast(appx), "o_orderstatus")
    ranks = j.groupBy("o_orderstatus").agg(
        F.count_if(F.col("o_totalprice") <= F.col("ap50")).alias("r50"),
        F.count_if(F.col("o_totalprice") <= F.col("ap95")).alias("r95"),
    )
    out = appx.join(ranks, "o_orderstatus")
    tol = F.col("n") * F.lit(0.005) + F.lit(2.0)
    ok = lambda r, p: (  # noqa: E731
        F.abs(F.col(r) - F.col("n") * F.lit(p)) <= tol
    )
    return out.select(
        "o_orderstatus",
        "n",
        "p50_exact",
        "p95_exact",
        ok("r50", 0.5).alias("p50_rank_ok"),
        ok("r95", 0.95).alias("p95_rank_ok"),
    )


def q53_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable distinct-count sketches (Datasketches HLL):
    build one user sketch per (event_type, day), then MERGE the daily
    sketches up to per-type totals with hll_union_agg — the
    materialized-rollup pattern that makes distinct counts cheap at
    100 TB (daily sketch table is tiny; any coarser rollup is a sketch
    merge, never a rescan of the raw events). The sketch estimate is
    engine-specific, so the registry binding emits the exact distinct
    companion plus a 5%-envelope boolean (measured error 0% at sf0.01;
    Datasketches HLL is order-insensitive -> deterministic estimate),
    making the rollup driver-hashable. Merge-invariance (union of
    partials == sketch of the whole) is asserted in tests."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
        F.count(F.lit(1)).alias("n_days"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    err = F.abs(F.col("approx_users") - F.col("exact_users")) / F.col(
        "exact_users"
    )
    return merged.join(exact, "event_type").select(
        "event_type",
        "exact_users",
        "n_days",
        (err <= F.lit(0.05)).alias("approx_ok"),
    )


def q54_left_outer_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer enrichment keeping driverless rows: every customer with
    their order count/total, zero-order customers preserved with NULL
    total. The dim side drives the join, so Spark broadcasts the smaller
    customer side only if it is the build side of the preserved row set —
    here customer is the left (preserved) side and orders shuffles; at
    100 TB this is the canonical dim-LEFT-fact aggregation."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_spend"),
        )
    )


def q55_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics through Spark 4's VARIANT type:
    parse_json once into a binary variant, extract typed fields with
    variant_get — the open-schema ingestion path (shredded, no
    per-row string re-parsing downstream, unlike get_json_object which
    re-parses per extraction; q20 is the string-path counterpart)."""
    e = _t(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def q56_grouped_agg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregation via a GROUPED_AGG pandas UDF (Arrow-batched
    Python UDAF): per-event-type value spread (max - min). The UDAF path
    is for aggregations with no built-in equivalent — each group's values
    arrive as one pandas Series per task, partials combine per the
    groupBy shuffle. Spread of IEEE doubles is exact across engines
    (max/min/subtract involve no accumulation order)."""
    import pandas as pd

    def _spread(v):
        return float(v.max() - v.min())

    # set real type objects: the module-wide `from __future__ import
    # annotations` would otherwise hand pandas_udf string annotations,
    # which its Series->scalar (GROUPED_AGG) signature inference rejects
    _spread.__annotations__ = {"v": pd.Series, "return": float}
    value_spread = F.pandas_udf(_spread, "double")

    def _n(v):
        return len(v)

    _n.__annotations__ = {"v": pd.Series, "return": int}
    value_n = F.pandas_udf(_n, "long")

    # NB: Spark disallows mixing GROUPED_AGG pandas UDFs with built-in
    # aggregates in one agg(), so the row count is a pandas UDAF too
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        value_spread("value").alias("spread"),
        value_n("value").alias("n"),
    )


def q57_group_rank_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch group-map applyInPandas: per-user event ranking computed in
    Python (numpy lexsort on (value, event_id) — deterministic ties).
    The group-map pattern is the escape hatch for per-group logic the
    built-ins can't express (model scoring, curve fitting); each group
    becomes one Arrow batch in one task after the groupBy shuffle.
    Integer output -> exact oracle (row_number equivalent)."""
    import numpy as np
    import pandas as pd

    def rank_group(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.lexsort((pdf["event_id"].to_numpy(), pdf["value"].to_numpy()))
        rank = np.empty(len(pdf), dtype=np.int32)
        rank[order] = np.arange(1, len(pdf) + 1, dtype=np.int32)
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "value_rank": rank,
            }
        )

    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "value")
    return ev.groupBy("user_id").applyInPandas(
        rank_group, schema="user_id bigint, event_id bigint, value_rank int"
    )


def q58_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity day (cohort),
    counted by day-offset of each later activity — the standard
    engagement triangle. One window (min day per user, no sort needed --
    min over unbounded frame) + one distinct aggregate; shuffles carry
    (user, day) pairs. Exact integer outputs."""
    ev = _t(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id")
    with_cohort = days.withColumn("cohort_day", F.min("day").over(w))
    return (
        with_cohort.groupBy(
            "cohort_day",
            F.datediff("day", F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def q59_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-session funnel: sessions that contain a click, and among
    those, sessions where a purchase follows the first click — a
    composition of sessionize (30-min gap) + conditional ordered
    aggregation. min(ts) FILTER (event=click) then an exists-after check,
    all in one grouped pass over the sessionized rows."""
    from ..operators.relational import sessionize

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    s = sessionize(ev, user_col="user_id", ts_col="ts", gap_seconds=1800)
    agg = s.groupBy("user_id", "session_seq").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
            "first_click"
        ),
        F.max(F.col("ts")).alias("last_ts"),
        F.count(F.lit(1)).alias("n_events"),
        F.max(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("last_purchase"),
    )
    return agg.select(
        "user_id",
        F.col("session_seq").cast("bigint").alias("session_id"),
        "n_events",
        F.col("first_click").isNotNull().alias("has_click"),
        (
            F.col("first_click").isNotNull()
            & F.col("last_purchase").isNotNull()
            & (F.col("last_purchase") >= F.col("first_click"))
        ).alias("converted"),
    )


def q60_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete percentiles (percentile_disc): the smallest actual data
    value at-or-above each rank — unlike q26's continuous interpolation,
    the result is always a real row value, which matters for quantile
    CUTOFFS on skewed money data. Exact distributed sort-based rank."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("p50_cont"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)")
        .alias("p50_disc"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY o_totalprice)")
        .alias("p95_disc"),
        F.count(F.lit(1)).alias("n"),
    )


def q61_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg WITHIN GROUP): nation roster
    per region. Deterministic because the order-by key is unique within
    the group; at scale listagg concatenates after the per-group sort,
    so memory is bounded by group payload (keep groups small — this is a
    dim-side op, not a fact-side one)."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    j = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return j.groupBy("r_name").agg(
        F.expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)").alias(
            "nations"
        ),
        F.count(F.lit(1)).alias("n_nations"),
    )


def q62_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic: under Spark 4's ANSI mode, /0 and overflow
    THROW; try_divide/try_multiply return NULL instead — the contract for
    dirty-data math at scale, where one bad row must not kill a 100 TB
    job. Returns per-row safe ratios incl. engineered zero denominators."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 5 == 0)
    denom = F.when(F.col("l_linenumber") % 3 == 0, F.lit(0.0)).otherwise(
        F.col("l_quantity")
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(F.col("l_extendedprice"), denom).alias("price_per_unit"),
        F.try_divide(F.lit(1.0), F.col("l_quantity") - F.col("l_quantity"))
        .alias("always_null"),
    )


def q63_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via mergeable bitmaps (bitmap_bit_position
    / bitmap_construct_agg / bitmap_count): each partition builds a
    fixed-size bitmap chunk, chunks OR together associatively — exact
    like countDistinct but with sketch-like mergeability, so a 100 TB
    distinct is a bitmap-OR rollup, not a shuffle of every key. Ints must
    be dense-ish (bitmap is positional); user_id qualifies."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
            F.expr("bitmap_bit_position(user_id)").alias("pos"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.expr("bitmap_count(bitmap_construct_agg(pos))").alias("c"))
        .groupBy("event_type")
        .agg(F.sum("c").alias("n_users"))
    )


def q64_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): hierarchy walk over the
    implicit binary tree on part keys (parent = key div 2), emitting each
    node's depth — the transitive-closure query class (org charts, BOM
    explosion, graph reachability) that previously needed a driver-side
    loop (cf. operators.dedup connected components). Each iteration is
    one equi-join against the frontier; Spark materializes the frontier
    per step, so work is O(edges) total like the iterative formulation."""
    _t(spark, sf_dir, "part").createOrReplaceTempView("part_v")
    return spark.sql(
        """
WITH RECURSIVE tree(pk, depth) AS (
  SELECT CAST(1 AS BIGINT) AS pk, 1 AS depth
  UNION ALL
  SELECT p.p_partkey, t.depth + 1
  FROM part_v p JOIN tree t ON p.p_partkey DIV 2 = t.pk
  WHERE p.p_partkey > 1
)
SELECT pk, depth FROM tree
"""
    )


def q65_map_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType end-to-end: per-user map of event_type -> count built with
    map_from_entries, filtered with map_filter (drop singleton types),
    then exploded back to rows. Maps are the natural carrier for sparse
    per-entity feature bags; building them post-aggregation keeps the
    map payload out of the shuffle (only (user, type, n) rows move)."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    maps = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "n")))
        ).alias("type_counts")
    )
    filtered = maps.select(
        "user_id",
        F.map_filter("type_counts", lambda k, v: v > 1).alias("type_counts"),
    )
    return filtered.select(
        "user_id", F.explode("type_counts").alias("event_type", "n")
    )


def q66_array_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array analytics at the query surface: per order,
    collect the sorted quantity basket, then pure array math — basket
    size, share of lines above qty 25 (F.filter), basket sum
    (F.aggregate), largest gap between consecutive sorted quantities
    (F.zip_with on shifted slices). One shuffle (the collect_list);
    everything after is map-side array code."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 7 == 0)
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list(F.col("l_quantity").cast("long"))).alias(
            "qs"
        )
    )
    qs = F.col("qs")
    n = F.size(qs)
    return baskets.select(
        "l_orderkey",
        n.cast("bigint").alias("n_lines"),
        F.size(F.filter(qs, lambda q: q > 25)).cast("bigint").alias("n_big"),
        F.aggregate(qs, F.lit(0).cast("long"), lambda a, q: a + q).alias(
            "qty_sum"
        ),
        F.when(
            n >= 2,
            F.array_max(
                F.zip_with(
                    F.slice(qs, 2, 1000),
                    F.slice(qs, 1, 1000),
                    lambda hi, lo: hi - lo,
                )
            ),
        ).alias("max_gap"),
    )


def q67_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling summary (ANALYZE-style quality report): null/
    distinct/min/max per profiled column in one scan, unpivoted to a row
    per column. Types normalized first (date, exact decimal) so min/max
    strings render identically across engines."""
    from ..operators.relational import column_profile

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag"),
        F.to_date("l_shipdate").alias("l_shipdate"),
        F.col("l_quantity").cast("decimal(18,2)").alias("l_quantity"),
    )
    return column_profile(li, ["l_returnflag", "l_shipdate", "l_quantity"])


def q68_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostics: top-10 hottest users in the event stream with
    per-key share — one map-combined count shuffle + TakeOrderedAndProject,
    the pre-flight check before choosing a join/agg strategy."""
    from ..operators.relational import skew_report

    ev = _t(spark, sf_dir, "events")
    return skew_report(ev, "user_id", top_k=10)


def q69_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view refresh via mergeable partials: the monthly
    revenue aggregate maintained as base (orders < 1997) + delta
    (orders >= 1997), each pre-aggregated independently, merged by
    summing partials — bit-identical to the full-history aggregate the
    oracle computes, without rescanning the base period. Measures carried
    as exact BIGINT cents + counts (decomposable; avg derives)."""
    from ..operators.relational import merge_partial_aggs

    o = _t(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("ano"),
        F.month("o_orderdate").alias("mes"),
        F.col("o_totalprice"),
        F.col("o_orderdate"),
    )
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")

    def part_agg(part):
        return part.groupBy("ano", "mes").agg(
            F.sum(cents).alias("price_cents"),
            F.count(F.lit(1)).alias("n_orders"),
        )

    base = part_agg(o.filter(F.col("o_orderdate") < F.lit("1997-01-01")))
    delta = part_agg(o.filter(F.col("o_orderdate") >= F.lit("1997-01-01")))
    return merge_partial_aggs(
        base.unionByName(delta), ["ano", "mes"], ["price_cents", "n_orders"]
    )


def q73_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping-priority): segment-filtered customers
    broadcast into the orders ⋈ lineitem shuffle join, revenue per
    not-yet-shipped order, deterministic top-10 (revenue desc with full
    tiebreak). Revenue uses the q39 exactness idiom: one double product
    quantized to DECIMAL(18,6) per row, decimal sum, one final double
    cast."""
    cutoff = "1998-01-01"
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(cutoff)
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(cutoff)
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    j = li.join(o, li.l_orderkey == o.o_orderkey).join(
        F.broadcast(c), F.col("o_custkey") == c.c_custkey
    )
    agg = j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,6)"
            )
        )
        .cast("double")
        .alias("revenue")
    )
    return (
        agg.orderBy(
            F.col("revenue").desc(),
            F.col("o_orderdate").asc(),
            F.col("l_orderkey").asc(),
        )
        .limit(10)
        .select(
            "l_orderkey",
            "revenue",
            F.to_date("o_orderdate").alias("order_date"),
            "o_orderpriority",
        )
    )


def q74_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): per-part average
    quantity as a correlated threshold, revenue of lineitems below 20%
    of their part's average. The threshold compare is EXACT integers —
    qty < 0.2*avg(qty) rewritten as qty_e2 * 5 * cnt < sum_e2 (positive
    counts), so no float average can flip a boundary row between
    engines. Brand filter broadcast; one shuffle for the per-part
    stats, broadcast back (brand subsets are tiny)."""
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#4"
    ).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (F.col("l_quantity").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("qty_e2"),
        "l_extendedprice",
    )
    li_b = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    stats = li_b.groupBy("l_partkey").agg(
        F.sum("qty_e2").alias("sum_e2"),
        F.count(F.lit(1)).alias("cnt"),
    )
    filtered = li_b.join(F.broadcast(stats), "l_partkey").filter(
        F.col("qty_e2") * 5 * F.col("cnt") < F.col("sum_e2")
    )
    return filtered.agg(
        (exact_sum("l_extendedprice", 2) / 7.0).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q75_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): a HAVING-qualified key
    set (orders whose exact-decimal quantity total exceeds the
    threshold) joined back to the detail rows and enriched with
    customer attributes — the aggregate-then-rejoin pattern missing
    from the q-inventory until now. The qualifying-keys frame is tiny
    (HAVING-selective) and broadcasts into the detail join; quantity
    totals compare as exact decimals so no float sum can flip a
    boundary order between engines. Deterministic top-20 by
    (o_totalprice desc, full tiebreak)."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("_tq"))
        .filter(F.col("_tq") > 300)
        .select("l_orderkey")
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    j = (
        li.join(F.broadcast(big), "l_orderkey")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
    )
    agg = j.groupBy(
        "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    ).agg(F.sum(qty).cast("double").alias("total_qty"))
    return (
        agg.orderBy(
            F.col("o_totalprice").desc(),
            F.col("o_orderdate").asc(),
            F.col("o_orderkey").asc(),
        )
        .limit(20)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.to_date("o_orderdate").alias("order_date"),
            "o_totalprice",
            "total_qty",
        )
    )


def q76_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset diff / regression detection — the publish-gate operator a
    production pipeline runs between two versions of a table: full-outer
    join on the key, per-column compare, one status per key (added /
    removed / changed / unchanged). The 'new' version is derived
    deterministically from orders (every 13th key dropped, every 7th
    repriced, a synthetic key range added) so the oracle reproduces the
    exact status partition. Null-safe equality (<=>) keeps NULL columns
    from misclassifying as changed. The added-key offset is max(
    o_orderkey) + 1 from the table itself (broadcast 1-row aggregate),
    so the synthetic range k + max + 1 is STRICTLY greater than max
    even for k = 0 — provably disjoint from real keys at ANY scale
    factor (a bare +max collides at k = 0; a fixed 10M literal would
    collide past SF ~1.6, TPC-H max orderkey being 6M x SF)."""
    old = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    mx = old.agg(F.max("o_orderkey").alias("_mx"))
    new = (
        old.filter(F.col("o_orderkey") % 13 != 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.when(
                F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1
            ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
            "o_orderdate",
        )
        .unionByName(
            old.filter(F.col("o_orderkey") % 11 == 0)
            .crossJoin(F.broadcast(mx))
            .select(
                (F.col("o_orderkey") + F.col("_mx") + 1).alias(
                    "o_orderkey"
                ),
                "o_orderstatus",
                "o_totalprice",
                "o_orderdate",
            )
        )
    )
    # explicit presence markers: a side is absent iff its marker is NULL
    # after the full-outer join — never inferred from data columns, which
    # could legitimately be all-NULL in a row that EXISTS.
    o = old.toDF("k", "st_o", "tp_o", "od_o").withColumn("_po", F.lit(1))
    n = new.toDF("k", "st_n", "tp_n", "od_n").withColumn("_pn", F.lit(1))
    j = o.join(n, "k", "full_outer")
    status = (
        F.when(F.col("_po").isNull(), "added")
        .when(F.col("_pn").isNull(), "removed")
        .when(
            F.col("st_o").eqNullSafe(F.col("st_n"))
            & F.col("tp_o").eqNullSafe(F.col("tp_n"))
            & F.col("od_o").eqNullSafe(F.col("od_n")),
            "unchanged",
        )
        .otherwise("changed")
    )
    return j.select(F.col("k").alias("o_orderkey"), status.alias("status"))


def q77_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust statistics per group: median + median-absolute-deviation
    (the outlier-resistant spread measure a data-quality gate should use
    on skewed money/sensor columns instead of stddev) and the count of
    robust outliers (|v - median| > 3 * MAD). Exact end to end: values
    quantize to BIGINT cents, both medians are percentile_disc (an
    actual data value, q60's proven cross-engine contract), and the
    outlier test is an integer compare — no float mean/stddev anywhere.
    Three passes over the (type, cents) projection with the tiny
    per-group stats broadcast back; production would materialize the
    projection once."""
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("v"),
    )
    # Spark's percentile_disc returns DOUBLE even over integer input
    # (DuckDB's quantile_disc preserves the type); the value is always
    # an actual BIGINT data point, so the cast back is exact.
    # the tiny per-group frames are each consumed twice downstream —
    # checkpoint them so the corpus-side percentile aggregates run once
    # per pass (3 scans total, not one per consumer)
    med = e.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)")
        .cast("bigint")
        .alias("med_cents")
    ).transform(lineage_checkpoint)
    d = e.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("v") - F.col("med_cents"))
    )
    mad = d.groupBy("event_type").agg(
        F.min("med_cents").alias("med_cents"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY dev)")
        .cast("bigint")
        .alias("mad_cents"),
        F.count(F.lit(1)).alias("n"),
    ).transform(lineage_checkpoint)
    outliers = (
        d.join(
            F.broadcast(mad.select("event_type", "mad_cents")), "event_type"
        )
        .filter(F.col("dev") > 3 * F.col("mad_cents"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("_n_out"))
    )
    return mad.join(outliers, "event_type", "left").select(
        "event_type",
        "med_cents",
        "mad_cents",
        "n",
        F.coalesce(F.col("_n_out"), F.lit(0)).cast("bigint").alias(
            "n_outliers"
        ),
    )


def q78_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog apply — the production MERGE shape with DELETE
    handling that q47's insert/update upsert lacks: one full-outer join
    between the base table and a keyed changelog of I/U/D operations,
    op-driven CASE per key (delete drops the row, update takes the
    changelog values, insert lands new keys, untouched keys pass
    through). The changelog derives deterministically from orders
    (delete %17, update %5 with +10 reprice, insert a key range for %9
    offset by max(o_orderkey) + 1 — broadcast 1-row aggregate; the +1
    keeps k = 0 disjoint too — so inserted keys provably never collide
    with real keys at any scale factor), with delete taking precedence
    so ops are disjoint."""
    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    mx = base.agg(F.max("o_orderkey").alias("_mx"))
    k = F.col("o_orderkey")
    deletes = base.filter(k % 17 == 0).select(
        "o_orderkey", F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("c_status"),
        F.lit(None).cast("double").alias("c_price"),
        F.lit(None).cast("timestamp").alias("c_date"),
    )
    updates = base.filter((k % 17 != 0) & (k % 5 == 0)).select(
        "o_orderkey", F.lit("U").alias("op"),
        F.col("o_orderstatus").alias("c_status"),
        (F.col("o_totalprice") + 10).alias("c_price"),
        F.col("o_orderdate").alias("c_date"),
    )
    inserts = base.filter(k % 9 == 0).crossJoin(F.broadcast(mx)).select(
        (k + F.col("_mx") + 1).alias("o_orderkey"), F.lit("I").alias("op"),
        F.col("o_orderstatus").alias("c_status"),
        F.col("o_totalprice").alias("c_price"),
        F.col("o_orderdate").alias("c_date"),
    )
    changelog = deletes.unionByName(updates).unionByName(inserts)
    merged = base.withColumn("_pb", F.lit(1)).join(
        changelog, "o_orderkey", "full_outer"
    )
    applied = merged.filter(
        # drop deletes; keep base rows (changed or not) and inserts
        F.col("op").isNull() | (F.col("op") != "D")
    ).select(
        "o_orderkey",
        F.when(F.col("op").isin("U", "I"), F.col("c_status"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        F.when(F.col("op").isin("U", "I"), F.col("c_price"))
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        F.to_date(
            F.when(F.col("op").isin("U", "I"), F.col("c_date")).otherwise(
                F.col("o_orderdate")
            )
        ).alias("order_date"),
    )
    return applied


def q79_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each supplier's revenue share within its nation
    — the percent-of-total reporting primitive, in exact integer parts
    per million (cents summed exactly, one integer division against the
    nation total from a window over the ALREADY-AGGREGATED frame, so
    the window state is suppliers-per-nation, not fact rows)."""
    li = _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cents = (
        F.col("l_extendedprice").cast("decimal(18,2)") * 100
    ).cast("bigint")
    agg = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy("n_name", "s_suppkey")
        .agg(F.sum(cents).alias("rev_cents"))
    )
    w = Window.partitionBy("n_name")
    return agg.select(
        "n_name",
        "s_suppkey",
        "rev_cents",
        F.expr("rev_cents * 1000000L").alias("_num"),
    ).withColumn(
        "share_ppm",
        F.expr("_num div sum(rev_cents) over (partition by n_name)"),
    ).select("n_name", "s_suppkey", "rev_cents", "share_ppm")


def q80_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC time bars — the classic time-series downsample: per (user,
    hour) the opening value (first by time), high, low, and closing
    value (last by time), as one hash aggregate with min_by/max_by (no
    window, no sort of the fact stream). Determinism under timestamp
    ties: the ordering key is a fixed-width zero-padded
    (epoch-micros, event_id) string, so lexicographic order equals
    numeric order and is total — the same min_by row in any engine.
    Values in exact BIGINT cents."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.date_trunc("hour", F.col("ts"))).alias("hour_us"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("v"),
        F.concat(
            F.lpad(F.unix_micros(F.col("ts")).cast("string"), 20, "0"),
            F.lpad(F.col("event_id").cast("string"), 20, "0"),
        ).alias("k"),
    )
    return e.groupBy("user_id", "hour_us").agg(
        F.expr("min_by(v, k)").alias("open_cents"),
        F.max("v").alias("high_cents"),
        F.min("v").alias("low_cents"),
        F.expr("max_by(v, k)").alias("close_cents"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q81_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top part pairs ordered together
    — distinct parts per order, self-join on the order key (shuffle is
    co-partitioned on the transactional key; pair cardinality is
    sum-of-squares of basket sizes, bounded by the ~7-line TPC-H
    baskets), deterministic top-25 with full tiebreak."""
    d = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = d.toDF("o", "p1")
    b = d.toDF("o", "p2")
    pairs = (
        a.join(b, "o")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return pairs.orderBy(
        F.col("n_orders").desc(), F.col("p1").asc(), F.col("p2").asc()
    ).limit(25)


def q82_running_balance_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floor-at-zero running balance — the inventory/credit recurrence
    b_i = max(0, b_{i-1} + delta_i), which LOOKS non-associative (and is
    usually mis-implemented with a per-key Python loop) but has the
    closed form b_i = s_i - min(0, running_min(s)) over plain prefix
    sums — so it runs as two stacked windows on one shuffle, exact
    BIGINT cents end to end, at any scale. Deterministic ordering by
    (ts, event_id)."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("us"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("delta_cents"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # two stacked windows over the SAME partitioning/order (one shuffle,
    # Catalyst fuses them into a single Window operator chain)
    staged = e.withColumn("_s", F.sum("delta_cents").over(run))
    return staged.select(
        "user_id",
        "event_id",
        "us",
        "delta_cents",
        (F.col("_s") - F.least(F.lit(0), F.min("_s").over(run)))
        .cast("bigint")
        .alias("balance_cents"),
    )


def q83_basket_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-SAFE market-basket co-occurrence — q81 with the hot-basket
    guard a production basket table needs: each basket is capped to its
    top-5 items by global support (deterministic (support DESC, partkey)
    rank) BEFORE the self-join, so per-basket pair fan-out is bounded by
    25 regardless of basket size — a 1M-item spam basket contributes 10
    pairs, not 5 * 10^11. The support table is one hash-agg; the rank
    window and the pair self-join share the basket-key partitioning.
    See SCALING.md (basket pairs)."""
    d = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    support = d.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("_support")
    )
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("_support").desc(), F.col("l_partkey").asc()
    )
    top = (
        d.join(support, "l_partkey")
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= 5)
        .select("l_orderkey", "l_partkey")
    )
    a = top.toDF("o", "p1")
    b = top.toDF("o", "p2")
    pairs = (
        a.join(b, "o")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return pairs.orderBy(
        F.col("n_orders").desc(), F.col("p1").asc(), F.col("p2").asc()
    ).limit(25)


def q110_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive hierarchy traversal — the WITH RECURSIVE shape Spark
    SQL lacks, via pointer doubling (operators.relational.
    hierarchy_root_depth): a deterministic synthetic org tree over the
    customer keys (customers < 10 are roots pointing at themselves;
    every other customer reports to c_custkey div 7) resolved to each
    node's ROOT and DEPTH in O(log depth) self-joins. The oracle runs
    the genuine recursive CTE, so a hash match proves the doubling fold
    equals sequential recursion."""
    from ..operators.relational import hierarchy_root_depth

    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    parent = (
        F.when(F.col("c_custkey") < 10, F.col("c_custkey"))
        .otherwise(F.expr("c_custkey div 7"))
    )
    edges = cust.select(
        F.col("c_custkey").cast("bigint").alias("node"),
        parent.cast("bigint").alias("parent"),
    )
    out = hierarchy_root_depth(edges, max_rounds=4)
    return out.select(
        F.col("node").cast("bigint").alias("node"),
        F.col("root").cast("bigint").alias("root"),
        F.col("depth").cast("bigint").alias("depth"),
    )


def q109_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted median per group — the smallest price (exact
    cents) whose cumulative quantity-weight reaches half the group's
    total weight. percentile()'s weighted form interpolates in
    floating point; this is the order-statistic definition, all
    integer, so it cross-engine matches bit for bit.

    Scale shape: one hash-agg collapses the corpus to DISTINCT
    (group, value) rows with summed weights BEFORE any prefix sum —
    but near-continuous values (prices) keep ~corpus cardinality, so
    the cumulative weight comes from relational.grouped_running_sum
    (range partition + per-(partition, group) offsets, P x G-way
    parallel) rather than Window.partitionBy(l_returnflag), whose 3
    partitions each sorted ~200k rows on ONE task — the r15
    LOWCARD-WINDOW audit's catch beyond the mixing family. No global
    sort, no driver-side state."""
    li = _t(spark, sf_dir, "lineitem")
    v = li.select(
        "l_returnflag",
        F.expr(
            "cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)"
        ).alias("cents"),
        F.expr("cast(l_quantity as bigint)").alias("w"),
    )
    agg = v.groupBy("l_returnflag", "cents").agg(F.sum("w").alias("wv"))
    from ..operators.relational import grouped_running_sum

    c = grouped_running_sum(
        agg,
        ["l_returnflag"],
        [F.col("cents")],
        "wv",
        "_cum",
        total_col="_tot",
    )
    return (
        c.filter(F.col("_cum") * 2 >= F.col("_tot"))
        .groupBy("l_returnflag")
        .agg(
            F.min("cents").alias("wmedian_cents"),
            F.max("_tot").alias("w_total"),
        )
        .select("l_returnflag", "wmedian_cents", "w_total")
    )


def q111_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over the corpus-safe capped baskets
    (q83's per-basket top-5-by-support guard): for each directed rule
    antecedent -> consequent, SUPPORT (co-occurrence count),
    CONFIDENCE = n_pair/n_ante and LIFT = n_pair*N/(n_ante*n_cons),
    both as exact integer ppm with the multiply widened to
    decimal(38,0) so no scale overflows (the q86/x9 contract —
    non-ANSI bigint would wrap silently at ~10^10 baskets).

    Plan: support hash-agg + rank window + capped pair self-join (all
    shared with q83, fan-out bounded at 25 pairs/basket), one
    broadcast of the basket-count scalar, two broadcast joins against
    the per-item counts. Rules with support >= 3, top-50 by
    (lift DESC, conf DESC, antecedent, consequent)."""
    d = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    support = d.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("_support")
    )
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("_support").desc(), F.col("l_partkey").asc()
    )
    top = (
        d.join(support, "l_partkey")
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= 5)
        .select("l_orderkey", "l_partkey")
        # localCheckpoint: ``top`` feeds FOUR consumers (n_baskets, the
        # per-item counts, and both sides of the pair self-join);
        # without lineage truncation each consumer re-derives the
        # distinct -> support-join -> rank pipeline and the final plan
        # re-scans lineitem ~14x (28 scans / 45 exchanges, VERDICT r10
        # item 2). Truncated, the capped-basket frame is computed once
        # and served from block storage — the repo-standard
        # multi-consumer pattern (operators/mixing.py).
        .transform(lineage_checkpoint)
    )
    n_baskets = top.agg(
        F.count_distinct("l_orderkey").alias("_nb")
    )
    item = top.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count(F.lit(1)).alias("n_item")
    )
    a = top.toDF("o", "p1")
    b = top.toDF("o", "p2")
    pairs = (
        a.join(b, "o")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= 3)
    )
    rules = pairs.select(
        F.col("p1").alias("antecedent"),
        F.col("p2").alias("consequent"),
        "n_pair",
    ).unionAll(
        pairs.select(
            F.col("p2").alias("antecedent"),
            F.col("p1").alias("consequent"),
            "n_pair",
        )
    )
    ia = item.toDF("antecedent", "n_ante")
    ic = item.toDF("consequent", "n_cons")
    out = (
        rules.join(F.broadcast(ia), "antecedent")
        .join(F.broadcast(ic), "consequent")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "antecedent",
            "consequent",
            "n_pair",
            "n_ante",
            "n_cons",
            F.expr(
                "cast(cast(n_pair as decimal(38,0)) * 1000000"
                " div cast(n_ante as decimal(38,0)) as bigint)"
            ).alias("conf_ppm"),
            F.expr(
                "cast(cast(n_pair as decimal(38,0)) * cast(_nb as"
                " decimal(38,0)) * 1000000 div (cast(n_ante as"
                " decimal(38,0)) * cast(n_cons as decimal(38,0)))"
                " as bigint)"
            ).alias("lift_ppm"),
        )
    )
    return out.orderBy(
        F.col("lift_ppm").desc(),
        F.col("conf_ppm").desc(),
        F.col("antecedent").asc(),
        F.col("consequent").asc(),
    ).limit(50)


def q112_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map pruning audit (operators.relational.zonemap_prune_stats):
    lineitem bucketed into insertion-order pseudo-files (l_orderkey div
    1024), per-file min/max zone maps on ship_date, and the one-row
    skip report for a 1997 range predicate — measuring what file-level
    data skipping actually saves under the table's native layout (the
    planner-side half of parquet row-group pruning; contrast with the
    x12 Z-order layout). Two map-side-combining aggregates, no joins."""
    from ..operators.relational import zonemap_prune_stats

    li = _t(spark, sf_dir, "lineitem").select(
        F.expr("l_orderkey div 1024").alias("file_id"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
    )
    return zonemap_prune_stats(
        li,
        F.col("file_id"),
        "ship_date",
        F.lit("1997-01-01").cast("date"),
        F.lit("1997-12-31").cast("date"),
    )


def q113_partition_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-invariant integrity manifest of the orders table by month
    (operators.relational.partition_manifest): per yyyy-MM partition,
    row count + sum and bit_xor folds of a portable 32-bit md5-prefix
    row hash over (orderkey, custkey, status, date, priority). The
    checksum a 100 TB pipeline records after every compaction/rewrite
    (c9/x12 produce exactly such rewrites) and diffs per partition to
    localize corruption without re-reading both copies. Map-only hash +
    one combine-heavy agg; output is O(months), not O(rows)."""
    from pyspark.sql import functions as F

    from ..operators.relational import partition_manifest

    o = _t(spark, sf_dir, "orders")
    row = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.col("o_orderpriority"),
    )
    return partition_manifest(
        o, F.date_format("o_orderdate", "yyyy-MM"), row, "order_month"
    )


def q114_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey Markov transition matrix over the events stream
    (operators.relational.event_transitions): per (event_type -> next)
    step count and conditional probability in exact ppm, timeline order
    (ts, event_id). One per-user lead window + two hash aggs + a
    types-bounded broadcast denominator join — the matrix is
    O(|types|^2) at any corpus size."""
    from ..operators.relational import event_transitions

    ev = _t(spark, sf_dir, "events")
    return event_transitions(ev)


def q115_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-histogram quantile sketch over lineitem extended
    price (operators.relational.histogram_quantiles) — the NO-SORT
    production percentile path: p50/p90/p99 located to 128-bin
    resolution in one histogram agg (bounds from a 1-row min/max agg,
    the x5 broadcast pattern), rank arithmetic and prefix sum all on
    the 128-row aggregated frame. Values bridge through the house
    DECIMAL(18,2) cast to exact cents (double->bigint casts TRUNCATE
    in Spark but ROUND in DuckDB; the decimal bridge is exact in
    both), every step integer `div` — hash-exact vs the DuckDB
    replay. The offline twin of st20's streaming fold."""
    from ..operators.relational import histogram_quantiles

    li = _t(spark, sf_dir, "lineitem")
    cents = F.expr(
        "cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)"
    )
    return histogram_quantiles(
        li, cents, n_bins=128, quantiles_ppm=[500000, 900000, 990000]
    )


def q116_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness tolerance
    (operators.relational.asof_join, tolerance_days=30): q24's
    match — each order joined to the customer's latest prior
    high-revenue day — but a match older than 30 days is treated as NO
    match (the pandas merge_asof(tolerance) / market-data "stale quote"
    semantics). The bound rides the carried struct on the same
    single-shuffle union+window plan: no second window, no range
    join. Oracle replays via a windowed latest-match + the same
    datediff predicate."""
    from ..operators.relational import asof_join

    o = _t(spark, sf_dir, "orders")
    left = o.select(
        "o_orderkey", "o_custkey", F.to_date("o_orderdate").alias("order_date")
    )
    marks = (
        o.groupBy("o_custkey", F.to_date("o_orderdate").alias("_mark_ts"))
        .agg(F.max("o_totalprice").cast("double").alias("day_max"))
        .filter(F.col("day_max") > 300000)
        .select(
            "o_custkey", "_mark_ts", F.col("_mark_ts").alias("mark_date"),
            "day_max",
        )
    )
    return asof_join(
        left, marks, on="o_custkey", left_ts="order_date",
        right_ts="_mark_ts", tolerance_days=30,
    )
