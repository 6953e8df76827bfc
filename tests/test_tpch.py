"""Unit tests for the extended TPC-H batch (plans/queries_tpch.py,
q84-q93) — semantic invariants on sf0.001 that a hash-match alone would
not surface (share bounds, histogram mass conservation, anti-join
complementarity, plan shapes)."""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_etl_pyspark_inmet_spark.plans import queries_tpch as T

SF = "/root/testdata/sf0.001"


def test_q84_q6_matches_unfiltered_recompute(spark):
    row = T.q84_tpch_q6(spark, SF).collect()[0]
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    manual = li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).count()
    assert row.n_rows == manual
    assert row.revenue > 0


def test_q85_q7_directions_are_symmetric_filter(spark):
    rows = T.q85_tpch_q7(spark, SF).collect()
    pairs = {(r.supp_nation, r.cust_nation) for r in rows}
    assert pairs <= {("NATION_1", "NATION_2"), ("NATION_2", "NATION_1")}
    assert all(1996 <= r.l_year <= 1997 for r in rows)


def test_q86_q8_share_bounded_and_consistent(spark):
    for r in T.q86_tpch_q8(spark, SF).collect():
        assert 0 <= r.nation_rev_e6 <= r.total_rev_e6
        assert 0 <= r.share_e6 <= 1_000_000
        # exact floor-division contract
        assert r.share_e6 == r.nation_rev_e6 * 1_000_000 // r.total_rev_e6


def test_q87_q10_sorted_desc_and_bounded(spark):
    rows = T.q87_tpch_q10(spark, SF).collect()
    assert len(rows) <= 20
    revs = [r.revenue for r in rows]
    assert revs == sorted(revs, reverse=True)


def test_q88_q13_histogram_conserves_customers(spark):
    rows = T.q88_tpch_q13(spark, SF).collect()
    n_cust = spark.read.parquet(f"{SF}/customer.parquet").count()
    assert sum(r.custdist for r in rows) == n_cust


def test_q89_q14_share_is_exact_floor_div(spark):
    r = T.q89_tpch_q14(spark, SF).collect()[0]
    assert 0 <= r.promo_e6 <= r.total_e6
    assert r.promo_pct_e6 == r.promo_e6 * 100_000_000 // r.total_e6


def test_q90_q15_selects_exactly_the_max(spark):
    rows = T.q90_tpch_q15(spark, SF).collect()
    assert rows, "at least one top supplier"
    tops = {r.total_rev_e6 for r in rows}
    assert len(tops) == 1  # all tied at the max by definition


def test_q92_q21_waited_suppliers_multi_supplier_only(spark):
    """Every reported supplier must come from an order with >1 distinct
    supplier where it uniquely shipped last — recompute via SQL."""
    out = {(r.s_suppkey, r.numwait) for r in T.q92_tpch_q21(spark, SF).collect()}
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    o = spark.read.parquet(f"{SF}/orders.parquet").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    lif = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        F.unix_micros(F.col("l_shipdate").cast("timestamp")).alias("us"),
    )
    stats = lif.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("ns"), F.max("us").alias("mx")
    )
    at_max = (
        lif.join(stats, "l_orderkey")
        .filter(F.col("us") == F.col("mx"))
        .groupBy("l_orderkey")
        .agg(
            F.count_distinct("l_suppkey").alias("nam"),
            F.max("l_suppkey").alias("supp"),
            F.first("ns").alias("ns"),
        )
    )
    expected = (
        at_max.filter((F.col("ns") > 1) & (F.col("nam") == 1))
        .groupBy("supp")
        .agg(F.count(F.lit(1)).alias("nw"))
    )
    exp = {(r.supp, r.nw) for r in expected.collect()}
    # engine output is top-100 of exp
    assert out <= exp
    assert len(out) == min(len(exp), 100)


def test_q93_q22_rich_and_recent_orderless(spark):
    rows = T.q93_tpch_q22(spark, SF).collect()
    c = spark.read.parquet(f"{SF}/customer.parquet")
    o = spark.read.parquet(f"{SF}/orders.parquet").filter(
        F.col("o_orderdate") >= "2000-01-01"
    )
    # complementarity: numcust total == rich customers minus those with
    # recent orders
    bal = c.select(
        "c_custkey",
        (F.col("c_acctbal").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("b"),
    )
    g = bal.filter(F.col("b") > 0).agg(
        F.sum("b").alias("s"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    rich = bal.filter(F.col("b") * g.n > g.s)
    with_recent = rich.join(
        o, rich.c_custkey == o.o_custkey, "left_semi"
    ).count()
    assert sum(r.numcust for r in rows) == rich.count() - with_recent


def test_q86_q8_part_and_dims_broadcast(spark):
    plan = T.q86_tpch_q8(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bloom_prune_equals_plain_semi_join(spark):
    from airflow_etl_pyspark_inmet_spark.operators.relational import (
        bloom_prune_semi_join,
    )

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber"
    )
    keys = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    got = {
        (r.l_orderkey, r.l_linenumber)
        for r in bloom_prune_semi_join(
            li, keys, fact_key="l_orderkey", key_col="o_orderkey"
        ).collect()
    }
    want = {
        (r.l_orderkey, r.l_linenumber)
        for r in li.join(
            keys, li.l_orderkey == keys.o_orderkey, "left_semi"
        ).collect()
    }
    assert got == want and len(want) > 0


def test_bloom_prune_tiny_filter_still_exact(spark):
    """With a deliberately undersized filter (high FP rate) the verify
    join must still remove every false positive."""
    from airflow_etl_pyspark_inmet_spark.operators.relational import (
        bloom_prune_semi_join,
    )

    fact = spark.range(0, 5000).select(F.col("id").alias("k"), F.lit(1).alias("x"))
    keys = spark.range(0, 5000, 100).select(F.col("id").alias("kk"))  # 50 keys
    out = bloom_prune_semi_join(
        fact, keys, fact_key="k", key_col="kk", n_bits=256, n_hashes=2
    )
    got = sorted(r.k for r in out.collect())
    assert got == list(range(0, 5000, 100))


def test_q96_expectations_all_pass_on_clean_data(spark):
    rows = T.q96_expectations(spark, SF).collect()
    assert len(rows) == 9
    assert all(r.ok for r in rows), [
        (r.table_name, r.constraint, r.observed) for r in rows if not r.ok
    ]


def test_q96_expectations_catches_planted_violations(spark):
    """Planted orphans and domain violations must flip their rows."""
    import os
    import tempfile

    from pyspark.sql import functions as F2

    with tempfile.TemporaryDirectory() as tmp:
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        bad = li.limit(5).withColumn(
            "l_orderkey", F2.col("l_orderkey") + 900000000
        ).withColumn("l_discount", F2.lit(3.0))
        li.unionByName(bad).write.parquet(f"{tmp}/lineitem.parquet")
        for t in ("orders", "part"):
            spark.read.parquet(f"{SF}/{t}.parquet").write.parquet(
                f"{tmp}/{t}.parquet"
            )
        status = {
            (r.table_name, r.constraint): r.ok
            for r in T.q96_expectations(spark, tmp).collect()
        }
    assert status[("lineitem", "ri_orderkey_in_orders")] is False
    assert status[("lineitem", "discount_in_unit_interval")] is False
    assert status[("orders", "orderkey_unique")] is True


def test_q97_islands_disjoint_and_ordered(spark):
    """Merged islands per customer must be disjoint, ordered, and
    conserve orders for multi-island customers."""
    rows = T.q97_interval_merge(spark, SF).collect()
    assert rows
    by_cust = {}
    for r in rows:
        by_cust.setdefault(r.o_custkey, []).append(r)
    for cust, isl in by_cust.items():
        isl.sort(key=lambda r: r.island)
        assert [r.island for r in isl] == list(range(1, len(isl) + 1))
        assert len(isl) >= 2
        for a, b in zip(isl, isl[1:]):
            # strictly disjoint: next island starts after this one ends
            assert b.island_start_us > a.island_end_us
            assert a.island_start_us <= a.island_end_us


def test_q97_hand_case_overlap_chain(spark):
    """Three overlapping windows chain into one island; a later one is
    its own island."""
    import datetime as dt

    rows = [
        (1, 10, dt.datetime(2024, 1, 1)),
        (1, 11, dt.datetime(2024, 1, 20)),   # overlaps island 1
        (1, 12, dt.datetime(2024, 2, 10)),   # overlaps via order 11
        (1, 13, dt.datetime(2024, 6, 1)),    # far later -> island 2
        (2, 20, dt.datetime(2024, 1, 1)),    # single island -> excluded
    ]
    df = spark.createDataFrame(
        rows, "o_custkey long, o_orderkey long, o_orderdate timestamp"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(f"{tmp}/orders.parquet")
        got = T.q97_interval_merge(spark, tmp).collect()
    assert [(r.o_custkey, r.island, r.n_orders) for r in got] == [
        (1, 1, 3),
        (1, 2, 1),
    ]


def test_skew_split_join_equals_plain_join_with_planted_hot_key(spark):
    """A key owning 40% of the fact must route through the broadcast
    path and the union must equal the plain inner join exactly."""
    from airflow_etl_pyspark_inmet_spark.operators.relational import (
        skew_split_join,
    )

    fact_rows = [(7, i) for i in range(400)] + [
        (k % 5, 1000 + k) for k in range(600)
    ]
    fact = spark.createDataFrame(fact_rows, "k long, rid long")
    dim = spark.createDataFrame(
        [(i, f"seg{i % 3}") for i in range(10)], "dk long, seg string"
    )
    got = {
        (r.k, r.rid, r.seg)
        for r in skew_split_join(
            fact, dim, fact_key="k", dim_key="dk", hot_threshold=100
        ).collect()
    }
    want = {
        (r.k, r.rid, r.seg)
        for r in fact.join(dim, fact.k == dim.dk).collect()
    }
    assert got == want and len(want) == 1000


def test_skew_split_join_all_cold_and_all_hot_degenerate(spark):
    from airflow_etl_pyspark_inmet_spark.operators.relational import (
        skew_split_join,
    )

    fact = spark.createDataFrame(
        [(i % 4, i) for i in range(40)], "k long, rid long"
    )
    dim = spark.createDataFrame([(i,) for i in range(4)], "dk long")
    plain = fact.join(dim, fact.k == dim.dk).count()
    # threshold above every count -> pure shuffle path
    assert skew_split_join(fact, dim, "k", "dk", hot_threshold=1000).count() == plain
    # threshold 0 -> every key hot, pure broadcast path
    assert skew_split_join(fact, dim, "k", "dk", hot_threshold=0).count() == plain


def test_q99_pit_version_is_latest_at_or_before(spark):
    """Hand-built SCD2 history: orders must pick exactly the version in
    effect at their date, NULL before the first version."""
    import datetime as dt
    import tempfile

    ev_rows = [
        (1, dt.datetime(2024, 1, 1), "A"),
        (1, dt.datetime(2024, 1, 2), "A"),   # same island
        (1, dt.datetime(2024, 3, 1), "B"),   # version 2 from 3/1
        (1, dt.datetime(2024, 5, 1), "A"),   # version 3 from 5/1
    ]
    o_rows = [
        (100, 1, dt.datetime(2023, 12, 1)),  # before all -> NULL
        (101, 1, dt.datetime(2024, 2, 15)),  # -> A (v1)
        (102, 1, dt.datetime(2024, 3, 1)),   # boundary -> B (inclusive)
        (103, 1, dt.datetime(2024, 6, 1)),   # -> A (v3)
        (104, 9, dt.datetime(2024, 6, 1)),   # unknown user -> excluded
    ]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            ev_rows, "user_id long, ts timestamp, event_type string"
        ).withColumn(
            "event_id", F.monotonically_increasing_id()
        ).withColumn("value", F.lit(1.0)).withColumn(
            "props", F.lit("{}")
        ).write.parquet(f"{tmp}/events.parquet")
        spark.createDataFrame(
            o_rows, "o_orderkey long, o_custkey long, o_orderdate timestamp"
        ).write.parquet(f"{tmp}/orders.parquet")
        got = {
            r.o_orderkey: r.version_type
            for r in T.q99_pit_scd2_join(spark, tmp).collect()
        }
    assert got == {100: None, 101: "A", 102: "B", 103: "A"}


def test_q100_sliding_distinct_brute_force(spark):
    """7-day rolling uniques equal a per-day brute-force recompute."""
    rows = T.q100_sliding_distinct(spark, SF).collect()
    assert rows
    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        F.to_date(F.col("ts").cast("timestamp")).alias("day"), "user_id"
    )
    data = ev.collect()
    import datetime as dt

    by_day = {}
    for r in data:
        by_day.setdefault(r.day, set()).add(r.user_id)
    for r in rows:
        users = set()
        for k in range(7):
            users |= by_day.get(r.target_day - dt.timedelta(days=k), set())
        assert r.n_users == len(users), r.target_day


def test_q101_concurrency_invariants(spark):
    """Sweep: active >= 0 everywhere, starts at first-day order count,
    ends at 0 on the final day (every interval closed), and the sum of
    deltas is 0."""
    rows = T.q101_active_intervals(spark, SF).collect()
    assert rows
    assert all(r.active >= 0 for r in rows)
    assert rows[-1].active == 0
    assert sum(r.delta for r in rows) == 0
    # spine is contiguous daily
    import datetime as dt

    for a, b in zip(rows, rows[1:]):
        assert b.day - a.day == dt.timedelta(days=1)


def test_c7_leaves_no_temp_table(spark, tmp_path, monkeypatch):
    """c7 lands its snapshot table in a temp dir; two calls must leave
    no ``c7snap*`` dir behind and still return the same result."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    first = T.c7_snapshot_merge_mv(spark, SF).collect()
    second = T.c7_snapshot_merge_mv(spark, SF).collect()
    assert first == second and first
    assert sorted(p.name for p in tmp_path.glob("c7snap*")) == []


def test_c6_incremental_equals_full_recompute(spark):
    """The MV-maintenance theorem on sf0.001: incremental partials ==
    full recompute over the changelog-applied table."""
    got = {(r.ano, r.mes): (r.price_cents, r.n_orders)
           for r in T.c6_incremental_refresh(spark, SF).collect()}
    o = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    k = F.col("o_orderkey")
    # replay the changelog apply row-level, then aggregate fully
    kept = o.filter(k % 17 != 0).select(
        F.when(k % 5 == 0, F.col("o_totalprice") + 10)
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
        F.col("o_orderdate").alias("d"),
    )
    ins = o.filter(k % 9 == 0).select(
        F.col("o_totalprice").alias("price"),
        F.col("o_orderdate").alias("d"),
    )
    full = (
        kept.unionByName(ins)
        .groupBy(F.year("d").alias("ano"), F.month("d").alias("mes"))
        .agg(
            F.sum(
                (F.col("price").cast("decimal(18,2)") * 100).cast("bigint")
            ).alias("pc"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    want = {(r.ano, r.mes): (r.pc, r.n) for r in full.collect()}
    assert got == want and len(want) > 0


def test_q102_emits_candidate_with_empty_child_column(spark, tmp_path):
    """r10 advice: a candidate whose sketch column yields ZERO rows
    (empty table) must still appear in the report with n_child=0 —
    the fused inner join used to silently drop it."""
    import pyspark.sql.types as T

    from airflow_etl_pyspark_inmet_spark.plans.queries_tpch import (
        q102_join_discovery,
    )

    d = str(tmp_path)
    mk = spark.createDataFrame
    mk([(1, 10, 100)], "l_orderkey bigint, l_partkey bigint, l_suppkey bigint").write.parquet(f"{d}/lineitem.parquet")
    mk([(1, 7)], "o_orderkey bigint, o_custkey bigint").write.parquet(f"{d}/orders.parquet")
    mk([(10,)], "p_partkey bigint").write.parquet(f"{d}/part.parquet")
    mk([(100,)], "s_suppkey bigint").write.parquet(f"{d}/supplier.parquet")
    mk([(7,)], "c_custkey bigint").write.parquet(f"{d}/customer.parquet")
    # events: EMPTY — its user_id candidate used to vanish
    mk([], T.StructType([T.StructField("user_id", T.LongType())])).write.parquet(f"{d}/events.parquet")

    rows = {r["child_col"]: r for r in q102_join_discovery(spark, d).collect()}
    assert "events.user_id" in rows
    ev = rows["events.user_id"]
    assert (ev["n_child"], ev["n_contained"], ev["containment_ppm"]) == (0, 0, 0)
    assert ev["n_parent"] == 1
    assert rows["lineitem.l_orderkey"]["containment_ppm"] == 1000000
    assert len(rows) == 6
