"""Semantics + plan-shape tests for the adapted-TPC-H / window / grouping
breadth queries (registry section 8).

Correctness against the DuckDB oracle is the driver gate's job
(``scripts/check_oracle.py``); these tests pin the *internal invariants*
(conditional counts partition the total, CUBE subtotals add up, anti-join
rows really have no matches) and the *physical shapes* that matter at scale
(dimension broadcasts, disjunctive predicate splitting, single-shuffle
window+agg reuse).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ambient_sound_analysis_api_spark.registry import (
    _table,
    q_agg_cube_orders,
    q_tpch_q7_volume,
    q_tpch_q8_market_share,
    q_tpch_q12_priority,
    q_tpch_q16_supplier_cnt,
    q_tpch_q19_disjunctive,
    q_tpch_q22_idle_rich,
    q_win_lag_event_gap,
    q_win_ntile_balance,
)
from tests.test_plans import explain_str


def test_q12_priority_counts_partition_the_join(spark, sf_dir):
    rows = q_tpch_q12_priority(spark, sf_dir).collect()
    from datetime import datetime

    li = _table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(datetime(1997, 1, 1)))
        & (F.col("l_shipdate") < F.lit(datetime(1998, 1, 1)))
    )
    o = _table(spark, sf_dir, "orders")
    total = li.join(o, li["l_orderkey"] == o["o_orderkey"]).count()
    assert sum(r.high_line_count + r.low_line_count for r in rows) == total


def test_q8_share_is_a_fraction(spark, sf_dir):
    for r in q_tpch_q8_market_share(spark, sf_dir).collect():
        assert 0.0 <= r.mkt_share <= 1.0


def test_q22_rows_have_no_recent_orders_and_high_balance(spark, sf_dir):
    from datetime import datetime

    out = q_tpch_q22_idle_rich(spark, sf_dir)
    c = _table(spark, sf_dir, "customer")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double")
                / F.count("c_acctbal")
            ).alias("v")
        )
        .collect()[0].v
    )
    qualifying = c.filter(F.col("c_acctbal") > avg_bal)
    recent_cust = (
        _table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit(datetime(2000, 1, 1)))
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    expected = (
        qualifying.join(recent_cust, "c_custkey", "left_anti").count()
    )
    assert sum(r.numcust for r in out.collect()) == expected


def test_cube_subtotals_are_consistent(spark, sf_dir):
    rows = {(r.status, r.priority): r for r in q_agg_cube_orders(spark, sf_dir).collect()}
    grand = rows[("ALL", "ALL")]
    total_orders = _table(spark, sf_dir, "orders").count()
    assert grand.n_orders == total_orders
    # per-status subtotals sum to the grand total
    status_rows = [
        r for (s, p), r in rows.items() if p == "ALL" and s != "ALL"
    ]
    assert sum(r.n_orders for r in status_rows) == grand.n_orders
    leaf = [r for (s, p), r in rows.items() if p != "ALL" and s != "ALL"]
    assert sum(r.n_orders for r in leaf) == grand.n_orders
    assert abs(sum(r.total_price for r in leaf) - grand.total_price) < 1e-6


def test_cube_is_one_expand_not_a_union_of_scans(spark, sf_dir):
    plan = explain_str(q_agg_cube_orders(spark, sf_dir), "simple")
    assert "Expand" in plan
    assert "Union" not in plan


def test_lag_gaps_are_positive_and_counts_match(spark, sf_dir):
    rows = q_win_lag_event_gap(spark, sf_dir).collect()
    assert rows, "expected purchase gaps"
    for r in rows:
        assert r.max_gap_us >= r.avg_gap_us > 0
    from ambient_sound_analysis_api_spark.registry import _events

    ev = _events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    per_user = {r.user_id: r.n for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    for r in rows:
        assert r.gap_cnt == per_user[r.user_id] - 1


def test_ntile_deciles_are_balanced_and_ordered(spark, sf_dir):
    rows = sorted(q_win_ntile_balance(spark, sf_dir).collect(), key=lambda r: r.decile)
    assert [r.decile for r in rows] == list(range(1, 11))
    total = _table(spark, sf_dir, "customer").count()
    sizes = [r.n for r in rows]
    assert sum(sizes) == total
    assert max(sizes) - min(sizes) <= 1  # ntile balance guarantee
    for a, b in zip(rows, rows[1:]):
        assert a.max_bal <= b.min_bal  # deciles tile the sorted order


def test_q7_and_q8_broadcast_every_dimension(spark, sf_dir):
    for q in (q_tpch_q7_volume, q_tpch_q8_market_share):
        plan = explain_str(q(spark, sf_dir), "simple")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        # the only sort-merge/shuffle joins allowed are the fact-fact ones
        assert plan.count("SortMergeJoin") <= 1


def test_q19_splits_disjunction_below_the_join(spark, sf_dir):
    plan = explain_str(q_tpch_q19_disjunctive(spark, sf_dir))
    # Catalyst should derive single-side conjuncts from the OR and push them
    # into both scans: brand/size bounds reach the part scan, quantity
    # bounds reach the lineitem scan.
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    joined = "\n".join(pushed)
    assert "p_brand" in joined
    assert "l_quantity" in joined


def test_q16_distinct_agg_no_extra_shuffle(spark, sf_dir):
    plan = explain_str(q_tpch_q16_supplier_cnt(spark, sf_dir), "simple")
    # broadcast part join + the distinct-agg exchange family; no SMJ needed
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_not_in_is_null_aware_anti_join(spark, sf_dir):
    from ambient_sound_analysis_api_spark.registry import q_setop_not_in_null_aware

    plan = explain_str(q_setop_not_in_null_aware(spark, sf_dir), "simple")
    # trailing `true` on the LeftAnti broadcast join = isNullAwareAntiJoin
    assert "LeftAnti, BuildRight, true" in plan


def test_not_in_with_null_in_subquery_rejects_everything(spark, sf_dir):
    """Three-valued logic: one NULL in the NOT IN subquery makes the
    predicate UNKNOWN for every outer row -> empty result."""
    _table(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    _table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    n = spark.sql(
        """
        SELECT count(*) AS n FROM v_customer
        WHERE c_custkey NOT IN (SELECT nullif(o_custkey, o_custkey) FROM v_orders)
        """
    ).collect()[0].n
    assert n == 0


def test_moving_avg_range_frame_semantics(spark, sf_dir):
    """Hand-check the RANGE frame: each row's moving_avg equals the plain
    mean of values within [sec-3599, sec] for that hydrophone."""
    from ambient_sound_analysis_api_spark.registry import q_ts_moving_avg, _events
    from datetime import datetime

    rows = q_ts_moving_avg(spark, sf_dir).collect()
    assert rows
    ev = (
        _events(spark, sf_dir, datetime(2024, 1, 5), datetime(2024, 1, 6))
        .filter(F.col("event_type") == "error")
        .select((F.unix_micros("ts") / 1_000_000).cast("long").alias("sec"), "value")
        .collect()
    )
    pts = sorted((r.sec, r.value) for r in ev)
    import math

    for r in rows[:50]:
        vals = [v for s, v in pts if r.sec - 3599 <= s <= r.sec and math.isfinite(v)]
        assert abs(r.moving_avg - sum(vals) / len(vals)) < 1e-6


def test_merge_upsert_semantics(spark):
    from ambient_sound_analysis_api_spark.operators.upsert import merge_upsert

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k int, name string, v double"
    )
    changes = spark.createDataFrame(
        [(2, "b2", None), (4, "d", 40.0)], "k int, name string, v double"
    )
    out = {r.k: (r.name, r.v) for r in merge_upsert(base, changes, ["k"]).collect()}
    assert out[1] == ("a", 10.0)          # base passthrough
    assert out[2] == ("b2", None)         # changes win, even a NULL value
    assert out[3] == ("c", 30.0)
    assert out[4] == ("d", 40.0)          # insert
    assert len(out) == 4


def test_merge_upsert_rejects_schema_mismatch(spark):
    import pytest

    from ambient_sound_analysis_api_spark.operators.upsert import merge_upsert

    base = spark.createDataFrame([(1, "a")], "k int, name string")
    changes = spark.createDataFrame([(1, 2.0)], "k int, other double")
    with pytest.raises(ValueError):
        merge_upsert(base, changes, ["k"])


def test_q6_pushes_every_predicate(spark, sf_dir):
    from ambient_sound_analysis_api_spark.registry import q_tpch_q6

    plan = explain_str(q_tpch_q6(spark, sf_dir))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed


# ---------------------------------------------------------------------------
# round-5 pseudo-partsupp TPC-H adaptations (registry section 12)


def test_q2_rows_are_groupwise_min_cost_europe(spark, sf_dir):
    from ambient_sound_analysis_api_spark.registry import q_tpch_q2_min_cost_supp

    rows = q_tpch_q2_min_cost_supp(spark, sf_dir).collect()
    # independent recompute: per-part min supply cost over EUROPE suppliers
    li = _table(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("c")
    )
    s = _table(spark, sf_dir, "supplier")
    n = _table(spark, sf_dir, "nation")
    r = _table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu_keys = {
        x.s_suppkey
        for x in s.join(n, s["s_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey")
        .collect()
    }
    p15 = {x.p_partkey for x in _table(spark, sf_dir, "part").filter(F.col("p_size") == 15).select("p_partkey").collect()}
    mins = {}
    for x in ps.collect():
        if x.l_suppkey in eu_keys and x.l_partkey in p15:
            prev = mins.get(x.l_partkey)
            mins[x.l_partkey] = x.c if prev is None else min(prev, x.c)
    assert rows, "q2 returned no rows at this sf"
    for row in rows:
        assert row.supply_cost == mins[row.p_partkey]


def test_q9_groups_partition_total_profit(spark, sf_dir):
    from ambient_sound_analysis_api_spark.registry import q_tpch_q9_profit

    out = q_tpch_q9_profit(spark, sf_dir)
    li = _table(spark, sf_dir, "lineitem")
    p = _table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    dec = lambda c: F.col(c).cast("decimal(12,2)")  # noqa: E731
    one = F.lit(1).cast("decimal(12,2)")
    rate = F.lit("0.10").cast("decimal(12,2)")
    total = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .agg(
            F.sum(
                dec("l_extendedprice") * (one - dec("l_discount"))
                - dec("p_retailprice") * rate * dec("l_quantity")
            ).cast("double").alias("v")
        )
        .collect()[0].v
    )
    got = out.agg(F.sum("sum_profit").alias("v")).collect()[0].v
    assert got == pytest.approx(total, rel=1e-9)


def test_q20_thresholds_really_exclude(spark, sf_dir):
    from ambient_sound_analysis_api_spark.registry import q_tpch_q20_excess_suppliers

    rows = q_tpch_q20_excess_suppliers(spark, sf_dir).collect()
    n_total = _table(spark, sf_dir, "supplier").count()
    # the availability predicate must be selective, not a tautology
    assert len(rows) < n_total
    # every returned supplier really has a qualifying blue pair
    li = _table(spark, sf_dir, "lineitem")
    from datetime import datetime as dt

    in97 = (F.col("l_shipdate") >= F.lit(dt(1997, 1, 1))) & (
        F.col("l_shipdate") < F.lit(dt(1998, 1, 1))
    )
    q = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.when(in97, F.col("l_quantity")).otherwise(F.lit(0.0))).alias("q97"),
        F.sum("l_quantity").alias("qt"),
    )
    blue = _table(spark, sf_dir, "part").filter(F.col("p_name").like("%blue%"))
    ok_supp = {
        x.l_suppkey
        for x in q.join(blue, q["l_partkey"] == blue["p_partkey"])
        .filter((F.col("qt") >= 70.0) & (F.col("q97") * 2 > F.col("qt")))
        .select("l_suppkey")
        .collect()
    }
    s = _table(spark, sf_dir, "supplier")
    names = {x.s_suppkey: x.s_name for x in s.collect()}
    got_names = {r.s_name for r in rows}
    assert got_names == {names[k] for k in ok_supp}


def test_q21_counts_only_sole_late_suppliers(spark, sf_dir):
    """Independent reformulation: per finalized order, count distinct
    suppliers and distinct LATE suppliers; qualifying rows are late lines in
    multi-supplier orders whose late-supplier set is exactly {that supplier}."""
    from ambient_sound_analysis_api_spark.registry import q_tpch_q21_waiting_suppliers

    rows = q_tpch_q21_waiting_suppliers(spark, sf_dir).collect()
    li = _table(spark, sf_dir, "lineitem")
    o = _table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("late"),
    )
    per_order = j.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("n_late_supp"),
    )
    qual = (
        j.filter(F.col("late"))
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
    )
    s = _table(spark, sf_dir, "supplier")
    n = _table(spark, sf_dir, "nation")
    r = _table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    dim = (
        s.join(n, s["s_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey", "s_name")
    )
    expected = {
        (x.s_name, x.cnt)
        for x in qual.join(dim, qual["l_suppkey"] == dim["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert {(r_.s_name, r_.numwait) for r_ in rows} == expected
