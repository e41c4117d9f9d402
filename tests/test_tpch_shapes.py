"""Edge-semantics + plan tests for the TPC-H-shaped analytical queries
(Q4/Q10/Q13/Q14/Q15/Q17/Q18/Q19/Q22 adaptations in operators/analytics.py).

The oracle gate proves fixture-scale equality with DuckDB; these pin the
semantics the oracle could silently agree on for the wrong reason
(EXISTS counting an order twice, ties at the max, zero buckets) and the
plan shapes that matter at 100 TB (broadcast-hash under a disjunction,
top-k without a global sort).
"""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from cloudtrace_exporter_spark.operators import analytics

import __spark_entry__ as entry_mod


def _d(y, m, d):
    return datetime(y, m, d)


@pytest.fixture(scope="module")
def tiny(spark):
    orders = spark.createDataFrame(
        [
            (1, 10, "O", 100.0, _d(1996, 2, 1), "1-URGENT"),
            (2, 10, "O", 200.0, _d(1996, 3, 1), "5-LOW"),
            (3, 20, "O", 300.0, _d(1996, 4, 1), "5-LOW"),
            (4, 30, "O", 400.0, _d(1999, 1, 1), "1-URGENT"),  # outside window
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    lineitem = spark.createDataFrame(
        [
            # order 1: TWO late lines -> must count once
            (1, 1, 1, 1, 5.0, 10.0, 0.0, 0.0, "N", "O", _d(1996, 6, 1)),
            (1, 2, 1, 2, 5.0, 10.0, 0.0, 0.0, "N", "O", _d(1996, 7, 1)),
            # order 2: on-time only
            (2, 1, 2, 1, 5.0, 10.0, 0.0, 0.0, "N", "O", _d(1996, 3, 10)),
            # order 3: one late line
            (3, 2, 2, 1, 5.0, 10.0, 0.0, 0.0, "R", "O", _d(1996, 8, 1)),
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, l_quantity double, "
        "l_extendedprice double, l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp",
    )
    customer = spark.createDataFrame(
        [
            (10, "alice", 1, 500.0, "BUILDING"),
            (20, "bob", 1, 900.0, "AUTOMOBILE"),
            (30, "carol", 2, 900.0, "BUILDING"),
            (40, "dave", 2, -10.0, "BUILDING"),  # negative balance, no orders
        ],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    )
    return {"orders": orders, "lineitem": lineitem, "customer": customer}


def test_order_priority_counts_each_order_once(tiny):
    out = analytics.order_priority_check(
        tiny["orders"], tiny["lineitem"], start="1996-01-01", end="1997-01-01", late_days=60
    ).collect()
    got = {r["o_orderpriority"]: r["order_count"] for r in out}
    # order 1 (urgent) has two >60d-late lines but counts once; order 3 (low) once
    assert got == {"1-URGENT": 1, "5-LOW": 1}


def test_customer_distribution_has_zero_bucket(tiny):
    out = analytics.customer_order_distribution(tiny["customer"], tiny["orders"]).collect()
    got = {r["c_count"]: r["custdist"] for r in out}
    # alice 2 orders, bob 1, carol 1 (1999 order still hers), dave 0
    assert got == {2: 1, 1: 2, 0: 1}


def test_top_supplier_keeps_all_tied_maxima(spark, tiny):
    supplier = spark.createDataFrame(
        [(1, "s1", 1, 0.0), (2, "s2", 1, 0.0)],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    )
    # within window suppliers 1 and 2 both have revenue 20.0 (two 10.0 lines each at disc 0)
    out = analytics.top_supplier(
        tiny["lineitem"], supplier, start="1996-01-01", end="1997-01-01"
    ).collect()
    assert [r["s_suppkey"] for r in out] == [1, 2]
    assert all(r["total_revenue"] == 20.0 for r in out)


def test_rich_inactive_excludes_urgent_customers(tiny):
    out = analytics.rich_inactive_customers(tiny["customer"], tiny["orders"]).collect()
    # avg positive balance = (500+900+900)/3 = 766.67; rich = bob, carol.
    # carol has an URGENT order (order 4) -> excluded; bob only 5-LOW -> kept.
    got = {r["c_mktsegment"]: (r["numcust"], r["totacctbal"]) for r in out}
    assert got == {"AUTOMOBILE": (1, 900.0)}


def test_small_quantity_revenue_uses_per_part_average(spark):
    part = spark.createDataFrame(
        [(1, "p1", "Brand#1", "PROMO", 5, 1.0), (2, "p2", "Brand#2", "PROMO", 5, 1.0)],
        "p_partkey long, p_name string, p_brand string, p_type string, p_size int, p_retailprice double",
    )
    lineitem = spark.createDataFrame(
        [
            # part 1 quantities: 1, 10, 10 -> avg 7 -> threshold 3.5 -> only qty=1 row kept
            (1, 1, 1, 1, 1.0, 70.0, 0.0, 0.0, "N", "O", _d(1996, 1, 1)),
            (2, 1, 1, 1, 10.0, 99.0, 0.0, 0.0, "N", "O", _d(1996, 1, 1)),
            (3, 1, 1, 1, 10.0, 99.0, 0.0, 0.0, "N", "O", _d(1996, 1, 1)),
            # part 2 is Brand#2 -> ignored entirely
            (4, 2, 1, 1, 1.0, 99.0, 0.0, 0.0, "N", "O", _d(1996, 1, 1)),
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, l_quantity double, "
        "l_extendedprice double, l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp",
    )
    out = analytics.small_quantity_revenue(lineitem, part, brand="Brand#1").collect()
    assert out[0]["avg_yearly"] == 10.0  # 70.0 / 7


def test_disjunctive_join_stays_broadcast_hash(spark, sf_dir):
    df = entry_mod.queries()["q_disjunctive_join"](spark, sf_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_large_orders_topk_is_take_ordered(spark, sf_dir):
    df = entry_mod.queries()["q_large_orders"](spark, sf_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in p


def test_returned_items_pushes_returnflag_to_scan(spark, sf_dir):
    df = entry_mod.queries()["q_returned_items"](spark, sf_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in p and "l_returnflag" in p


@pytest.fixture(scope="module")
def star_dims(spark):
    region = spark.createDataFrame(
        [(1, "EUROPE"), (2, "ASIA")], "r_regionkey int, r_name string"
    )
    nation = spark.createDataFrame(
        [(1, "FRANCE", 1), (2, "JAPAN", 2)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    supplier = spark.createDataFrame(
        [(1, "s1", 1, 100.0), (2, "s2", 1, 200.0), (3, "s3", 2, 300.0)],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    )
    part = spark.createDataFrame(
        [
            (1, "cold widget", "Brand#1", "LARGE", 5, 10.0),
            (2, "warm bolt", "Brand#2", "SMALL", 5, 10.0),
        ],
        "p_partkey long, p_name string, p_brand string, p_type string, p_size int, p_retailprice double",
    )
    return {"region": region, "nation": nation, "supplier": supplier, "part": part}


def test_pricing_summary_measures(spark):
    lineitem = spark.createDataFrame(
        [
            (1, 1, 1, 1, 2.0, 100.0, 0.1, 0.5, "N", "O", _d(1996, 1, 1)),
            (2, 1, 1, 1, 4.0, 300.0, 0.0, 0.0, "N", "O", _d(1996, 1, 2)),
            (3, 1, 1, 1, 1.0, 50.0, 0.0, 0.0, "R", "F", _d(2002, 1, 1)),  # past cutoff
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, l_quantity double, "
        "l_extendedprice double, l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp",
    )
    out = analytics.pricing_summary(lineitem, cutoff="2001-09-01").collect()
    assert len(out) == 1
    r = out[0]
    # disc_price = 100*0.9 + 300 = 390; charge = 90*1.5 + 300 = 435
    assert (r["sum_qty"], r["sum_base_price"], r["sum_disc_price"], r["sum_charge"]) == (
        6.0, 400.0, 390.0, 435.0,
    )
    assert (r["avg_qty"], r["avg_disc"], r["count_order"]) == (3.0, 0.05, 2)


def test_min_cost_supplier_keeps_ties_and_filters_region(spark, star_dims):
    lineitem = spark.createDataFrame(
        [
            # part 1 (LARGE): s1 and s2 both at unit price 10.00 (tie), s3 in ASIA ignored
            (1, 1, 1, 1, 2.0, 20.0, 0.0, 0.0, "N", "O", _d(1996, 1, 1)),
            (2, 1, 2, 1, 3.0, 30.0, 0.0, 0.0, "N", "O", _d(1996, 1, 1)),
            (3, 1, 3, 1, 1.0, 5.0, 0.0, 0.0, "N", "O", _d(1996, 1, 1)),
            # part 2 is SMALL -> out of scope
            (4, 2, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _d(1996, 1, 1)),
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, l_quantity double, "
        "l_extendedprice double, l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp",
    )
    out = analytics.min_cost_supplier(
        lineitem, star_dims["part"], star_dims["supplier"], star_dims["nation"], star_dims["region"],
        region_name="EUROPE", part_type="LARGE",
    ).collect()
    assert sorted((r["s_name"], r["unit_price"]) for r in out) == [("s1", 10.0), ("s2", 10.0)]
    # ordered by s_acctbal desc -> s2 (200) before s1 (100)
    assert [r["s_name"] for r in out] == ["s2", "s1"]


def test_local_supplier_volume_requires_same_nation(spark, star_dims):
    orders = spark.createDataFrame(
        [(1, 10, "O", 1.0, _d(1996, 2, 1), "5-LOW")],
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    customer = spark.createDataFrame(
        [(10, "c-japan", 2, 0.0, "BUILDING")],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    )
    lineitem = spark.createDataFrame(
        [
            (1, 1, 3, 1, 1.0, 100.0, 0.0, 0.0, "N", "O", _d(1996, 2, 2)),  # s3 JAPAN = local
            (1, 1, 1, 2, 1.0, 999.0, 0.0, 0.0, "N", "O", _d(1996, 2, 2)),  # s1 FRANCE != cust nation
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, l_quantity double, "
        "l_extendedprice double, l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp",
    )
    out = analytics.local_supplier_volume(
        lineitem, orders, customer, star_dims["supplier"], star_dims["nation"], star_dims["region"],
        region_name="ASIA", start="1996-01-01", end="1997-01-01",
    ).collect()
    assert [(r["n_name"], r["revenue"]) for r in out] == [("JAPAN", 100.0)]


def test_forecast_revenue_pushes_all_predicates_to_scan(spark, sf_dir):
    import re

    df = entry_mod.queries()["q_forecast_revenue"](spark, sf_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    # the range predicates must appear INSIDE the PushedFilters list (Spark
    # may abbreviate the line, so match the pushed-list prefix specifically;
    # a bare "PushedFilters" substring check passes even on an empty list)
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]\n]*)", p))
    assert "l_shipda" in pushed and "GreaterThanOrEqual" in pushed
    assert "Exchange hashpartitioning" not in p  # only the 1-row final agg moves


def test_product_profit_cost_model(spark, star_dims):
    orders = spark.createDataFrame(
        [(1, 10, "O", 1.0, _d(1996, 2, 1), "5-LOW")],
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    lineitem = spark.createDataFrame(
        # revenue 200*0.9=180, cost 0.6*10*4=24 -> profit 156; part 2 not a widget
        [
            (1, 1, 1, 1, 4.0, 200.0, 0.1, 0.0, "N", "O", _d(1996, 2, 2)),
            (1, 2, 1, 2, 1.0, 999.0, 0.0, 0.0, "N", "O", _d(1996, 2, 2)),
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, l_quantity double, "
        "l_extendedprice double, l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp",
    )
    out = analytics.product_type_profit(
        lineitem, orders, star_dims["part"], star_dims["supplier"], star_dims["nation"],
        name_fragment="widget", cost_factor=0.6,
    ).collect()
    assert [(r["nation"], r["o_year"], r["sum_profit"]) for r in out] == [("FRANCE", 1996, 156.0)]


def test_important_parts_threshold_is_mean_relative(spark, star_dims):
    lineitem = spark.createDataFrame(
        # per-part values: p1 = 40, p2 = 10 -> mean 25 -> 1.5x = 37.5 -> only p1
        [
            (1, 1, 1, 1, 1.0, 40.0, 0.0, 0.0, "N", "O", _d(1996, 1, 1)),
            (2, 2, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", _d(1996, 1, 1)),
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, l_quantity double, "
        "l_extendedprice double, l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp",
    )
    out = analytics.important_parts(lineitem, star_dims["part"], multiplier=1.5).collect()
    assert [(r["p_partkey"], r["part_value"]) for r in out] == [(1, 40.0)]


def test_late_shipment_priority_splits_classes_in_one_agg(tiny):
    out = analytics.late_shipment_priority(
        tiny["lineitem"], tiny["orders"], late_days=60, start="1996-01-01", end="1997-01-01"
    ).collect()
    got = {r["l_linestatus"]: (r["high_line_count"], r["low_line_count"]) for r in out}
    # order 1 (URGENT): 2 late lines -> high; order 3 (5-LOW): 1 late line -> low
    assert got == {"O": (2, 1)}


def test_supplier_part_counts_distinct_pairs_and_exclusions(spark, star_dims):
    lineitem = spark.createDataFrame(
        [
            # (p1, s1) twice -> one pair; s2 excluded by balance; p2 Brand#2 kept
            (1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _d(1996, 1, 1)),
            (2, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _d(1996, 1, 1)),
            (3, 1, 2, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _d(1996, 1, 1)),
            (4, 2, 3, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _d(1996, 1, 1)),
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, l_quantity double, "
        "l_extendedprice double, l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp",
    )
    out = analytics.supplier_part_counts(
        lineitem, star_dims["part"], star_dims["supplier"],
        excluded_brand="Brand#9", max_acctbal=150.0,  # excludes s1 (100)
    ).collect()
    got = {(r["p_brand"], r["p_type"], r["p_size"]): r["supplier_cnt"] for r in out}
    # p1: s1 excluded, s2 kept -> 1; p2: s3 kept -> 1
    assert got == {("Brand#1", "LARGE", 5): 1, ("Brand#2", "SMALL", 5): 1}


def test_promo_suppliers_quantity_floor(spark, star_dims):
    lineitem = spark.createDataFrame(
        [
            (1, 1, 1, 1, 60.0, 1.0, 0.0, 0.0, "N", "O", _d(1996, 1, 1)),  # s1 over floor
            (2, 1, 2, 1, 10.0, 1.0, 0.0, 0.0, "N", "O", _d(1996, 1, 1)),  # s2 under
            (3, 2, 3, 1, 99.0, 1.0, 0.0, 0.0, "N", "O", _d(1996, 1, 1)),  # p2 not a widget
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, l_quantity double, "
        "l_extendedprice double, l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp",
    )
    out = analytics.promotion_suppliers(
        lineitem, star_dims["part"], star_dims["supplier"], star_dims["nation"],
        name_fragment="widget", start="1996-01-01", end="1997-01-01", min_qty=50.0,
    ).collect()
    assert [(r["s_name"], r["nation"], r["total_qty"]) for r in out] == [("s1", "FRANCE", 60.0)]


def test_expectation_report_planted_violations(spark):
    from cloudtrace_exporter_spark.operators import expectations

    df = spark.createDataFrame(
        [
            (1, 10, "O", 50.0, "1-URGENT"),
            (2, None, "O", 150.0, "2-HIGH"),      # null custkey
            (2, 11, "X", -5.0, "9-BOGUS"),        # dup orderkey, bad status,
                                                  # below bound, bad priority
            (3, 12, "F", None, None),             # null price/prio: NOT
                                                  # bound/regex violations
        ],
        "okey long, ckey long, status string, price double, prio string",
    )
    rep = {
        (r["expectation"], r["column"]): r
        for r in expectations.expectation_report(
            df,
            not_null=("ckey",),
            unique=("okey",),
            bounds={"price": (0.0, 100.0)},
            accepted={"status": ["O", "F"]},
            matches={"prio": "^[1-5]-"},
        ).collect()
    }
    assert all(r["total"] == 4 for r in rep.values())
    assert rep[("not_null", "ckey")]["violations"] == 1
    assert rep[("unique", "okey")]["violations"] == 1     # one surplus row
    assert rep[("bounds", "price")]["violations"] == 2    # -5 and 150
    assert rep[("accepted", "status")]["violations"] == 1
    assert rep[("matches", "prio")]["violations"] == 1    # NULL prio exempt
    assert not rep[("bounds", "price")]["passed"]
    clean = rep[("matches", "prio")]
    assert clean["violations"] == 1 and not clean["passed"]


def test_registry_consistency():
    # driver-contract hygiene: every oracle key must have a queries()
    # entry, keys are unique by construction (dict), rows-only keys are
    # the documented set (multimodal decodes + float/sketch production
    # paths that carry *_verified twins) — a new rows-only key must be
    # a conscious decision, not a forgotten oracle
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q), f"orphan oracles: {set(o) - set(q)}"
    rows_only = set(q) - set(o)
    documented = {
        "q_approx_count_distinct", "q_approx_percentiles", "q_hll_rollup",
        "q_multimodal_audio", "q_multimodal_decode", "q_multimodal_features",
        "q_pagerank", "q_pq_rerank", "q_pq_topk", "q_simhash_near_dup",
        "q_winnow_dedup", "q_phash_dedup", "q_audio_fingerprint_dedup",
        "q_multimodal_png",  # r7: Python-side PNG decode; per-row
        # stats_agree parity bit is the in-row oracle
        "q_multimodal_jpeg",  # r8: Python-side T.81 JPEG decode; lossy
        # codec, so the in-row stats_agree tolerance bit is the oracle
        "q_multimodal_reject_cert",  # r10: Python-side reject classifier;
        # healthy output is a pinned 4-row diagonal — misclassification
        # ADDS (mode, reason) groups, so the rows-only count IS the gate
    }
    assert rows_only == documented, (
        f"undocumented rows-only: {rows_only - documented}; "
        f"stale: {documented - rows_only}"
    )
