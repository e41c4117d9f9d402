"""Tests for the scale-engineering layer: skew salting (semantic
equivalence with the direct plan), date-partitioned layout (partition
pruning visible in the physical plan), and IVF similarity (recall vs
exact brute force).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cloudtrace_exporter_spark.operators import analytics, layout, similarity, skew
from cloudtrace_exporter_spark.sources.tables import load_table


# --------------------------------------------------------------------------
# skew
# --------------------------------------------------------------------------


def test_salted_sum_count_matches_direct(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    salted = skew.salted_sum_count(ev, ["event_type"], sum_cols=["value"], n_salts=16)
    direct = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value")
    )
    s = {r["event_type"]: (r["n"], round(r["sum_value"], 2)) for r in salted.collect()}
    d = {r["event_type"]: (r["n"], round(r["sum_value"], 2)) for r in direct.collect()}
    assert s == d


def test_salted_join_matches_direct(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
    direct = orders.join(customer, "o_custkey").groupBy("c_mktsegment").count()
    salted = (
        skew.salted_join(orders, customer, "o_custkey", n_salts=4)
        .groupBy("c_mktsegment")
        .count()
    )
    assert sorted(map(tuple, direct.collect())) == sorted(map(tuple, salted.collect()))


def test_salt_is_deterministic(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    a = skew.salted_sum_count(ev, ["event_type"], n_salts=8).collect()
    b = skew.salted_sum_count(ev, ["event_type"], n_salts=8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# --------------------------------------------------------------------------
# layout
# --------------------------------------------------------------------------


def test_partitioned_layout_prunes(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    store = str(tmp_path / "events_by_date")
    layout.write_events_partitioned(ev, store)

    total_days = layout.read_events_partitioned(spark, store).select("event_date").distinct().count()
    scan = layout.window_scan(spark, store, "2024-01-05 00:00:00", "2024-01-07 00:00:00")

    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the scan must see only the 3 in-range date partitions, not all of them
    import re

    m = re.search(r"partitions read: (\d+)", plan) or re.search(r"PartitionCount: (\d+)", plan)
    if m:
        assert int(m.group(1)) <= 3 < total_days
    # correctness: pruned scan == unpartitioned filter
    direct = ev.filter(F.col("ts").between("2024-01-05 00:00:00", "2024-01-07 00:00:00"))
    assert scan.count() == direct.count() > 0


def test_partitioned_roundtrip_preserves_rows(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    store = str(tmp_path / "events_rt")
    layout.write_events_partitioned(ev, store, buckets_per_day=2)
    back = layout.read_events_partitioned(spark, store)
    assert back.count() == ev.count()
    assert back.select("event_id").distinct().count() == ev.count()


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    layout.write_bucketed(orders, "orders_b", str(tmp_path / "ob"), bucket_col="o_orderkey")
    layout.write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "lineitem_b",
        str(tmp_path / "lb"),
        bucket_col="o_orderkey",
    )
    # fixture tables fit the broadcast threshold, which would mask the
    # bucketing effect — disable it so the planner shows the co-located join
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("lineitem_b").join(spark.table("orders_b"), "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange" not in plan, "bucketed co-located join must not shuffle"
        # correctness: same row count as the plain join
        plain = lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


# --------------------------------------------------------------------------
# IVF
# --------------------------------------------------------------------------


def test_ivf_cells_partition_corpus(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    assigned, cents = similarity._scaled_kmeans(
        emb, n_centroids=8, lloyd_iters=2, scale=10**6
    )
    assert len(cents) == 8
    assert assigned.count() == emb.count()
    assert assigned.select("cell").distinct().count() <= 8
    dim = len(emb.first()["embedding"])
    assert all(len(c) == dim for _, c in cents)


def test_ivf_recall_vs_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r["query_id"], r["corpus_id"]) for r in similarity.cosine_topk(emb, q, k=5).collect()}
    approx = {
        (r["query_id"], r["corpus_id"])
        for r in similarity.ivf_topk_scaled(emb, q, k=5, n_centroids=8, n_probe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    # measured 0.94 at n_probe=4/8 on the 64-dim fixture (verdict r1 #7)
    assert recall >= 0.9, f"IVF recall {recall} too low at n_probe=4/8"


def test_ivf_full_probe_equals_exact(spark, sf_dir):
    # n_probe == n_centroids degenerates to exact brute force
    emb = load_table(spark, sf_dir, "embeddings").limit(100)
    q = emb.filter(F.col("vec_id") < 3)
    exact = {(r["query_id"], r["corpus_id"], r["rnk"]) for r in similarity.cosine_topk(emb, q, k=3).collect()}
    full = {
        (r["query_id"], r["corpus_id"], r["rnk"])
        for r in similarity.ivf_topk_scaled(emb, q, k=3, n_centroids=4, n_probe=4).collect()
    }
    assert exact == full


def test_zorder_key_locality_beats_linear_sort(spark, sf_dir):
    # box-query skipping proxy: fraction of partitions whose [min,max]
    # range on the SECONDARY dimension overlaps a narrow band — tight
    # hyper-rectangles (z-order) should let most partitions be skipped,
    # a linear sort on the primary dim almost none
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    n_parts = 16

    def overlap_fraction(arranged):
        pid = arranged.withColumn("_pid", F.spark_partition_id())
        stats = pid.groupBy("_pid").agg(
            F.min("l_partkey").alias("lo"), F.max("l_partkey").alias("hi")
        ).collect()
        lo_q, hi_q = 0, 19  # narrow band (~10%) on the secondary dim
        hit = sum(1 for r in stats if r.lo <= hi_q and r.hi >= lo_q)
        return hit / len(stats)

    z = layout.zorder_layout(li, ["l_orderkey", "l_partkey"], num_partitions=n_parts)
    linear = li.repartitionByRange(n_parts, "l_orderkey").sortWithinPartitions("l_orderkey")
    assert overlap_fraction(z) < overlap_fraction(linear)


def test_zorder_key_is_deterministic_and_complete(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_suppkey")
    z1 = layout.zorder_key(li, ["l_partkey", "l_suppkey"])
    z2 = layout.zorder_key(li, ["l_partkey", "l_suppkey"])
    assert z1.count() == li.count()
    s1 = z1.agg(F.sum("_z")).first()[0]
    s2 = z2.agg(F.sum("_z")).first()[0]
    assert s1 == s2 and s1 > 0


def test_compact_files_bounds_file_count(spark, sf_dir, tmp_path):
    import glob

    dusty = str(tmp_path / "dusty")
    compacted = str(tmp_path / "compacted")
    ev = load_table(spark, sf_dir, "events").drop("ts_ns", "ts")
    ev.repartition(40).write.parquet(dusty)  # simulate micro-batch dust
    assert len(glob.glob(f"{dusty}/part-*.parquet")) == 40
    n = layout.compact_files(spark, dusty, compacted, target_mb=1)
    files = glob.glob(f"{compacted}/part-*.parquet")
    assert len(files) == n and n < 40
    assert spark.read.parquet(compacted).count() == ev.count()


def test_merge_upsert_rewrites_only_touched_partitions(spark, sf_dir, tmp_path):
    import glob
    import os

    store = str(tmp_path / "merge_store")
    ev = (
        load_table(spark, sf_dir, "events")
        .drop("ts_ns")
        .withColumn("event_date", F.to_date("ts"))
    )
    ev.write.partitionBy("event_date").parquet(store)
    dates = sorted(r[0] for r in ev.select("event_date").distinct().collect())
    touched, untouched = dates[0], dates[-1]

    before = {f: os.path.getmtime(f) for f in glob.glob(f"{store}/event_date={untouched}/*.parquet")}
    victim = ev.filter(F.col("event_date") == F.lit(touched)).orderBy("event_id").limit(3)
    updates = victim.withColumn("value", F.lit(12345.0)).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 1 SECOND")
    )
    n_parts = layout.merge_upsert_partitioned(
        spark, store, updates,
        key_cols=["event_id"], order_col="ts", tiebreak_col="event_id",
    )
    assert n_parts == 1

    after = spark.read.parquet(store)
    updated_ids = [r.event_id for r in victim.select("event_id").collect()]
    got = {r.event_id: r.value for r in after.filter(F.col("event_id").isin(updated_ids)).collect()}
    assert all(v == 12345.0 for v in got.values()) and len(got) == len(updated_ids)
    assert after.count() == ev.count()  # upsert, not append
    # untouched partition's files were not rewritten
    now = {f: os.path.getmtime(f) for f in glob.glob(f"{store}/event_date={untouched}/*.parquet")}
    assert now == before


def test_zorder_rank_scale_spreads_skewed_column(spark):
    # power-law column: min-max scaling crams almost everything into the
    # bottom buckets; quantile-rank scaling spreads it evenly
    rows = [(i, float(i) ** 3) for i in range(1, 2001)]
    df = spark.createDataFrame(rows, ["id", "x"])
    bits = 6  # 64 buckets

    def occupancy(keyed):
        buckets = keyed.select((F.col("_z")).alias("b")).groupBy("b").count().collect()
        top_share = max(r["count"] for r in buckets) / 2000
        return len(buckets), top_share

    n_mm, share_mm = occupancy(layout.zorder_key(df, ["x"], bits=bits))
    n_rk, share_rk = occupancy(layout.zorder_key(df, ["x"], bits=bits, rank_scale=True))
    # x = i^3: min-max puts every i < 2000/4 in bucket 0 (~25% share);
    # quantile-rank buckets are near-uniform by construction
    assert share_mm > 0.2
    assert share_rk < 0.10 < share_mm
    assert n_rk == n_mm == 64  # both cover the full bucket range here


def test_ivf_index_roundtrip_serves_identical_results(spark, sf_dir, tmp_path):
    # build once, persist, load, serve: the loaded index must answer
    # exactly like the in-memory one, and the at-rest layout must be
    # cell-partitioned so probes prune files
    import os

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    assigned, cents = similarity._scaled_kmeans(
        emb, n_centroids=8, lloyd_iters=2, scale=10**6
    )
    path = str(tmp_path / "ivf")
    similarity.save_ivf_index(assigned, cents, 10**6, path)
    l_assigned, l_cents, l_scale = similarity.load_ivf_index(spark, path)
    assert l_cents == cents and l_scale == 10**6

    fresh = similarity._ivf_probe_scaled(
        assigned, q, cents, k=3, n_probe=4, scale=10**6
    ).collect()
    served = similarity._ivf_probe_scaled(
        l_assigned, q, l_cents, k=3, n_probe=4, scale=l_scale
    ).collect()
    assert sorted(map(tuple, fresh)) == sorted(map(tuple, served))
    assert any(d.startswith("cell=") for d in os.listdir(f"{path}/assigned"))


def test_load_ivf_index_rejects_float_centroids(spark, tmp_path):
    # an index at rest from the float k-means holds array<double>
    # centroids that no integer probe can rank: loading it must fail
    # loudly, naming the path, instead of scoring against wrong cells
    path = str(tmp_path / "old_ivf")
    spark.createDataFrame(
        [(1, [0.5, 0.25], 1)], "id long, v array<double>, cell int"
    ).write.partitionBy("cell").parquet(f"{path}/assigned")
    spark.createDataFrame(
        [(1, [0.5, 0.25])], "cell int, centroid array<double>"
    ).write.parquet(f"{path}/centroids")
    with pytest.raises(ValueError, match="old_ivf"):
        similarity.load_ivf_index(spark, path)


# --------------------------------------------------------------------------
# product quantization
# --------------------------------------------------------------------------


def test_pq_encode_shapes_and_range(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    books = similarity.pq_train(emb, m=8, k=16)
    assert len(books) == 8 and all(len(bk) == 16 for bk in books)
    assert all(len(c) == 8 for bk in books for c in bk)  # 64/8 dims per subvector
    rows = similarity.pq_encode(emb, books).collect()
    assert all(len(r["codes"]) == 8 for r in rows)
    assert all(0 <= c < 16 for r in rows for c in r["codes"])


def test_pq_planted_duplicate_retrieved_first(spark):
    # 4 well-separated clusters; a duplicate of the query vector must come
    # back at rank 1 (same codes -> minimal ADC distance)
    import random as _random

    rng = _random.Random(7)
    base = [[10.0 * ((c >> b) & 1) for b in range(8) for _ in range(8)] for c in range(4)]
    rows = []
    for i in range(40):
        b = base[i % 4]
        rows.append((i, [x + rng.uniform(-0.1, 0.1) for x in b]))
    rows.append((999, list(rows[0][1])))  # exact duplicate of vec 0
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = similarity.pq_train(emb, m=8, k=4)
    out = similarity.pq_topk(emb, emb.filter(F.col("vec_id") == 0), books, k=3)
    top1 = out.filter(F.col("rnk") == 1).first()
    assert top1["corpus_id"] == 999
    assert top1["approx_dist"] == out.filter(F.col("corpus_id") == 999).first()["approx_dist"]


def test_pq_rerank_recall_beats_raw_adc(spark, sf_dir):
    # two-tier serving: ADC shortlist + exact re-rank. On the random
    # (clusterless) fixture raw ADC recall is weak by nature; the re-rank
    # tier must lift it substantially while touching only the shortlist.
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    books = similarity.pq_train(emb)
    codes = similarity.pq_encode(emb, books).cache()
    exact = {(r["query_id"], r["corpus_id"]) for r in similarity.cosine_topk(emb, q, k=5).collect()}
    raw = {(r["query_id"], r["corpus_id"]) for r in similarity.pq_topk(emb, q, books, k=5, codes=codes).collect()}
    rr = {
        (r["query_id"], r["corpus_id"])
        for r in similarity.pq_rerank_topk(emb, q, books, k=5, shortlist=100, codes=codes).collect()
    }
    raw_recall = len(exact & raw) / len(exact)
    rr_recall = len(exact & rr) / len(exact)
    codes.unpersist()
    # measured 0.28 raw / 0.88 reranked at sf0.01 (shortlist = 20% of corpus)
    assert raw_recall >= 0.15, raw_recall
    assert rr_recall >= 0.6 and rr_recall > raw_recall, (raw_recall, rr_recall)


def test_pq_index_roundtrip_serves_identical_results(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    books = similarity.pq_train(emb, m=8, k=16)
    codes = similarity.pq_encode(emb, books)
    path = str(tmp_path / "pq")
    similarity.save_pq_index(codes, books, path)
    books2, codes2 = similarity.load_pq_index(spark, path)
    assert books2 == books
    fresh = similarity.pq_topk(emb, q, books, k=3, codes=codes).collect()
    served = similarity.pq_topk(emb, q, books2, k=3, codes=codes2).collect()
    assert sorted(map(tuple, fresh)) == sorted(map(tuple, served))


def test_cosine_topk_chunked_equals_unchunked(spark, sf_dir):
    # a query lives in exactly one hash chunk, so the union of per-chunk
    # top-ks must be bit-identical to the single-broadcast exact path
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    whole = {tuple(r) for r in similarity.cosine_topk(emb, q, k=5).collect()}
    chunked = {tuple(r) for r in similarity.cosine_topk_chunked(emb, q, k=5, n_chunks=3).collect()}
    assert whole == chunked and len(whole) == 50


def test_lsh_index_roundtrip_serves_identical_results(spark, sf_dir, tmp_path):
    import os

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    vecs, hashes = similarity.build_lsh_index(emb, n_bits=2, n_tables=8)
    path = str(tmp_path / "lsh")
    similarity.save_lsh_index(vecs, hashes, path)
    loaded = similarity.load_lsh_index(spark, path)
    fresh = similarity.lsh_topk(emb, q, k=3, n_bits=2, n_tables=8, index=(vecs, hashes)).collect()
    served = similarity.lsh_topk(emb, q, k=3, n_bits=2, n_tables=8, index=loaded).collect()
    assert sorted(map(tuple, fresh)) == sorted(map(tuple, served))
    # at-rest layout prunes per-table lookups
    assert any(d.startswith("tbl=") for d in os.listdir(f"{path}/hashes"))


def test_kmv_join_estimate_planted_overlap(spark):
    # two groups sharing exactly 300 of 500 keys each, a third disjoint:
    # the sketch estimate must land near the planted overlap and the
    # disjoint pair must estimate (and measure) ~0
    from cloudtrace_exporter_spark.operators.analytics import kmv_join_estimate

    rows = []
    eid = 0
    for u in range(500):
        rows.append((eid, u, "alpha")); eid += 1
    for u in range(200, 700):          # 300 shared with alpha
        rows.append((eid, u, "beta")); eid += 1
    for u in range(10_000, 10_100):    # disjoint
        rows.append((eid, u, "gamma")); eid += 1
    ev = spark.createDataFrame(rows, "event_id long, user_id long, event_type string")
    out = {(r["type_a"], r["type_b"]): r for r in kmv_join_estimate(ev).collect()}
    assert set(out) == {("alpha", "beta"), ("alpha", "gamma"), ("beta", "gamma")}
    ab = out[("alpha", "beta")]
    assert ab["exact_overlap"] == 300
    # k=64 KMV: std error ~ 1/sqrt(k) ≈ 12.5%; allow 3σ
    assert abs(ab["est_overlap"] - 300) < 300 * 0.4
    for pair in [("alpha", "gamma"), ("beta", "gamma")]:
        r = out[pair]
        assert r["exact_overlap"] == 0
        assert r["est_overlap"] < 120  # noise floor of inclusion-exclusion


def test_holt_forecast_tracks_a_linear_ramp(spark):
    # a perfect ramp: Holt's trend must converge toward the slope and
    # the forecast must extrapolate ahead of the last level; verify the
    # exact fold against an independent python recurrence
    from datetime import datetime

    from cloudtrace_exporter_spark.operators.analytics import holt_forecast

    ys = [10.0, 20.0, 30.0, 40.0, 50.0, 60.0]
    rows = [
        (i, datetime(2024, 1, 1 + i, 5, 0, 0), 1, "ramp", ys[i], "{}")
        for i in range(len(ys))
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    out = holt_forecast(ev).collect()
    assert len(out) == 1 and out[0]["n_days"] == 6
    l, b = ys[0], 0.0
    for y in ys[1:]:
        lp = 0.5 * y + 0.5 * (l + b)
        b = 0.25 * (lp - l) + 0.75 * b
        l = lp
    r = out[0]
    # raw fold outputs since round 8 (cosmetic round(,4) was an engine
    # round() tie hazard) — exact IEEE equality expected
    assert r["level"] == l and r["trend"] == b
    assert r["forecast_1"] == l + 1.0 * b
    assert r["forecast_7"] == l + 7.0 * b
    assert r["trend"] > 5.0  # converging toward the true slope 10
    assert r["forecast_7"] > r["level"]


def test_theil_sen_shrugs_off_outlier_days(spark):
    # a clean slope-2 ramp with one wild outlier day: Theil-Sen must
    # recover slope 2 exactly (the outlier corrupts a minority of the
    # pairwise slopes), where OLS would be dragged far off
    from datetime import datetime

    from cloudtrace_exporter_spark.operators.analytics import theil_sen_trend

    ys = [10.0, 12.0, 14.0, 16.0, 1000.0, 20.0, 22.0, 24.0, 26.0]
    rows = [
        (i, datetime(2024, 1, 1 + i, 3, 0, 0), 1, "s", ys[i], "{}")
        for i in range(len(ys))
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    r = theil_sen_trend(ev).collect()[0]
    assert r["n_days"] == 9 and r["n_pairs"] == 36
    assert r["ts_slope"] == 2.0
    # intercept: median residual of y - 2*d with d starting at day 0;
    # day indices 0..8, clean residuals all 10, outlier residual 992
    assert r["ts_intercept"] == 10.0


def test_global_row_number_is_a_bijection_beyond_sample_coverage(spark):
    # regression: with ~50k rows the range-boundary sample no longer
    # covers the input, and before the ranged frame was materialized its
    # two consumers could execute the exchange twice with different
    # boundaries -> duplicate AND missing ranks (caught by the 10x
    # quantile-normalization probe: 50040 rows out of 50000)
    from cloudtrace_exporter_spark.operators.analytics import global_row_number
    from pyspark.sql import functions as F

    n = 50_000
    df = spark.range(n).select(
        (F.col("id") * 2654435761 % 1_000_003).alias("v"), F.col("id").alias("doc_id")
    )
    r = global_row_number(df, [F.asc("v"), F.asc("doc_id")], with_total=True)
    agg = r.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("rn").alias("distinct_rn"),
        F.min("rn").alias("lo"),
        F.max("rn").alias("hi"),
        F.max("_n_total").alias("n_total"),
    ).collect()[0]
    assert agg["rows"] == n
    assert agg["distinct_rn"] == n          # bijection
    assert (agg["lo"], agg["hi"]) == (1, n)  # contiguous
    assert agg["n_total"] == n


def test_label_separation_matrix_flags_collapsed_pairs(spark):
    # labels 0/1 share a direction (collapsed); label 2 is orthogonal:
    # the matrix must read ~1.0 on the diagonal and the collapsed pair,
    # ~0 against the orthogonal class
    from cloudtrace_exporter_spark.operators.similarity import label_separation_matrix

    rows = []
    vid = 0
    for lab, base in [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.9, 0.1, 0.0, 0.0]), (2, [0.0, 0.0, 1.0, 0.0])]:
        for j in range(4):
            vec = [x + (0.001 * j if x > 0 else 0.0) for x in base]
            rows.append((vid, vec, lab)); vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = {(r["label_a"], r["label_b"]): r["centroid_cosine"] for r in label_separation_matrix(emb).collect()}
    assert out[(0, 0)] == 1.0 and out[(2, 2)] == 1.0
    assert out[(0, 1)] > 0.98          # collapsed pair
    assert out[(0, 2)] < 0.05 and out[(1, 2)] < 0.2
    assert len(out) == 6               # upper triangle incl diagonal


def test_survival_curve_censors_recent_users(spark):
    # u1 churned after a 2-day life; u2 churned same day it appeared
    # (lifetime 0); u3 is active at corpus end -> censored, NOT churn
    from datetime import datetime

    from cloudtrace_exporter_spark.operators.analytics import survival_curve

    ev = []
    eid = 0
    for u, days in [(1, [1, 2, 3]), (2, [4]), (3, [10, 28, 30])]:
        for d in days:
            ev.append((eid, datetime(2024, 1, d, 9, 0, 0), u, "t", 1.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        ev, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    out = {r["t_days"]: r for r in survival_curve(df, horizon_days=7).collect()}
    # lifetimes: u1=2 (churned), u2=0 (churned), u3=20 (censored)
    assert out[0]["n_at_risk"] == 3 and out[0]["n_churn_at_t"] == 1
    assert out[2]["n_churn_at_t"] == 1 and out[20]["n_censored_at_t"] == 1
    assert out[0]["churned_survival"] == 1.0       # both churned lived >= 0
    assert out[2]["churned_survival"] == 0.5       # only u1 lived >= 2
    assert out[20]["churned_survival"] == 0.0      # no churned user lived >= 20


def test_survival_curve_all_censored_yields_null_survival(spark):
    from datetime import datetime

    from cloudtrace_exporter_spark.operators.analytics import survival_curve

    ev = [(0, datetime(2024, 1, 1, 1, 0, 0), 1, "t", 1.0, "{}"),
          (1, datetime(2024, 1, 3, 1, 0, 0), 1, "t", 1.0, "{}")]
    df = spark.createDataFrame(
        ev, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    rows = survival_curve(df, horizon_days=7).collect()
    assert all(r["churned_survival"] is None for r in rows)
    assert rows[0]["n_censored_at_t"] == 1


def test_damped_holt_saturates_the_long_horizon(spark):
    # same ramp as the undamped test: with phi=0.5 the 7-step forecast
    # must sit BELOW the undamped extrapolation (the damp saturates),
    # and the multiplier is the exact dyadic sum 0.9921875
    from datetime import datetime

    from cloudtrace_exporter_spark.operators.analytics import holt_forecast

    ys = [10.0, 20.0, 30.0, 40.0, 50.0, 60.0]
    rows = [
        (i, datetime(2024, 1, 1 + i, 5, 0, 0), 1, "ramp", ys[i], "{}")
        for i in range(len(ys))
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    und = holt_forecast(ev).collect()[0]
    dmp = holt_forecast(ev, phi=0.5).collect()[0]
    assert dmp["forecast_7"] < und["forecast_7"]
    assert dmp["forecast_7"] == dmp["level"] + 0.9921875 * dmp["trend"]
    # undamped key unchanged by the phi refactor (1.0 damp is bit-exact)
    l, b = ys[0], 0.0
    for y in ys[1:]:
        lp = 0.5 * y + 0.5 * (l + b)
        b = 0.25 * (lp - l) + 0.75 * b
        l = lp
    assert und["level"] == l and und["trend"] == b


def test_cusum_closed_form_equals_recursive_fold(spark):
    """The windowed closed form S⁺=C−min(0,min C), S⁻=max(0,max C)−C
    must equal the textbook recursive max(0, S+d) fold."""
    from datetime import datetime
    xs = [5, 5, 5, 9, 9, 9, 9, 1, 1, 5]
    rows = []
    eid = 0
    for i, x in enumerate(xs):
        for _ in range(x):
            rows.append((eid, datetime(2024, 1, 1 + i, 3, 0, 0), 1, "s", 1.0, "{}"))
            eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    out = analytics.cusum_drift(ev).orderBy("day").collect()
    target = sorted(xs)[(len(xs) + 1) // 2 - 1]  # lower median
    s_up = s_dn = 0
    for r, x in zip(out, xs):
        s_up = max(0, s_up + (x - target))
        s_dn = max(0, s_dn - (x - target))
        assert (r.x, r.target, r.cusum_up, r.cusum_down) == (x, target, s_up, s_dn)
        assert r.alarm_up == (s_up > 4 * max(target, 1))
        assert r.alarm_down == (s_dn > 4 * max(target, 1))


def test_interarrival_stats_known_gaps(spark):
    from datetime import datetime, timedelta
    t0 = datetime(2024, 1, 1)
    gaps = [10, 10, 40, 100]  # arrivals at 0,10,20,60,160 s
    ts, acc = [t0], 0
    for g in gaps:
        acc += g
        ts.append(t0 + timedelta(seconds=acc))
    rows = [(i, t, 1, "s", 0.0, "{}") for i, t in enumerate(ts)]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    r = analytics.interarrival_stats(ev).collect()[0]
    assert (r.n_gaps, r.min_gap_s, r.max_gap_s, r.sum_gap_s) == (4, 10, 100, 160)
    assert r.sumsq_gap_s == sum(g * g for g in gaps)
    assert r.median_gap_s == 10  # rank floor((4+1)/2)=2 of [10,10,40,100]
    assert r.p90_gap_s == 100  # rank ceil(0.9*4)=4
    mu = 160 / 4
    sigma = (sum(g * g for g in gaps) / 4 - mu * mu) ** 0.5
    assert abs(r.burstiness - (sigma - mu) / (sigma + mu)) < 1e-6


def test_interarrival_ties_broken_by_event_id(spark):
    """Identical timestamps must not make the gap sequence ambiguous:
    the order is the (ts, event_id) total order."""
    from datetime import datetime
    t0 = datetime(2024, 1, 1)
    rows = [(i, t0, 1, "s", 0.0, "{}") for i in (3, 1, 2)]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    r = analytics.interarrival_stats(ev).collect()[0]
    assert (r.n_gaps, r.min_gap_s, r.max_gap_s, r.sum_gap_s) == (2, 0, 0, 0)


def test_key_skew_audit_uniform_vs_skewed(spark):
    from cloudtrace_exporter_spark.operators import skew as skew_ops

    uniform = spark.createDataFrame([(i % 10,) for i in range(100)], "k int")
    u = skew_ops.key_skew_audit(uniform, "k").collect()[0]
    assert (u.n_keys, u.total_rows, u.max_cnt) == (10, 100, 10)
    assert u.gini == 0.0  # all frequencies equal
    # one hot key owning ~91% of rows
    hot = spark.createDataFrame([(0,)] * 91 + [(i,) for i in range(1, 10)], "k int")
    h = skew_ops.key_skew_audit(hot, "k").collect()[0]
    assert h.top_key == "0" and h.max_cnt == 91
    assert h.heavy_keys == 1 and h.heavy_rows == 91 and h.heavy_share_e6 == 910000
    assert h.gini > 0.8


def test_ab_ztest_detects_planted_lift(spark):
    from datetime import datetime
    rows = []
    # even users (variant 0) always beat the median; odd users never do
    for i in range(40):
        rows.append((i, datetime(2024, 1, 1 + i % 5), i, "s",
                     100.0 if i % 2 == 0 else 1.0, "{}"))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    r = analytics.ab_ztest(ev).collect()[0]
    assert (r.n_a, r.n_b) == (20, 20)
    # lower-median of 40 interleaved values is 1.0 -> only the 100.0s succeed
    assert (r.succ_a, r.succ_b) == (20, 0)
    assert r.z > 6 and r.significant_05


def test_ab_ztest_null_effect_not_significant(spark):
    from datetime import datetime
    rows = [
        (i, datetime(2024, 1, 1 + i % 5), i, "s", float(i % 7), "{}")
        for i in range(42)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    r = analytics.ab_ztest(ev).collect()[0]
    # identical value cycles in both variants -> rates equal, z == 0
    assert r.rate_a == r.rate_b and abs(r.z) < 1e-9
    assert not r.significant_05


def test_isotonic_pav_pools_violations(spark):
    """A locally-inverted rate curve must pool into the weighted
    average of the violating bins; already-monotone bins are kept."""
    from datetime import datetime
    # bins 0..3 via value = bin*50+1; purchase marks the positive class
    # per-bin (n, pos): bin0 (4,0), bin1 (4,3), bin2 (4,1), bin3 (4,4)
    plan = {0: (4, 0), 1: (4, 3), 2: (4, 1), 3: (4, 4)}
    rows, eid = [], 0
    for b, (n, pos) in plan.items():
        for j in range(n):
            rows.append(
                (eid, datetime(2024, 1, 1), eid,
                 "purchase" if j < pos else "view", b * 50.0 + 1.0, "{}")
            )
            eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    out = {r.bin: r for r in analytics.isotonic_calibration(ev).collect()}
    assert out[0].isotonic_rate == 0.0
    # bins 1 and 2 violate (0.75 > 0.25) -> pool to (3+1)/(4+4) = 0.5
    assert out[1].isotonic_rate == 0.5 and out[2].isotonic_rate == 0.5
    assert out[3].isotonic_rate == 1.0
    # fitted curve is non-decreasing
    fitted = [out[b].isotonic_rate for b in sorted(out)]
    assert fitted == sorted(fitted)


def test_mann_whitney_matches_scipy_free_hand_computation(spark):
    """Hand-checked U on a tiny sample with ties: A = [1, 2, 2],
    B = [2, 3]. Midranks: 1->1, the three 2s -> 3, 3 -> 5.
    R_A = 1+3+3 = 7, U_A = 7 - 3*4/2 = 1 -> u2_a = 2."""
    from datetime import datetime
    vals = [(0, 1.0), (2, 2.0), (4, 2.0), (1, 2.0), (3, 3.0)]  # user%2: A=even
    rows = [
        (i, datetime(2024, 1, 1), u, "s", v, "{}") for i, (u, v) in enumerate(vals)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    r = analytics.mann_whitney(ev).collect()[0]
    assert (r.n_a, r.n_b, r.u2_a) == (3, 2, 2)
    assert not r.significant_05


def test_mann_whitney_detects_planted_shift(spark):
    from datetime import datetime
    rows = []
    for i in range(60):
        # even users (A) uniformly higher than odd users (B)
        rows.append((i, datetime(2024, 1, 1), i, "s",
                     100.0 + i if i % 2 == 0 else float(i), "{}"))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    r = analytics.mann_whitney(ev).collect()[0]
    assert r.u2_a == 2 * r.n_a * r.n_b  # A wins every comparison
    assert r.z > 6 and r.significant_05


def test_ks_test_exact_d_on_hand_case(spark):
    """A = [1,2,3,4], B = [3,4,5,6]: D = 1/2 at v=2 (F_a=2/4, F_b=0).
    d_num = max|c_a*n_b - c_b*n_a| = |2*4 - 0*4| = 8; d = 8/16 = 0.5."""
    from datetime import datetime
    vals = [(0, 1.0), (2, 2.0), (4, 3.0), (6, 4.0), (1, 3.0), (3, 4.0), (5, 5.0), (7, 6.0)]
    rows = [(i, datetime(2024, 1, 1), u, "s", v, "{}") for i, (u, v) in enumerate(vals)]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    r = analytics.ks_test(ev).collect()[0]
    assert (r.n_a, r.n_b, r.d_num) == (4, 4, 8)
    assert r.d == 0.5
    assert not r.significant_05  # tiny n


def test_ks_test_detects_planted_scale_shift(spark):
    from datetime import datetime
    rows = []
    for i in range(400):
        # same mean, different spread: A in {49,51}, B in {0,100}
        v = (49.0 if i % 4 == 0 else 51.0) if i % 2 == 0 else (0.0 if i % 4 == 1 else 100.0)
        rows.append((i, datetime(2024, 1, 1), i, "s", v, "{}"))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    r = analytics.ks_test(ev).collect()[0]
    assert r.d == 0.5 and r.significant_05
    # the means-based tests cannot see this difference; KS must
    z = analytics.ab_ztest(ev).collect()[0]
    assert not z.significant_05 or abs(z.z) < abs(r.d_num)  # sanity guard only


def test_conformal_intervals_finite_sample_coverage(spark):
    """On an exchangeable series (constant + deterministic 'noise' from a
    hash), the held-out coverage must be >= 1 - alpha up to finite-sample
    slack — and the interval must be the calibration-rank residual, not
    a gaussian fit."""
    from datetime import datetime, timedelta
    t0 = datetime(2024, 1, 1)
    # one event per day: weekly-periodic base + small deterministic
    # perturbation — exchangeable residuals for the coverage guarantee
    rows = [
        (d, t0 + timedelta(days=d), 1, "s",
         float(10 + (d % 7) + (d * 2654435761 % 3)), "{}")
        for d in range(100)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    out = analytics.conformal_intervals(ev).collect()
    assert len(out) > 10
    covered = sum(1 for r in out if r.covered)
    assert covered / len(out) >= 0.8  # 90% nominal, finite-sample slack
    # intervals are symmetric around the seasonal-naive forecast
    for r in out:
        assert abs((r.hi - r.yhat) - (r.yhat - r.lo)) < 1e-6


def test_cuped_reduces_nothing_without_correlation_and_everything_with(spark):
    """Planted structure: each unit's post metric = pre metric + variant
    lift. Perfect pre/post correlation -> theta ~ 1 and the adjusted
    diff equals the true lift exactly even though raw per-unit levels
    vary wildly; with a constant pre covariate theta is NULL (no
    variance to regress on) and the adjusted diff degrades to raw."""
    from datetime import datetime
    rows, eid = [], 0
    for u in range(40):
        base = 10.0 + (u * 2654435761 % 50)  # wildly varying unit level
        lift = 5.0 if u % 2 == 0 else 0.0
        rows.append((eid, datetime(2024, 1, 10), u, "s", base, "{}")); eid += 1
        rows.append((eid, datetime(2024, 1, 20), u, "s", base + lift, "{}")); eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    r = analytics.cuped_adjustment(ev).collect()[0]
    assert abs(r.theta - 1.0) < 0.05
    assert abs(r.cuped_diff - 5.0) < 0.2  # the true lift, variance gone
    # constant covariate -> theta NULL, adjusted NULL (undefined adjustment)
    rows2 = [
        (i, datetime(2024, 1, 10 if i % 2 == 0 else 20), i // 2, "s",
         1.0 if i % 2 == 0 else float(10 + i % 7), "{}")
        for i in range(80)
    ]
    ev2 = spark.createDataFrame(
        rows2,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    r2 = analytics.cuped_adjustment(ev2).collect()[0]
    assert r2.theta is None and r2.cuped_diff is None and r2.raw_diff is not None


def test_mann_kendall_detects_planted_trend_and_ignores_outlier(spark):
    from datetime import datetime, timedelta
    t0 = datetime(2024, 1, 1)
    # strictly increasing dailies with one wild outlier day
    vals = [float(i) for i in range(30)]
    vals[15] = 10_000.0
    rows = [(i, t0 + timedelta(days=i), 1, "s", v, "{}") for i, v in enumerate(vals)]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    r = analytics.mann_kendall(ev).collect()[0]
    # S for a strictly increasing series is n(n-1)/2; the outlier flips
    # at most (n-1-15) + 15 = 29 pair signs x2
    assert r.s > 30 * 29 // 2 - 60
    assert r.direction == "increasing" and r.significant_05
    # constant series: S = 0, variance 0 -> NULL z, not significant/crash
    flat = spark.createDataFrame(
        [(i, t0 + timedelta(days=i), 1, "s", 5.0, "{}") for i in range(10)],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    rf = analytics.mann_kendall(flat).collect()[0]
    assert (rf.s, rf.z, rf.direction) == (0, None, "none")


def test_retention_cohorts_hand_matrix(spark):
    """Two cohorts: users 1,2 start day 0 (user 1 returns in week 1,
    user 2 never); user 3 starts day 7. Retention is the raw integer
    ratio; week 0 is always 1.0 by construction."""
    from datetime import datetime

    d = lambda i: datetime(2024, 1, 1 + i)  # noqa: E731
    rows = [
        (0, d(0), 1, "a", 1.0, "{}"),
        (1, d(0), 2, "a", 1.0, "{}"),
        (2, d(8), 1, "a", 1.0, "{}"),   # user 1 active in week 1
        (3, d(7), 3, "a", 1.0, "{}"),   # user 3 cohort = day 7
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    out = {(str(r.cohort_day), r.week_offset): r for r in analytics.retention_cohorts(ev).collect()}
    c0 = "2024-01-01 00:00:00"
    c7 = "2024-01-08 00:00:00"
    assert out[(c0, 0)].cohort_size == 2 and out[(c0, 0)].retention == 1.0
    assert out[(c0, 1)].n_active == 1 and out[(c0, 1)].retention == 0.5
    assert out[(c7, 0)].cohort_size == 1 and out[(c7, 0)].retention == 1.0
    assert (c7, 1) not in out


def test_auc_hand_values_with_ties(spark):
    """Scores [1,2,2,3] with labels [0,0,1,1]: midranks 1, 2.5, 2.5, 4;
    R_pos = 6.5 -> AUC = (6.5 - 2*3/2) / (2*2) = 0.875. A perfectly
    separating series gives 1.0; a constant-label series gives NULL."""
    from datetime import datetime

    t = datetime(2024, 1, 1)
    rows = [
        (0, t, 1, "mix", 1.0, '{"k": 1}'),
        (1, t, 2, "mix", 2.0, '{"k": 1}'),
        (2, t, 3, "mix", 2.0, '{"k": 99}'),
        (3, t, 4, "mix", 3.0, '{"k": 99}'),
        (4, t, 1, "sep", 1.0, '{"k": 1}'),
        (5, t, 2, "sep", 9.0, '{"k": 99}'),
        (6, t, 1, "onlyneg", 5.0, '{"k": 1}'),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    out = {r.series: r for r in analytics.auc_report(ev).collect()}
    assert out["mix"].auc == 0.875 and out["mix"].gini == 0.75
    assert out["sep"].auc == 1.0 and out["sep"].gini == 1.0
    assert out["onlyneg"].auc is None and out["onlyneg"].gini is None


def test_chi_square_hand_cells(spark):
    """2×2 with O = [[30,10],[10,30]]: every E = 20, every cell term
    (O-20)^2/20 = 5.0, chi2_series = 10.0 per series."""
    from datetime import datetime

    t = datetime(2024, 1, 1)
    rows = []
    eid = 0
    for series, hi, lo in (("a", 30, 10), ("b", 10, 30)):
        for _ in range(hi):
            rows.append((eid, t, 1, series, 1.0, '{"k": 99}')); eid += 1
        for _ in range(lo):
            rows.append((eid, t, 1, series, 1.0, '{"k": 1}')); eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    out = {(r.series, r.label): r for r in analytics.chi_square_cells(ev).collect()}
    for key, o in (( ("a", True), 30), (("a", False), 10), (("b", True), 10), (("b", False), 30)):
        r = out[key]
        assert (r.o, r.e, r.chi2_term, r.chi2_series) == (o, 20.0, 5.0, 10.0)


def test_quota_split_exact_counts_and_apportionment(spark):
    """Strata of 14/15/21 docs at 10%: target = 50//10 = 5 seats; bases
    1/1/2 (sum 4), the one bonus seat goes to the largest remainder
    (15 % 10 = 5 > 14 % 10 = 4 > 21 % 10 = 1) -> quotas 1/2/2. The
    split is deterministic and exactly quota-sized per stratum."""
    from cloudtrace_exporter_spark.operators import curate as _c

    rows = (
        [(i, "x", "a", "s", 1) for i in range(14)]
        + [(100 + i, "x", "b", "s", 1) for i in range(15)]
        + [(200 + i, "x", "c", "s", 1) for i in range(21)]
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = _c.exact_quota_split(docs).collect()
    vals = [r for r in out if r.split == "val"]
    assert len(vals) == 5  # exact global quota
    by = {}
    for r in vals:
        by[r.stratum] = by.get(r.stratum, 0) + 1
    assert by == {"a": 1, "b": 2, "c": 2}
    again = _c.exact_quota_split(docs).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_funnel_strict_strictly_after_semantics(spark):
    """funnel_strict: user 1 completes in order; user 2 purchases
    BEFORE clicking (purchase must not count); user 3 only views; a
    click at the exact same microsecond as the view does NOT count
    (strictly after)."""
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1)
    m = lambda k: t0 + timedelta(minutes=k)  # noqa: E731
    rows = [
        (0, m(0), 1, "view", 1.0, "{}"),
        (1, m(1), 1, "click", 1.0, "{}"),
        (2, m(2), 1, "purchase", 1.0, "{}"),
        (3, m(0), 2, "view", 1.0, "{}"),
        (4, m(1), 2, "purchase", 1.0, "{}"),   # before any click: no credit
        (5, m(2), 2, "click", 1.0, "{}"),
        (6, m(0), 3, "view", 1.0, "{}"),
        (7, m(0), 4, "view", 1.0, "{}"),
        (8, m(0), 4, "click", 1.0, "{}"),      # same instant: NOT after
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    out = {r.step: r for r in analytics.funnel_strict(ev).collect()}
    assert out["view"].n_reached == 4
    assert out["click"].n_reached == 2       # users 1 and 2 (click after view)
    assert out["purchase"].n_reached == 1    # only user 1
    assert out["click"].conv_from_prev == 0.5
    assert out["purchase"].conv_from_first == 0.25


def test_calibration_bins_hand_values(spark):
    """Bin 9 (k=90..99): two events, mean_pred = (90+99)/200 = 0.945,
    one purchase -> rate 0.5, gap |0.945-0.5| = 0.445; bin 0 perfectly
    calibrated at rate 0 with k=0."""
    from datetime import datetime

    t = datetime(2024, 1, 1)
    rows = [
        (0, t, 1, "purchase", 1.0, '{"k": 90}'),
        (1, t, 1, "view", 1.0, '{"k": 99}'),
        (2, t, 1, "view", 1.0, '{"k": 0}'),
        (3, t, 1, "error", 1.0, '{"k": 0}'),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    out = {r.bin: r for r in analytics.calibration_bins(ev).collect()}
    assert out[9].n == 2 and out[9].mean_pred == 0.945 and out[9].rate == 0.5
    assert out[9].gap == 0.445 and out[9].ece_term == round(2 * 0.445 / 4, 6)
    assert out[0].mean_pred == 0.0 and out[0].rate == 0.0 and out[0].gap == 0.0


def test_changepoint_recovers_planted_level_shift(spark):
    """Series 'shift': 10 days at level 10 then 10 days at level 50 —
    the argmax must split exactly after day 10 with the two level
    means recovered; a constant series still emits a row (max of a
    flat statistic, smallest-k tie-break -> k=1)."""
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1)
    rows = []
    eid = 0
    for d in range(20):
        lvl = 10.0 if d < 10 else 50.0
        rows.append((eid, t0 + timedelta(days=d), 1, "shift", lvl, "{}")); eid += 1
    for d in range(6):
        rows.append((eid, t0 + timedelta(days=d), 1, "flat", 7.0, "{}")); eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    out = {r.series: r for r in analytics.changepoint_amoc(ev).collect()}
    s = out["shift"]
    assert s.cp_k == 10 and str(s.cp_day).startswith("2024-01-10")
    assert s.mean_before == 10.0 and s.mean_after == 50.0
    f = out["flat"]
    assert f.cp_k == 1 and f.stat == 0 and f.mean_before == 7.0 == f.mean_after


def test_pareto_front_hand_dominance(spark):
    """Points (1,5) (2,9) (3,9) (2,3): (2,3) and (3,9) are dominated
    ((2,9) is cheaper-or-equal and gains-more-or-equal with a strict);
    equal-cost rows collapse to the max-gain grid point."""
    rows = [
        (1, 1, 5.0, 1.0, 0.0, 0.0, "A", "F", "1994-01-01"),
        (2, 1, 9.0, 2.0, 0.0, 0.0, "A", "F", "1994-01-01"),
        (3, 1, 9.0, 3.0, 0.0, 0.0, "A", "F", "1994-01-01"),
        (4, 1, 3.0, 2.0, 0.0, 0.0, "A", "F", "1994-01-01"),
    ]
    li = spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber long, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate string",
    )
    got = {(r.grp, r.cost, r.gain) for r in analytics.pareto_front(li).collect()}
    assert got == {("A", 1.0, 5.0), ("A", 2.0, 9.0)}


def test_pareto_front_no_survivor_dominated(spark, sf_dir):
    """Frontier invariant on real data: gains strictly increase with
    cost along each group's frontier (otherwise something dominated
    survived)."""
    from cloudtrace_exporter_spark.sources.tables import load_table

    out = analytics.pareto_front(load_table(spark, sf_dir, "lineitem")).collect()
    by = {}
    for r in out:
        by.setdefault(r.grp, []).append((r.cost, r.gain))
    for pts in by.values():
        pts.sort()
        gains = [g for _, g in pts]
        assert gains == sorted(gains) and len(set(gains)) == len(gains)


def test_bootstrap_ci_constant_series_degenerates_to_point(spark):
    """Every resample of a constant series has the same mean: the CI
    collapses to [c, c] exactly; determinism across runs is structural
    (md5-indexed weights, no RNG)."""
    from datetime import datetime

    t = datetime(2024, 1, 1)
    rows = [(i, t, 1, "const", 7.25, "{}") for i in range(40)]
    rows += [(100 + i, t, 1, "mixed", float(i % 10), "{}") for i in range(200)]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    out = {r.series: r for r in analytics.bootstrap_ci(ev, b_reps=100).collect()}
    c = out["const"]
    assert c.mean == 7.25 and c.ci_lo == 7.25 and c.ci_hi == 7.25
    m = out["mixed"]
    assert m.ci_lo <= m.mean <= m.ci_hi and m.ci_lo < m.ci_hi
    assert m.b_reps == 100
    again = {r.series: r for r in analytics.bootstrap_ci(ev, b_reps=100).collect()}
    assert {k: tuple(v) for k, v in out.items()} == {k: tuple(v) for k, v in again.items()}


def test_rolling_median_hand_window(spark):
    """Daily values 1..5 with a day-3 spike of 100: the trailing-3
    median shrugs the spike off while a mean would not; warm-up frames
    (n < window) use the lower median of what exists."""
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1)
    vals = [1.0, 2.0, 100.0, 3.0, 4.0]
    rows = [(i, t0 + timedelta(days=i), 1, "s", v, "{}") for i, v in enumerate(vals)]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    out = {str(r.day)[:10]: r for r in analytics.rolling_median(ev, window_days=3).collect()}
    assert out["2024-01-01"].med == 1.0 and out["2024-01-01"].n_window == 1
    assert out["2024-01-02"].med == 1.0   # lower median of [1, 2]
    assert out["2024-01-03"].med == 2.0   # [1, 2, 100]
    assert out["2024-01-04"].med == 3.0   # [2, 100, 3] sorted -> 3
    assert out["2024-01-05"].med == 4.0   # [100, 3, 4] sorted -> 4


def test_activity_gini_hand_values(spark):
    """Perfect equality (4 users x 5 events) -> G = (2*50 - 5*20)/(4*20)
    = 0; one-user monopoly of 4 -> G = (n-1)/n = 0.75; top-decile share
    on the equal series = ceil(4/10)=1 user's 5/20 = 0.25."""
    from datetime import datetime

    t = datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u in range(1, 5):
        for _ in range(5):
            rows.append((eid, t, u, "equal", 1.0, "{}")); eid += 1
    for u, k in ((1, 8), (2, 0), (3, 0), (4, 0)):
        for _ in range(k):
            rows.append((eid, t, u, "mono", 1.0, "{}")); eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    out = {r.series: r for r in analytics.activity_gini(ev).collect()}
    eq = out["equal"]
    assert eq.gini == 0.0 and eq.n_users == 4 and eq.top_decile_share == 0.25
    mono = out["mono"]
    # only user 1 ever appears in 'mono' (others produced no rows there)
    assert mono.n_users == 1 and mono.gini == 0.0
    # genuine inequality: counts (1, 3) -> G = (2*(1+6) - 3*4)/(2*4) = 0.25
    rows2 = [(0, datetime(2024, 1, 1), 1, "s", 1.0, "{}")]
    rows2 += [(1 + i, datetime(2024, 1, 1), 2, "s", 1.0, "{}") for i in range(3)]
    ev2 = spark.createDataFrame(
        rows2,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    r2 = analytics.activity_gini(ev2).collect()[0]
    assert r2.gini == 0.25 and r2.top_decile_share == 0.75
