"""Round-11 optimization fast paths: the driver-side small-input tiers
must be BIT-IDENTICAL to the distributed paths they shortcut.

Every fast path here follows the connected_components union-find
discipline: a bounded limit-probe collect, exact integer/string logic
replayed in Python, results re-entering the plan as a LocalRelation,
and an untouched distributed fallback (forced via the threshold=0
parameter) for anything larger.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cloudtrace_exporter_spark.operators import graph, similarity, text


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def word_graph(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma alpha beta"),
            (2, "beta gamma delta epsilon beta"),
            (3, "gamma delta alpha zeta zeta"),
            (4, "epsilon zeta alpha beta gamma delta"),
        ],
        "doc_id long, text string",
    )
    return text.word_cooccurrence_graph(docs)


def test_pagerank_scaled_local_matches_distributed_string_ids(spark, word_graph):
    fast = _rows(graph.pagerank_scaled(word_graph, n_iter=10))
    slow = _rows(graph.pagerank_scaled(word_graph, n_iter=10, small_graph_edges=0))
    assert fast == slow
    assert len(fast) > 0


def test_pagerank_scaled_local_matches_distributed_int_ids(spark):
    # a shape with dangling nodes, a cycle, and duplicate edges — the
    # duplicate edge must count twice in out_deg on BOTH paths
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 2), (4, 1), (5, 5)],
        "src long, dst long",
    )
    fast = _rows(graph.pagerank_scaled(edges, n_iter=7))
    slow = _rows(graph.pagerank_scaled(edges, n_iter=7, small_graph_edges=0))
    assert fast == slow


def test_pagerank_scaled_local_null_ids_match_distributed(spark):
    # a NULL endpoint is a real node in the distributed rounds (the
    # union-distinct keeps one null row); a NULL src never matches the
    # rank join, so it sends nothing but still receives — the fuzz
    # corpus exercises this via events with null subjects
    edges = spark.createDataFrame(
        [("a", "b"), ("b", None), (None, "a"), ("c", "a"), ("b", "c")],
        "src string, dst string",
    )
    key = lambda r: (r[0] is None, r[0], r[1])
    fast = sorted((tuple(r) for r in graph.pagerank_scaled(edges, n_iter=6).collect()), key=key)
    slow = sorted(
        (tuple(r) for r in graph.pagerank_scaled(edges, n_iter=6, small_graph_edges=0).collect()),
        key=key,
    )
    assert fast == slow
    assert any(r[0] is None for r in fast)


def test_pagerank_scaled_local_empty_edges(spark):
    edges = spark.createDataFrame([], "src long, dst long")
    assert graph.pagerank_scaled(edges, n_iter=5).count() == 0


def _planted_corpus(spark):
    # 3 planted dup groups of 4 + orthogonal noise: exercises core,
    # border (none here), and noise roles plus multi-member clusters
    rows = []
    for g in range(3):
        base = [0.0] * 8
        base[g] = 1.0
        for c in range(4):
            v = list(base)
            v[(g + 1) % 8] += 0.01 * c
            rows.append((g * 10 + c, v))
    for n in range(5):
        v = [0.0] * 8
        v[5 + (n % 3)] = 1.0 + 0.3 * n
        rows.append((100 + n, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_dbscan_local_roles_match_distributed(spark):
    corpus = _planted_corpus(spark)
    fast = _rows(similarity.dbscan_embeddings(corpus, cos_num=95, cos_den=100, min_pts=3))
    slow = _rows(
        similarity.dbscan_embeddings(
            corpus, cos_num=95, cos_den=100, min_pts=3, small_graph_pairs=0
        )
    )
    assert fast == slow
    roles = {r[1] for r in fast}
    assert "core" in roles and "noise" in roles


def test_dbscan_local_border_role_matches_distributed(spark):
    # a chain where the middle points are core and the tips are border:
    # min_pts=3 over unit-ish vectors with graded perturbations
    rows = [(i, [1.0, 0.001 * i] + [0.0] * 6) for i in range(6)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    fast = _rows(similarity.dbscan_embeddings(corpus, cos_num=95, cos_den=100, min_pts=5))
    slow = _rows(
        similarity.dbscan_embeddings(
            corpus, cos_num=95, cos_den=100, min_pts=5, small_graph_pairs=0
        )
    )
    assert fast == slow


def test_dbscan_min_pts_one_keeps_distributed_semantics(spark):
    # min_pts <= 1 makes ISOLATED nodes core — invisible to a pair-list
    # fast path, which must therefore not fire
    corpus = _planted_corpus(spark)
    out = {
        r["vec_id"]: r["role"]
        for r in similarity.dbscan_embeddings(
            corpus, cos_num=95, cos_den=100, min_pts=1
        ).collect()
    }
    assert out[100] == "core"  # isolated noise vector is core at min_pts=1


def test_semdedup_local_cc_matches_distributed(spark):
    corpus = _planted_corpus(spark)
    fast = _rows(
        similarity.semdedup_scaled(corpus, n_centroids=4, lloyd_iters=2, tau_num=95, tau_den=100)
    )
    slow = _rows(
        similarity.semdedup_scaled(
            corpus,
            n_centroids=4,
            lloyd_iters=2,
            tau_num=95,
            tau_den=100,
            small_graph_pairs=0,
        )
    )
    assert fast == slow


def test_semdedup_frozen_centroids_match_fresh_train(spark):
    # the serve-time centroids path (train-once/serve-many, the
    # LSH/PQ/BM25 index-artifact lifecycle) must equal a fresh train on
    # the same corpus — centroids are a deterministic function of the data
    corpus = _planted_corpus(spark)
    from cloudtrace_exporter_spark.operators.similarity import _scaled_kmeans

    _, cents = _scaled_kmeans(corpus, n_centroids=4, lloyd_iters=2, scale=10**3)
    fresh = _rows(
        similarity.semdedup_scaled(corpus, n_centroids=4, lloyd_iters=2, tau_num=95, tau_den=100)
    )
    frozen = _rows(
        similarity.semdedup_scaled(
            corpus,
            n_centroids=4,
            lloyd_iters=2,
            tau_num=95,
            tau_den=100,
            centroids=cents,
        )
    )
    assert fresh == frozen


def test_bpe_local_vocab_matches_distributed(spark):
    docs = spark.createDataFrame(
        [
            (1, "low lower lowest low low"),
            (2, "new newer newest new wider"),
            (3, "low new wide wider widest"),
        ],
        "doc_id long, text string",
    )
    s_fast, s_slow = {}, {}
    m_fast, v_fast = text._bpe_train(docs, n_merges=8, stats=s_fast)
    m_slow, v_slow = text._bpe_train(docs, n_merges=8, stats=s_slow, small_vocab_rows=0)
    assert m_fast == m_slow
    assert _rows(v_fast) == _rows(v_slow)
    assert s_fast["driver_rounds"] == s_slow["driver_rounds"]


def test_bpe_local_batched_matches_distributed(spark):
    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{(i + 1) % 5} shared common shared") for i in range(40)],
        "doc_id long, text string",
    )
    m_fast, _ = text._bpe_train(docs, n_merges=12, merges_per_round=4)
    m_slow, _ = text._bpe_train(docs, n_merges=12, merges_per_round=4, small_vocab_rows=0)
    assert m_fast == m_slow


# ---------------------------------------------------------------------------
# round 12: Arrow containment-verify kernel + memoized partition probe
# ---------------------------------------------------------------------------


def test_containment_kernel_matches_expression(spark):
    # kernel == JVM expression (the exact theta join containment_pairs,
    # which verifies with _containment_verify), bit-identical, on an
    # adversarial slice:
    # shared vocab (dense candidates), an engulfed doc, an exact tie in
    # sizes (id tiebreak), a doc with no overlap, and repeated tokens
    # (array_distinct upstream must make sides set-like)
    from cloudtrace_exporter_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g h i j"),          # host of 1
            (3, "a b c"),                         # engulfed in 1 and 2
            (4, "x y z"),                         # disjoint
            (5, "c b a"),                         # same set as 3 -> tie on size
            (6, "a a b b c c d"),                 # dup tokens
        ],
        "doc_id long, text string",
    )
    for thr in (0.5, 0.9, 0.98):
        # three tiers, one contract: bitset (vocab <= 64), Arrow kernel,
        # and the pure-JVM expression path must be bit-identical
        bitset = _rows(dd.containment_pairs_blocked(docs, threshold=thr, _cache=False))
        kernel = _rows(
            dd.containment_pairs_blocked(
                docs, threshold=thr, _cache=False, bitset_vocab=0
            )
        )
        slow = _rows(dd.containment_pairs(docs, threshold=thr))
        assert bitset == kernel == slow
    assert len(bitset) > 0


def test_containment_bitset_tier_vocab_overflow_falls_back(spark):
    # 70 shareable tokens > 64 -> the bitset tier must fall through to
    # the array path and still produce identical results
    from cloudtrace_exporter_spark.operators import dedup as dd

    vocab = [f"t{i:02d}" for i in range(70)]
    rows = [
        (i, " ".join(vocab[i % 3 :][: 40 + (i % 20)])) for i in range(1, 30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    via_default = _rows(dd.containment_pairs_blocked(docs, threshold=0.7, _cache=False))
    via_arrays = _rows(
        dd.containment_pairs_blocked(docs, threshold=0.7, _cache=False, bitset_vocab=0)
    )
    assert via_default == via_arrays
    assert len(via_default) > 0


def test_containment_kernel_plan_is_map_in_arrow(spark):
    from cloudtrace_exporter_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c d")], "doc_id long, text string"
    )
    plan = (
        dd.containment_pairs_blocked(docs, threshold=0.5, _cache=False, bitset_vocab=0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInArrow" in plan or "PythonMapInArrow" in plan
    assert "BatchEvalPython" not in plan
    # the default (bitset) tier stays pure-JVM: longs + bit_count, no
    # Python boundary at all
    bplan = (
        dd.containment_pairs_blocked(docs, threshold=0.5, _cache=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInArrow" not in bplan and "BatchEvalPython" not in bplan


def test_rdd_partitions_memo_matches_probe(spark):
    from cloudtrace_exporter_spark.session import rdd_partitions

    wide = spark.range(0, 1000, numPartitions=7).toDF("doc_id")
    assert rdd_partitions(wide) == wide.rdd.getNumPartitions() == 7
    # second call serves the memo — still the same answer
    assert rdd_partitions(wide) == 7
    narrow = spark.range(0, 10, numPartitions=1).toDF("doc_id")
    assert rdd_partitions(narrow) == 1


def test_clear_session_caches_drops_memos_and_cache(spark):
    import __spark_entry__ as entry
    from cloudtrace_exporter_spark import session

    df = session.artifact(spark, "test-artifact", "sf-x", lambda: spark.range(5))
    df.count()
    jcm = spark._jsparkSession.sharedState().cacheManager()
    assert not jcm.isEmpty()
    n = entry.clear_session_caches(spark)
    assert n >= 1
    assert not session._ARTIFACTS
    # the catalog-level cache is empty after the clear
    assert jcm.isEmpty()


def test_invalidate_refreshes_partition_count_of_grown_dir(spark, tmp_path):
    from cloudtrace_exporter_spark.session import invalidate, rdd_partitions

    path = str(tmp_path / "grow")
    # one scan split per file, so a new file shows as a new partition
    prev = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.openCostInBytes", str(128 * 1024 * 1024))
    try:
        spark.range(10).repartition(2).write.parquet(path)
        before = rdd_partitions(spark.read.parquet(path))
        assert before == 2
        spark.range(10, 15).coalesce(1).write.mode("append").parquet(path)
        # same logical plan, so the stored count is served until invalidate
        assert rdd_partitions(spark.read.parquet(path)) == before
        invalidate(spark)
        grown = spark.read.parquet(path)
        assert rdd_partitions(grown) == grown.rdd.getNumPartitions() == 3
    finally:
        spark.conf.set("spark.sql.files.openCostInBytes", prev)


def test_artifact_miss_drops_other_application_entries(spark):
    from cloudtrace_exporter_spark import session

    session._ARTIFACTS[("app-dead", "dead-pool", "sf-x")] = [1, 2, 3]
    assert session.artifact(spark, "pool", "sf-y", lambda: [4]) == [4]
    assert ("app-dead", "dead-pool", "sf-x") not in session._ARTIFACTS
    # hits serve the stored value without rebuilding
    assert session.artifact(spark, "pool", "sf-y", lambda: [5]) == [4]
    # a miss on the same name under another sf_dir evicts the old one
    assert session.artifact(spark, "pool", "sf-z", lambda: [6]) == [6]
    app = spark.sparkContext.applicationId
    assert (app, "pool", "sf-y") not in session._ARTIFACTS


def test_ranked_cells_rejects_column_objects():
    with pytest.raises(TypeError, match="col"):
        similarity._nearest_scaled(F.col("v"), [(0, [1, 2])])
