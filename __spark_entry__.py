"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship star-join smoke query at sf0.001.
``queries()`` — one callable per implemented operator from SURVEY.md §2.
``oracle_sql()`` — DuckDB-equivalent SQL per query (omitted for ops that
aren't exactly SQL-expressible → driver does a rows-only check).

Cross-engine conventions (see operators/analytics.py docstring):
every computed column aliased identically on both sides; double
aggregates rounded; timestamps formatted to ``yyyy-MM-dd HH:mm:ss``
strings; integer sums cast to BIGINT in DuckDB (its integer SUM returns
HUGEINT).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudtrace_exporter_spark.operators import (
    analytics,
    curate,
    dedup,
    expectations,
    graph,
    multimodal,
    normalize,
    similarity,
    skew,
    text,
    udfs,
)
from cloudtrace_exporter_spark.session import artifact, invalidate
from cloudtrace_exporter_spark.sources.tables import load_table

# Auth-context constants for the normalize chain (the reference takes these
# from the OTC client context, /root/reference/pkg/adapter/adapter.go:224,252-254).
CTX = {
    "source": "https://cts.example",
    "region": "eu-de",
    "domain": "domain-1",
    "tenant": "tenant-1",
}

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Full 4-hop star join (lineitem⋈orders⋈customer⋈nation⋈region — the
    ACTION→RESOURCE→TENANT→REGION graph walk, SURVEY §1.1d) + revenue
    rollup per region.
    """
    t = {n: load_table(spark, SMOKE_SF_DIR, n) for n in ("lineitem", "orders", "customer", "nation", "region")}
    return analytics.star_join_revenue(t["lineitem"], t["orders"], t["customer"], t["nation"], t["region"])


# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------


def clear_session_caches(spark: SparkSession) -> int:
    """Drop every session artifact and CacheManager entry so the next
    invocation of any query pays its full cold build (bench.py's
    ``queries_build`` pass). Returns the number of artifacts dropped."""
    return invalidate(spark)


def _normalized_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events fixture → TRACE_SCHEMA → normalized EVENT_SCHEMA (Part A
    chain). ~20 queries re-derive it, so it is a cached session artifact:
    a sequential sweep over queries() computes it once, not per query."""
    return artifact(
        spark, "normalized_events", sf_dir,
        lambda: normalize.normalize_traces(
            normalize.events_as_traces(load_table(spark, sf_dir, "events")), **CTX
        ),
    )


def _ts_s(col: str, alias: str) -> F.Column:
    return F.date_format(col, "yyyy-MM-dd HH:mm:ss").alias(alias)


# --------------------------------------------------------------------------
# B-I: event-pipeline relational core (SURVEY §2 B2-B8)
# --------------------------------------------------------------------------


def q_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    windowed = normalize.time_window_filter(ev, "ts", "2024-01-05 00:00:00", "2024-01-15 00:00:00")
    return windowed.select("event_id", _ts_s("ts", "ts_s"), "event_type", "user_id", "value")


def q_normalize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ne = _normalized_events(spark, sf_dir)
    return ne.select(
        "event_id",
        "source",
        "type",
        "subject",
        _ts_s("event_time", "event_time_s"),
        "status",
        "code",
        "resource_id",
        "region",
        "domain",
        "tenant",
    )


def q_enrich_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4: literal enrichment then K_CE_OVERRIDES merge — last writer wins
    (adapter.go:256-261): region is overridden, a new column appends."""
    ne = _normalized_events(spark, sf_dir)
    overridden = normalize.apply_overrides(ne, {"region": "eu-nl", "priority": "high"})
    return overridden.select("event_id", "region", "domain", "tenant", "priority")


def q_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5: at-least-once → effectively-once. Simulates the reference's
    overlapping poll windows (adapter.go:266-271) by unioning the stream
    with itself, then dedups by event id (MERGE idempotency, client.go)."""
    ev = load_table(spark, sf_dir, "events")
    doubled = ev.union(ev)
    deduped = normalize.dedup_events(doubled, "event_id")
    return deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6: JSON payload field extraction (inverse of A9's to_json)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select((k % 10).alias("k_mod10"), k.alias("k"))
        .groupBy("k_mod10")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("sum_k"))
        .orderBy("k_mod10")
    )


def q_status_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7: value → normal/warning/incident buckets (README.md:44 enum)."""
    ev = load_table(spark, sf_dir, "events")
    classified = normalize.classify_status(ev, "value", "status")
    return (
        classified.groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 2).alias("avg_value"))
        .orderBy("status")
    )


def q_count_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B8: tumbling-window batch counts (A12's per-cycle count, set at hour
    grain via date_trunc so it is batch- and oracle-expressible)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("hour_ts"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(_ts_s("hour_ts", "hour_s"), "n", "sum_value")
    )


def q_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B27/B28 batch face: OVERLAPPING (sliding) windows — 30-minute
    windows every 15 minutes via Spark's native window(ts, size, slide);
    each event lands in exactly two windows. The direct analog of the
    reference's overlapping poll windows (adapter.go:158-171), expressed
    as a batch group-by so it is exactly oracle-checkable."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "30 minutes", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(_ts_s("w.start", "win_start_s"), "n", "sum_value")
    )


# --------------------------------------------------------------------------
# B-II: graph materialization + analytics (B9-B25)
# --------------------------------------------------------------------------


def q_nodes_resource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9: RESOURCE node extraction — distinct dim from the event stream
    (MERGE (resource:RESOURCE{id}), client.go:14)."""
    nodes = graph.build_nodes(_normalized_events(spark, sf_dir))
    return nodes["resources"]


def q_nodes_action(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9: ACTION node (fact) extraction with attrs (client.go:15)."""
    nodes = graph.build_nodes(_normalized_events(spark, sf_dir))
    return nodes["actions"].select("id", _ts_s("timestamp", "ts_s"), "source", "type")


def q_edges_applied_on(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B10: ACTION-[:APPLIED_ON]->RESOURCE edge table (client.go:15,18)."""
    edges = graph.build_edges(_normalized_events(spark, sf_dir))
    return edges["applied_on"]


def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph health: in-degree histogram of RESOURCE via APPLIED_ON."""
    edges = graph.build_edges(_normalized_events(spark, sf_dir))
    return graph.degree_distribution(edges["applied_on"], node_col="dst")


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics: PageRank over the SUBJECT→RESOURCE influence graph
    (rows-only: float iteration; small-graph exactness in test_graph.py)."""
    ev = _normalized_events(spark, sf_dir)
    edges = ev.select(
        F.col("subject").alias("src"), F.col("resource_id").alias("dst")
    ).dropDuplicates(["src", "dst"])
    return graph.pagerank(edges, n_iter=10)


def q_pagerank_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics, ORACLE-BACKED twin of q_pagerank: the identical
    10-round power method over the SUBJECT→RESOURCE graph, with ranks
    integer-scaled (×1e12, damping as the exact 85/100 rational, floor
    division) so the full trajectory is BIGINT-deterministic and DuckDB
    replays it as an unrolled 10-stage CTE chain — the k-core precedent
    applied to PageRank (graph.pagerank_scaled)."""
    ev = _normalized_events(spark, sf_dir)
    edges = ev.select(
        F.col("subject").alias("src"), F.col("resource_id").alias("dst")
    ).dropDuplicates(["src", "dst"])
    return graph.pagerank_scaled(edges, n_iter=10)


def _pagerank_scaled_oracle_sql(*, n_iter: int = 10, scale: int = 10**12) -> str:
    """DuckDB replay of graph.pagerank_scaled: same integer-scaled
    trajectory, one (contribs, ranks) CTE pair per round — each CTE is
    referenced exactly once, so the chain stays linear under DuckDB's
    inlining (the BPE-oracle lesson)."""
    rounds = []
    for r in range(1, n_iter + 1):
        rounds.append(f""",
        c{r} AS (
          SELECT e.dst AS id, CAST(sum(r.rank // od.out_deg) AS BIGINT) AS s
          FROM e JOIN od USING (src) JOIN r{r - 1} r ON r.id = e.src
          GROUP BY e.dst
        ),
        r{r} AS (
          SELECT nodes.id,
                 CAST((SELECT tp FROM consts)
                      + (85 * COALESCE(c{r}.s, 0)) // 100 AS BIGINT) AS rank
          FROM nodes LEFT JOIN c{r} ON nodes.id = c{r}.id
        )""")
    return f"""
        WITH {EVENTS_AS_TRACES_SQL.strip()},
        e AS (SELECT DISTINCT subject AS src, resource_id AS dst FROM norm),
        nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        consts AS (
          SELECT CAST({scale} // count(*) AS BIGINT) AS r_init,
                 CAST({scale * 15} // (100 * count(*)) AS BIGINT) AS tp
          FROM nodes
        ),
        od AS (SELECT src, CAST(count(*) AS BIGINT) AS out_deg FROM e GROUP BY src),
        r0 AS (SELECT id, (SELECT r_init FROM consts) AS rank FROM nodes)
        {"".join(rounds)}
        SELECT id, rank AS pagerank_scaled FROM r{n_iter}
    """


def q_edges_performed_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B10: ACTION-[:PERFORMED_BY]->SUBJECT edge table (client.go:20)."""
    edges = graph.build_edges(_normalized_events(spark, sf_dir))
    return edges["performed_by"]


def q_nodes_subject(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9: SUBJECT node extraction (client.go:12)."""
    return graph.build_nodes(_normalized_events(spark, sf_dir))["subjects"]


def q_nodes_tenant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9: TENANT node — composite (tenantId, domainId) key (client.go:13)."""
    return graph.build_nodes(_normalized_events(spark, sf_dir))["tenants"]


def q_edges_member_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B10: RESOURCE-[:MEMBER_OF]->TENANT edge table (client.go:17)."""
    return graph.build_edges(_normalized_events(spark, sf_dir))["member_of"]


def q_edges_with_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B10: ACTION-[:WITH_STATUS]->STATUS edge table (client.go:19)."""
    return graph.build_edges(_normalized_events(spark, sf_dir))["with_status"]


def q_edges_located_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B10: TENANT-[:LOCATED_AT]->REGION edge table (client.go:16)."""
    return graph.build_edges(_normalized_events(spark, sf_dir))["located_at"]


def q_graph_build_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 end-to-end: per-table cardinality of the full graph build
    (6 node + 5 edge tables, client.go:10-21) — the one-query proof that
    the whole Cypher MERGE template materializes. Single-scan
    multi-distinct aggregation; the naive build-then-count costs 11 scans
    (tests assert the two agree and that this plan reads the fact table
    once)."""
    return graph.summarize_graph(_normalized_events(spark, sf_dir))


def q_cypher_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 sink row shape: the 10-parameter batch the UNWIND…MERGE Cypher
    template consumes (client.go:57-67), dedup'd on the action key —
    oracle-checks the exact payload the graph sink would deliver."""
    from cloudtrace_exporter_spark.streaming.cypher_sink import events_to_cypher_rows

    return events_to_cypher_rows(_normalized_events(spark, sf_dir))


def q_subject_status_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cypher collect() parity: per subject, the sorted distinct set of
    statuses its actions produced (MATCH (s:SUBJECT)<-[:PERFORMED_BY]-
    (a)-[:WITH_STATUS]->(st) RETURN s, collect(DISTINCT st)).

    The set is serialized to a comma-joined string: the driver's pandas
    canonicalization cannot hash array cells (round-1 harness error)."""
    ev = _normalized_events(spark, sf_dir)
    return ev.groupBy("subject").agg(
        F.array_join(F.sort_array(F.collect_set("status")), ",").alias("statuses"),
        F.countDistinct("status").alias("n_statuses"),
    )


def q_subject_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cypher variable-length-path parity: tenants reachable from each
    subject via ACTION→RESOURCE→TENANT (2-hop reach through the
    materialized edge tables, joined on their keys)."""
    edges = graph.build_edges(_normalized_events(spark, sf_dir))
    pb = edges["performed_by"].select(F.col("src").alias("action"), F.col("dst").alias("subject"))
    ao = edges["applied_on"].select(F.col("src").alias("action"), F.col("dst").alias("resource"))
    mo = edges["member_of"].select(F.col("src").alias("resource"), F.col("dst").alias("tenant"))
    return (
        pb.join(ao, "action")
        .join(F.broadcast(mo), "resource")
        .groupBy("subject")
        .agg(F.countDistinct("tenant").alias("n_tenants"))
    )


def q_graph_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cypher-style reachability on the MATERIALIZED graph: per status,
    how many actions and distinct subjects — ACTION-[:WITH_STATUS]->STATUS
    joined with ACTION-[:PERFORMED_BY]->SUBJECT through the shared ACTION
    key (the MATCH pattern the reference's README demonstrates)."""
    edges = graph.build_edges(_normalized_events(spark, sf_dir))
    ws = edges["with_status"].select(F.col("src").alias("action"), F.col("dst").alias("status"))
    pb = edges["performed_by"].select(F.col("src").alias("action"), F.col("dst").alias("subject"))
    return (
        ws.join(pb, "action")
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_actions"),
            F.countDistinct("subject").alias("n_subjects"),
        )
        .orderBy("status")
    )


def q_join_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = {n: load_table(spark, sf_dir, n) for n in ("lineitem", "orders", "customer")}
    return analytics.join_2hop(t["lineitem"], t["orders"], t["customer"])


def q_join_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = {n: load_table(spark, sf_dir, n) for n in ("lineitem", "orders", "customer", "nation", "region")}
    return analytics.star_join_revenue(t["lineitem"], t["orders"], t["customer"], t["nation"], t["region"])


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.semi_join_incident(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.anti_join_no_incident(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


def q_left_join_zero_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.left_join_zero_actions(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


def q_agg_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.agg_by_status(load_table(spark, sf_dir, "lineitem"))


def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.count_distinct_subjects(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )


def q_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.approx_count_distinct_subjects(load_table(spark, sf_dir, "orders"))


def q_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = {n: load_table(spark, sf_dir, n) for n in ("orders", "customer", "nation", "region")}
    return analytics.rollup_region_nation(t["orders"], t["customer"], t["nation"], t["region"])


def q_topk_resources(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.topk_resources(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part"), k=10
    )


def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.window_rank(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders"), k=3
    )


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection: |value − median| > 3·MAD per event type."""
    return analytics.mad_outliers(load_table(spark, sf_dir, "events"), k=3.0)


def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data profiling: null/distinct/min/max for orders columns, one scan."""
    return analytics.profile_table(
        load_table(spark, sf_dir, "orders"),
        numeric_cols=["o_totalprice"],
        key_cols=["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
    )


def q_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B19 completeness: first/last/nth value over a pinned full frame."""
    return analytics.window_first_last(load_table(spark, sf_dir, "orders"))


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B17: explicit GROUPING SETS (arbitrary set list, not a lattice)."""
    return analytics.grouping_sets_status(load_table(spark, sf_dir, "orders"))


def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B19 family: percent_rank / cume_dist / ntile within nation."""
    return analytics.window_distribution(load_table(spark, sf_dir, "customer"))


def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B15/B17 family: pivot order counts per priority × status."""
    return analytics.pivot_status_by_priority(load_table(spark, sf_dir, "orders"))


def q_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B15 family: corr/covar/stddev of (quantity, price) per return flag."""
    return analytics.corr_stats(load_table(spark, sf_dir, "lineitem"))


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star: deterministic 20% content-hash sample of documents."""
    return analytics.hash_sample(
        load_table(spark, sf_dir, "documents"), key_col="doc_id", fraction=0.2
    ).select("doc_id", "lang", "n_chars")


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star: language-rebalancing sample — 25% of English, all else kept."""
    return analytics.stratified_hash_sample(
        load_table(spark, sf_dir, "documents"),
        key_col="doc_id",
        strata_col="lang",
        fractions={"en": 0.25},
        default_fraction=1.0,
    ).select("doc_id", "lang")


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth analytics: first-seen-day cohorts × day-offset active users."""
    return analytics.cohort_retention(load_table(spark, sf_dir, "events"))


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: view → click → purchase by first-occurrence time."""
    return analytics.funnel_conversion(load_table(spark, sf_dir, "events"))


def q_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC compaction: latest event per (user, type) — last-writer-wins
    snapshot with deterministic tiebreak."""
    ev = load_table(spark, sf_dir, "events")
    return normalize.latest_by_key(
        ev, key_cols=["user_id", "event_type"]
    ).select(
        "user_id",
        "event_type",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.round("value", 2).alias("value"),
    )


def q_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B21 family: trailing-7-day RANGE frame per user at each event."""
    return analytics.rolling_window_sum(load_table(spark, sf_dir, "events"), days=7)


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence mining: per-user event-type transition counts."""
    return analytics.event_transitions(load_table(spark, sf_dir, "events"))


def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 build: per-user event_type validity intervals (CDC→dim)."""
    return analytics.scd2_intervals(load_table(spark, sf_dir, "events"))


def q_range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join via time-bin equi-join: purchases within ±5 min
    of each error event."""
    return analytics.range_join_binned(load_table(spark, sf_dir, "events"), minutes=5)


def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: daily HLL distinct-user sketches merged to a
    monthly estimate (rows-only; mergeability + tolerance vs exact asserted
    in tests/test_sampling.py)."""
    return analytics.hll_rollup(load_table(spark, sf_dir, "events"))


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped: one nation's share of ASIA-customer revenue per year."""
    t = {n: load_table(spark, sf_dir, n) for n in ("lineitem", "orders", "customer", "supplier", "nation", "region")}
    return analytics.market_share(
        t["lineitem"], t["orders"], t["customer"], t["supplier"], t["nation"], t["region"]
    )


def q_global_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase global row numbering (no single-partition window):
    documents ranked by size descending, doc_id tiebreak."""
    return analytics.global_row_number(
        load_table(spark, sf_dir, "documents").select("doc_id", "n_chars"),
        [F.desc("n_chars"), F.asc("doc_id")],
    )


def q_lm_unigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-self-trained unigram LM quality score per document."""
    return text.lm_unigram_score(load_table(spark, sf_dir, "documents"))


def q_lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated (Jelinek-Mercer) bigram LM quality score per document
    — penalizes scrambled word soup a unigram model scores fluent."""
    return text.lm_bigram_score(load_table(spark, sf_dir, "documents"))


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steady-state curation: dedup an incoming batch (doc_id ≥ 250)
    against the already-deduped corpus (doc_id < 250) by fingerprint
    anti-join — corpus text never re-read."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.incremental_dedup(
        docs.filter(F.col("doc_id") >= 250), docs.filter(F.col("doc_id") < 250)
    )


def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document 3-gram repetition ratio (boilerplate/stuffing signal)."""
    return text.repetition_ratio(load_table(spark, sf_dir, "documents"), n=3)


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: top-10 unshipped BUILDING-segment orders by revenue."""
    t = {n: load_table(spark, sf_dir, n) for n in ("lineitem", "orders", "customer")}
    return analytics.shipping_priority(t["lineitem"], t["orders"], t["customer"])


def q_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape: orders above their customer's average price."""
    return analytics.above_customer_avg_orders(load_table(spark, sf_dir, "orders"))


def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel latency: minutes from first signup to first purchase after it."""
    return analytics.time_to_convert(load_table(spark, sf_dir, "events"))


def q_lone_returner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21-shaped: suppliers most often the ONLY one with returns on
    multi-supplier orders."""
    return analytics.lone_returner_suppliers(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "supplier")
    )


def q_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day (windowed DISTINCT via
    dedupe-then-explode)."""
    return analytics.rolling_active_users(load_table(spark, sf_dir, "events"), days=7)


def q_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6 via Spark 4 VARIANT: one JSON parse, typed path extraction,
    per-type stats."""
    return normalize.variant_props_stats(load_table(spark, sf_dir, "events"))


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B15 family: fixed-width histogram of events.value with bin shares."""
    return analytics.value_histogram(load_table(spark, sf_dir, "events"), width=50.0)


def q_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B15/B16 approx: t-digest percentile sketch (rows-only; tolerance vs
    exact asserted in tests/test_sampling.py)."""
    return analytics.approx_percentiles(load_table(spark, sf_dir, "orders"))


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B35: per-document character-distribution Shannon entropy."""
    return text.char_entropy(load_table(spark, sf_dir, "documents"))


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B17 inverse: melt lineitem measures to long (measure, value) rows."""
    return analytics.unpivot_measures(load_table(spark, sf_dir, "lineitem"))


def q_top_user_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B15 family: deterministic arg-max via fieldwise struct comparison."""
    return analytics.top_user_per_event_type(load_table(spark, sf_dir, "events"))


def q_daily_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B8 family: gap-filled daily counts (zero rows for silent days)."""
    return analytics.daily_spine(load_table(spark, sf_dir, "events"))


def q_interpolate_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B8/B21 family: per-series daily spine with linear interpolation
    over missing days — a deterministic day-of-month outage mask
    (dayofmonth % 7 IN (0,1)) blanks Jan 1 (leading-edge carry) and
    consecutive interior pairs (true 2-step interpolation) so the
    fixture exercises every fill branch."""
    return analytics.interpolate_daily_gaps(
        load_table(spark, sf_dir, "events"),
        outage=lambda d: (F.dayofmonth(d) % 7).isin(0, 1),
    )


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star: URL/email/long-number redaction over documents."""
    return text.redact_pii(load_table(spark, sf_dir, "documents"))


def q_pii_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star audit twin of q_pii_redact: per (source, pattern type)
    incidence — documents hit, total matches, source size — counted on
    the progressively-redacted text so policy order is honored (an email
    inside a URL counts once, as URL). One scan, one group shuffle, no
    joins. Full oracle."""
    return text.pii_report(load_table(spark, sf_dir, "documents"))


def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.window_lag_lead(load_table(spark, sf_dir, "events"))


def q_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.running_sum(load_table(spark, sf_dir, "events"))


def q_global_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.global_sort(load_table(spark, sf_dir, "orders"), n=1000)


def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.set_ops_union(load_table(spark, sf_dir, "orders"))


def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.set_ops_intersect(load_table(spark, sf_dir, "orders"))


def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.set_ops_except(load_table(spark, sf_dir, "orders"))


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.asof_join_daily(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")
    )


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data split assignment: every document deterministically
    labeled train/val/test (0.8/0.1/0.1) by md5-prefix interval — the
    zero-shuffle, engine-portable alternative to global-sort slicing."""
    docs = load_table(spark, sf_dir, "documents")
    return analytics.assign_splits(docs, key_col="doc_id").select("doc_id", "split")


def q_asof_join_ranged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B24 scale-true path: RAW lineitem rows (60k at sf0.01) as-of joined
    to per-day order stats via the range-partitioned merge with carry-in
    replication — no single-partition sort over fact rows (verdict r1 #6)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    # cached: day-cardinality (calendar-bounded at any SF), and the asof
    # operator's merge + carry branches are separate tree copies that
    # would otherwise each re-run the orders aggregation
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderdate")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.max("o_orderkey").alias("last_orderkey"))
        .cache()
    )
    res = analytics.asof_join_ranged(
        lineitem,
        daily,
        "l_shipdate",
        "o_orderdate",
        ["l_orderkey", "l_linenumber"],
        ["n_orders", "last_orderkey"],
        bucket="month",
    )
    return res.select(
        "l_orderkey",
        "l_linenumber",
        _ts_s("asof_ts", "asof_s"),
        "n_orders",
        "last_orderkey",
    )


def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.scalar_funcs(load_table(spark, sf_dir, "part"))


def q_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B12 variant (TPC-H Q5 shape): local-supplier revenue per region/nation."""
    t = {
        n: load_table(spark, sf_dir, n)
        for n in ("lineitem", "orders", "customer", "supplier", "nation", "region")
    }
    return analytics.supplier_volume(
        t["lineitem"], t["orders"], t["customer"], t["supplier"], t["nation"], t["region"]
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B28 batch twin: gap-based sessionization (30-min gap) per user."""
    return analytics.sessionize(load_table(spark, sf_dir, "events"), gap_minutes=30)


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B15 family: exact interpolated percentiles per priority class."""
    return analytics.percentiles(load_table(spark, sf_dir, "orders"))


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B17: CUBE over status × priority."""
    return analytics.cube_status_priority(load_table(spark, sf_dir, "orders"))


def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B25 date function family."""
    return analytics.date_funcs(load_table(spark, sf_dir, "orders"))


def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B25 map/json function family over the props payload. The key list
    is comma-serialized: the driver's pandas canonicalization cannot hash
    array cells (same class of crash as round-1 q_subject_status_sets)."""
    out = analytics.map_funcs(load_table(spark, sf_dir, "events"))
    # coalesce: a NULL props payload serializes to '' on BOTH engines
    # (Spark array_join(NULL) is NULL; DuckDB's array_to_string is
    # already coalesced — round-8 fuzz find)
    return out.withColumn(
        "prop_keys", F.coalesce(F.array_join("prop_keys", ","), F.lit(""))
    )


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage aggregation — must equal the direct groupBy
    (the oracle IS the direct plan, proving the rewrite is semantic-free)."""
    out = skew.salted_sum_count(
        load_table(spark, sf_dir, "events"), ["event_type"], sum_cols=["value"], n_salts=16
    )
    return out.select("event_type", "n", F.round("sum_value", 2).alias("sum_value")).orderBy(
        "event_type"
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B34 IVF-probed approximate top-k, ORACLE-EXACT (the integer
    k-means + probe of similarity.ivf_topk_scaled at 16 cells; recall vs
    q_cosine_topk asserted in tests). The IVF index is a build-once
    session artifact: the k-means build is the ingest-time step;
    steady-state queries pay only the centroid probe + cell-pruned
    scoring (see similarity.save_ivf_index for the at-rest
    equivalent)."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned, cents = artifact(
        spark, "ivf_index", sf_dir,
        lambda: similarity._scaled_kmeans(emb, n_centroids=16, lloyd_iters=2, scale=10**6),
    )
    return similarity._ivf_probe_scaled(
        assigned, emb.filter(F.col("vec_id") < 10), cents, k=5, n_probe=4, scale=10**6
    )


# --------------------------------------------------------------------------
# B-IV: LLM-data-pipeline extensions (B33-B37 + driver north_star)
# --------------------------------------------------------------------------


def q_doc_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B33 exact dedup: md5-keyed groupBy keeping the lowest doc_id."""
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"))


def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B33 curation report: per-source duplication rate on the exact-dup
    fingerprint — which provenance feeds copies."""
    return dedup.dup_rate_by_source(load_table(spark, sf_dir, "documents"))


def _dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized CC assignment over the bounded slice: the iterative
    fixpoint EXECUTES at DataFrame-build time (localCheckpoint rounds),
    so q_dedup_clusters and q_dedup_survivors would each pay the full
    ~3-12 s convergence loop per sweep — same per-(app, sf) memo
    discipline as the LSH/PQ index artifacts (an assignment table IS a
    build-once artifact)."""
    return artifact(
        spark, "dedup_clusters", sf_dir,
        lambda: dedup.dedup_clusters(
            load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000),
            threshold=0.95,
        ),
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B33: near-dup cluster assignment — connected components over the
    exact-Jaccard pair graph (same bounded 1000-doc slice as
    q_ngram_jaccard); component = min doc id, singletons keep their own."""
    return _dedup_clusters(spark, sf_dir).orderBy("doc_id")


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B33: per-cluster survivor (min doc id) + member count."""
    return dedup.cluster_sizes(_dedup_clusters(spark, sf_dir))


def q_dedup_survivors_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B33, ORACLE-EXACT (round 10): quality-aware survivor selection —
    keep the LONGEST member of each near-dup cluster (token count desc,
    id asc tiebreak) instead of the min id (dedup.survivors_by_quality);
    the curation-grade keep rule next to q_dedup_survivors' min-id one.
    Reuses the memoized cluster assignment; component labels stay the
    min-id ones so the two policies join."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    return dedup.survivors_by_quality(docs, assign=_dedup_clusters(spark, sf_dir))


def q_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-aware loss weighting, ORACLE-EXACT: per-doc 1/cluster-
    size ppm weights over the memoized near-dup component assignment
    (dedup.soft_dedup_weights) — the soft alternative to dropping
    duplicates: a 40-way duplicated page contributes one page of
    gradient signal, while within-cluster variation survives. Integer
    div end to end, flooring residue reported."""
    return dedup.soft_dedup_weights(_dedup_clusters(spark, sf_dir))


def q_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7/B8 depth: day-of-week seasonal fingerprint per event series —
    counts, weekday averages, and ratio-to-series-mean. Portable integer
    dow arithmetic (Spark and DuckDB dayofweek() disagree). Full oracle."""
    return analytics.seasonal_profile(load_table(spark, sf_dir, "events"))


def q_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B34 eval harness: per-query nDCG@5 of the LSH scale path against
    the exact cosine ranking — the ANN quality metric AS A QUERY (the
    recall tests assert a floor; this reports the graded number). DCG is
    an unrolled fixed-order weight chain, so the doubles match across
    engines; full oracle composes the LSH and cosine oracles."""
    emb = load_table(spark, sf_dir, "embeddings")
    sys_rank = similarity.lsh_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5, n_bits=2, n_tables=8,
        index=_lsh_index(spark, sf_dir),
    )
    truth = similarity.cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)
    return similarity.ndcg_at_k(sys_rank, truth, k=5)


def q_token_share_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star report: corpus composition by source measured in
    TOKENS (docs and tokens per source + token share) — the observed
    mixture that token-budget/mixture recipes are written against.
    Narrow token_count per row + one tiny aggregate. Full oracle."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(text.token_count("text")).alias("n_tokens"),
    )
    w = Window.partitionBy()
    return g.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.sum("n_tokens").over(w), 6).alias("token_share"),
    )


def q_mom_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B20/B16 composition: month-over-month change report off the
    partial-aggregate rollup — previous month's totals via lag over the
    tiny monthly grid, absolute and percent deltas. Full oracle."""
    from pyspark.sql import Window

    monthly = analytics.rollup_partials(load_table(spark, sf_dir, "events"))
    w = Window.partitionBy("series").orderBy("month")
    prev = F.lag("sum_value").over(w)
    return monthly.select(
        "series",
        "month",
        "sum_value",
        F.round(prev, 4).alias("prev_sum"),
        F.round(F.col("sum_value") - prev, 4).alias("abs_change"),
        F.round(
            F.when(prev != 0, (F.col("sum_value") - prev) / prev), 6
        ).alias("pct_change"),
    )


def q_filter_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B35 eval harness: agreement grid between the rule-based quality
    filter and the classifier quality filter — the ensemble diagnostic
    (where do heuristics and the model disagree, and how often). Full
    oracle composing both sub-oracles verbatim."""
    docs = load_table(spark, sf_dir, "documents")
    rule = text.quality_filter(docs).select("doc_id", F.col("keep").alias("rule_keep"))
    clf = text.classifier_quality_score(docs).select(
        "doc_id", F.col("keep").alias("clf_keep")
    )
    return (
        rule.join(clf, "doc_id")
        .groupBy("rule_keep", "clf_keep")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B35 eval harness: confusion matrix of the stopword-heuristic
    language ID against the declared labels — (declared, predicted,
    count, share-of-declared). The classifier-eval sibling of the
    retrieval nDCG/recall queries. Full oracle."""
    from pyspark.sql import Window

    pred = text.language_id(load_table(spark, sf_dir, "documents")).select(
        "lang", "lang_pred"
    )
    g = pred.groupBy("lang", "lang_pred").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang")
    return g.select(
        "lang",
        "lang_pred",
        "n",
        F.round(F.col("n") / F.sum("n").over(w), 6).alias("share"),
    )


def q_near_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B33 curation report, near-dup edition: per source, how many
    documents participate in at least one NEAR-duplicate pair (portable
    MinHash+LSH pipeline, agreement ≥ 0.5) and the near-dup rate — the
    provenance health metric q_dup_rate_by_source gives for exact
    copies, extended to the fuzzier duplication that actually dominates
    crawled corpora. Full oracle: the portable banded pipeline composed
    with a per-source aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    index = _minhash_portable_index(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5, index=index)
    involved = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    return (
        docs.select("doc_id", "source")
        .join(involved.withColumn("__nd", F.lit(1)), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("__nd").alias("n_near_dup"),
        )
        .withColumn(
            "near_dup_rate", F.round(F.col("n_near_dup") / F.col("n_docs"), 6)
        )
    )


def q_modality_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality for multimodal pipelines: coverage between the text
    and embedding modalities sharing the id space — docs with/without a
    vector, vectors without a doc (two anti-join counts + the overlap).
    Full oracle."""
    docs = load_table(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    vecs = load_table(spark, sf_dir, "embeddings").select(F.col("vec_id").alias("id"))
    both = docs.join(vecs, "id", "left_semi").agg(F.count(F.lit(1)).alias("n"))
    doc_only = docs.join(vecs, "id", "left_anti").agg(F.count(F.lit(1)).alias("n"))
    vec_only = vecs.join(docs, "id", "left_anti").agg(F.count(F.lit(1)).alias("n"))
    return (
        both.select(F.lit("both_modalities").alias("bucket"), "n")
        .unionByName(doc_only.select(F.lit("text_only").alias("bucket"), "n"))
        .unionByName(vec_only.select(F.lit("embedding_only").alias("bucket"), "n"))
    )


def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B15 robust-aggregation depth: per-series winsorized mean/stddev
    (values clamped to [p05, p95] before averaging). Full oracle —
    interpolated percentiles match quantile_cont."""
    return analytics.winsorized_stats(load_table(spark, sf_dir, "events"))


def q_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B34 eval harness: per-query recall@5 and MRR@5 of the LSH scale
    path vs exact cosine — companions to q_retrieval_ndcg. Full oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    sys_rank = similarity.lsh_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5, n_bits=2, n_tables=8,
        index=_lsh_index(spark, sf_dir),
    )
    truth = similarity.cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)
    return similarity.retrieval_metrics_at_k(sys_rank, truth, k=5)


def q_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B20 depth: gaps-and-islands — per-user consecutive-day activity
    streaks (active days, islands, longest run) via the day-index minus
    row-number grouping key. Integer-exact full oracle."""
    return analytics.activity_streaks(load_table(spark, sf_dir, "events"))


def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B15/B20 depth: market-basket association rules over per-user
    event-type baskets — directed support/confidence/lift. Full oracle."""
    return analytics.association_rules(load_table(spark, sf_dir, "events"))


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B33 depth: asymmetric token-set containment (|A∩B|/|A| with A the
    smaller set) — quote/subset detection symmetric Jaccard misses.
    Reported per engulfed document: its host count and best host
    (bounded output on the shared-vocab fixture, where raw pair volume
    is quadratic); same bounded slice as q_ngram_jaccard. Pairs come
    from the EXACT prefix-filtered candidate path (rare-token inverted
    index, no BNLJ — identical result set to the theta join, which the
    unchanged all-pairs oracle still certifies). Full oracle."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    pairs = dedup.containment_pairs_blocked(docs, threshold=0.98)
    w = Window.partitionBy("inner_id").orderBy(F.desc("containment"), F.asc("host_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .groupBy("inner_id")
        .agg(
            F.count(F.lit(1)).alias("n_hosts"),
            F.max(F.when(F.col("rn") == 1, F.col("host_id"))).alias("best_host"),
            F.max(F.when(F.col("rn") == 1, F.col("containment"))).alias("best_containment"),
        )
    )


def q_rollup_partials(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B16 sibling: numeric continuous-aggregate rollup — daily partial
    aggregates merged into monthly finals (count/sum/min/max mergeable,
    mean derived). Full oracle."""
    return analytics.rollup_partials(load_table(spark, sf_dir, "events"))


def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality: Benford first-digit audit per event series —
    observed digit shares vs log10(1+1/d), portable string-based digit
    extraction (no float log10 at digit boundaries). Full oracle."""
    return analytics.benford_audit(load_table(spark, sf_dir, "events"))


def q_expectation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality admission gate (Deequ-style): one
    aggregation pass over orders evaluating not-null, uniqueness,
    numeric-bound, accepted-set, and regex expectations — one report row
    per check with exact violation counts. Two thresholds are
    deliberately tight (totalprice >= 1500, status in O/F) so the
    non-zero counting path is exercised, not just zeros. Table-level
    generalization of the reference adapter's per-record conversion
    drops (pkg/adapter/adapter.go:140-156); the FK side of the gate is
    q_referential_audit. Full oracle."""
    orders = load_table(spark, sf_dir, "orders")
    return expectations.expectation_report(
        orders,
        not_null=("o_custkey", "o_orderdate"),
        unique=("o_orderkey",),
        bounds={"o_totalprice": (1500.0, None)},
        accepted={"o_orderstatus": ["O", "F"]},
        matches={"o_orderpriority": "^[1-5]-"},
    )


def q_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality: referential-integrity audit over the fixture's
    FK graph (lineitem→orders→customer→nation→region, supplier→nation)
    — child row counts + orphan counts via broadcast anti joins. Full
    oracle."""
    t = {
        n: load_table(spark, sf_dir, n)
        for n in ("lineitem", "orders", "customer", "supplier", "nation", "region")
    }
    return analytics.audit_referential(
        [
            ("lineitem.orderkey", t["lineitem"], "l_orderkey", t["orders"], "o_orderkey"),
            ("orders.custkey", t["orders"], "o_custkey", t["customer"], "c_custkey"),
            ("customer.nationkey", t["customer"], "c_nationkey", t["nation"], "n_nationkey"),
            ("supplier.nationkey", t["supplier"], "s_nationkey", t["nation"], "n_nationkey"),
            ("nation.regionkey", t["nation"], "n_regionkey", t["region"], "r_regionkey"),
        ]
    )


def q_ewma_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7 depth: truncated-EWMA control chart over daily series totals —
    smoothed baseline, residual, out-of-band flag. The fixed-depth lag
    expression evaluates the identical float tree in both engines (the
    recursive EWMA's accumulation order is unpinnable in SQL). Full
    oracle."""
    return analytics.ewma_chart(load_table(spark, sf_dir, "events"))


def _ewma_oracle_sql(*, alpha: float = 0.3, depth: int = 8, band: float = 2.0) -> str:
    """DuckDB replay of analytics.ewma_chart: identical weight literals
    (python-repr doubles), identical term order, rounded residuals
    feeding the band average."""
    weights = [alpha * (1 - alpha) ** k for k in range(1, depth + 1)]
    norm = sum(weights)
    ewma = " + ".join(
        f"(COALESCE(lag(y, {k}) OVER w, 0.0) * {wt / norm!r})"
        for k, wt in enumerate(weights, start=1)
    )
    seen = " + ".join(
        f"((CASE WHEN lag(y, {k}) OVER w IS NOT NULL THEN 1.0 ELSE 0.0 END) * {weights[k - 1] / norm!r})"
        for k in range(1, depth + 1)
    )
    return f"""
        WITH daily AS (
          SELECT event_type AS series, date_trunc('day', ts) AS day,
                 round(sum(value), 4) AS y
          FROM events GROUP BY 1, 2
        ),
        b AS (
          SELECT series, day, y, {ewma} AS ewma_raw, {seen} AS seen
          FROM daily WINDOW w AS (PARTITION BY series ORDER BY day)
        ),
        s AS (
          SELECT series, day, y,
                 round(CASE WHEN seen > 0 THEN ewma_raw / seen END, 4) AS ewma,
                 round(y - (CASE WHEN seen > 0 THEN ewma_raw / seen END), 4) AS residual
          FROM b
        )
        SELECT series, CAST(day AS DATE) AS day, y, ewma, residual,
               COALESCE(
                 mad IS NOT NULL AND abs(residual) > {band!r} * mad,
                 FALSE
               ) AS out_of_band
        FROM (
          SELECT *,
                 round(avg(abs(residual)) OVER (
                   PARTITION BY series ORDER BY day
                   ROWS BETWEEN {depth} PRECEDING AND 1 PRECEDING
                 ), 4) AS mad
          FROM s
        )
    """


def _contrastive_pool(spark: SparkSession, sf_dir: str) -> list:
    """Session-frozen negative-sampling pool for q_contrastive_pairs —
    the pool_n smallest-md5(doc_id) ids, a deterministic function of the
    corpus (same freeze-once/serve-many lifecycle as _bm25_stats; the
    DuckDB oracle recomputes the identical pool from parquet)."""
    return artifact(
        spark, "contrastive_pool", sf_dir,
        lambda: [
            r["cand"]
            for r in load_table(spark, sf_dir, "documents").select(
                F.col("doc_id").alias("cand"),
                F.md5(F.col("doc_id").cast("string").cast("binary")).alias("h"),
            )
            .orderBy("h", "cand")
            .limit(1024)
            .collect()
        ],
    )


def q_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star training-pair construction: (anchor, positive,
    negatives) rows. Positives come from the MINHASH-LSH candidate
    pairs over the portable hash family — the scale-true pair source
    (banded buckets, never O(n²)), sharing the cached portable index
    with q_minhash_dedup_verified — negatives md5-priority-ranked from
    a hash-sampled pool with the anchor's positives anti-joined out.
    Full oracle: the shared portable banded CTE feeds the same
    bidir/pos/negs chain DuckDB replays integer-exactly. The exact
    Jaccard pair source survives as q_contrastive_pairs_exact."""
    docs = load_table(spark, sf_dir, "documents")
    index = _minhash_portable_index(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5, index=index)
    return curate.contrastive_pairs(
        docs, pairs=pairs, pool=_contrastive_pool(spark, sf_dir)
    )


def q_contrastive_pairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_contrastive_pairs with the EXACT token-Jaccard pair source on a
    bounded slice — the fixture-scale ground-truth twin of the LSH
    default (the O(n²) jaccard_pairs theta join is the documented
    never-at-scale path; it exists to certify the construction, not to
    run at corpus size). Full oracle."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    return curate.contrastive_pairs(docs, pairs="exact")


def q_rendezvous_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star ops: rendezvous (HRW) shard routing — per-document
    consistent shard assignment over a 4-shard fleet; zero-shuffle
    narrow map. Full oracle (md5 argmax replayed via a ranked unnest)."""
    return analytics.rendezvous_shard(
        load_table(spark, sf_dir, "documents").select("doc_id"),
        ["shard0", "shard1", "shard2", "shard3"],
    )


def q_fuzzy_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B33/record linkage, pass 2: sorted-neighborhood fuzzy matching —
    each document compared to its next 5 neighbors in token-prefix sort
    order (global order via the range-partitioned two-phase numbering,
    neighbor ranks expanded to an equi-join). Full oracle. fold_keys=True
    pins the sort/edit-distance key to the ascii-folded prefix on both
    engines (DuckDB levenshtein counts bytes, Spark codepoints); the
    operator's default mode reports true codepoint distance."""
    return dedup.fuzzy_sorted_neighborhood(
        load_table(spark, sf_dir, "documents"), fold_keys=True
    )


def q_trend_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B15/B20 family: per-series OLS trend (slope/intercept of daily
    totals vs day index) via sufficient statistics — two map-side
    partial aggregations, no window, no iteration. Full oracle."""
    return analytics.trend_fit(load_table(spark, sf_dir, "events"))


def q_fuzzy_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B33/record linkage: blocked edit-distance self-join — pairs whose
    8-token prefix is within 10 Levenshtein edits, candidates blocked on
    (lang, first token). Full oracle: DuckDB's levenshtein is the same
    classic DP (integers), replayed with the unbounded form + filter.
    fold_keys=True pins the compared key to the ascii-folded prefix on
    both engines (byte-vs-codepoint parity); the operator's default
    mode reports true codepoint distance."""
    return dedup.fuzzy_prefix_join(
        load_table(spark, sf_dir, "documents"), fold_keys=True
    )


def q_leakage_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star: leakage-safe train/val/test assignment — the split
    hash keys on the near-dup CLUSTER representative (memoized CC
    assignment, same artifact as q_dedup_clusters), so a document and
    its near-copies always land in the same split. Oracle replays the
    recursive-CTE components + the md5 interval thresholds."""
    return curate.cluster_safe_splits(_dedup_clusters(spark, sf_dir)).orderBy("doc_id")


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B33 exact token-set Jaccard pairs ≥0.95 — the O(n²) ground truth,
    bounded to a fixed 1000-doc slice so its cost is constant at any SF
    (covers all of sf0.01; LSH is the scale path — see q_minhash_dedup)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    return dedup.jaccard_pairs(docs, threshold=0.95)


def q_price_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth order-value decile profile on the shuffle-safe global
    ranking (never a one-task ntile window)."""
    return analytics.price_deciles(load_table(spark, sf_dir, "orders"))


def q_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users-who-do-X-also-do-Y: per event-type pair, users with both."""
    return analytics.type_cooccurrence(load_table(spark, sf_dir, "events"))


def q_hierarchy_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent revenue decomposition over REGION→NATION."""
    t = {n: load_table(spark, sf_dir, n) for n in ("orders", "customer", "nation", "region")}
    return analytics.hierarchy_shares(t["orders"], t["customer"], t["nation"], t["region"])


def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth accounting: new vs returning active users."""
    return analytics.new_vs_returning(load_table(spark, sf_dir, "events"))


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most common within-session event-type paths."""
    return analytics.session_paths(load_table(spark, sf_dir, "events"), k=20)


def q_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift of events.value per type, before vs after Jan 15."""
    return analytics.distribution_drift(load_table(spark, sf_dir, "events"))


def q_nation_trade_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped: yearly revenue between NATION_3 and NATION_7,
    both directions."""
    t = {n: load_table(spark, sf_dir, n) for n in ("lineitem", "orders", "customer", "supplier", "nation")}
    return analytics.nation_trade_flow(
        t["lineitem"], t["orders"], t["customer"], t["supplier"], t["nation"]
    )


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Efraimidis–Spirakis weighted sample: 100 documents,
    inclusion probability ∝ n_chars."""
    return analytics.weighted_sample(
        load_table(spark, sf_dir, "documents").select("doc_id", "n_chars"),
        key_col="doc_id", weight_col="n_chars", k=100,
    )


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B10 depth: 2-core of the exact near-dup graph over the bounded
    1000-doc slice, ORACLE-BACKED: the peel is integer-deterministic, so
    DuckDB replays it as a recursive CTE (working-table semantics = one
    peel round per iteration, degree via count() windows) run to the
    same 50-round bound; fixpoint + idempotence invariants additionally
    asserted in tests/test_graph.py."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    pairs = dedup.jaccard_pairs(docs, threshold=0.9).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    return graph.kcore(pairs, k=2)


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles (3-cliques) in the exact near-dup graph over the bounded
    1000-doc slice — id-ordered wedge join, each triangle counted once."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    return dedup.similarity_triangles(dedup.jaccard_pairs(docs, threshold=0.95))


def q_incremental_near_dedup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B33 steady-state near-dedup, ORACLE-BACKED: the cross-frame LSH
    bucket probe (new batch = doc_id ≥ 250 vs corpus index = doc_id <
    250) — DuckDB replays signature, banding, cross-frame candidates,
    agreement, and the final anti-join integer-exactly. Planted-dup
    recall is asserted in tests/test_llm_ops.py.
    ``q_incremental_near_dedup`` is an alias kept for its registered
    key."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.incremental_near_dedup(
        docs.filter(F.col("doc_id") >= 250), docs.filter(F.col("doc_id") < 250)
    )


q_incremental_near_dedup = q_incremental_near_dedup_verified


def _minhash_portable_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banded LSH index of the documents table — the build-once
    artifact of the MinHash pipeline (dedup.minhash_banded_index),
    shared by every LSH dedup query so the steady-state query is the
    bucket join, not a per-call signature rebuild."""
    return artifact(
        spark, "minhash_portable_index", sf_dir,
        lambda: dedup.minhash_banded_index(load_table(spark, sf_dir, "documents")),
    )


def q_minhash_dedup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B33 MinHash+LSH near-dup pairs, ORACLE-BACKED end to end:
    shingle→signature→band→bucket-join→agreement over the md5-prefix
    base + seeded linear-congruential permutations mod 2³¹−1 — pure
    BIGINT math both engines replay bit-for-bit (see
    dedup.portable_hash_family). The green row certifies the LSH dedup
    algorithm itself, not just its row count; recall vs planted near-dups
    is asserted in tests/test_llm_ops.py. ``q_minhash_dedup`` is an
    alias kept for its registered key (and bench.py's r-series)."""
    docs = load_table(spark, sf_dir, "documents")
    index = _minhash_portable_index(spark, sf_dir)
    return dedup.minhash_lsh_pairs(docs, threshold=0.5, index=index)


q_minhash_dedup = q_minhash_dedup_verified


def q_minhash_jaccard_diag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B33 estimator calibration, ORACLE-BACKED: every portable-LSH
    candidate pair with estimated vs exact shingle Jaccard and the
    absolute estimator error — the table that justifies a MinHash
    threshold before a 100 TB dedup run. Exact Jaccard is computed only
    on the LSH-pruned candidate set (never O(n²))."""
    docs = load_table(spark, sf_dir, "documents")
    index = _minhash_portable_index(spark, sf_dir)
    return dedup.minhash_jaccard_diag(docs, index=index)


def _portable_banded_cte(*, n_hashes: int = 32, bands: int = 8) -> str:
    """Shared WITH-chain (tok → shingles → base hashes → signature →
    banded) of the portable MinHash oracles: the (a, b) permutation
    pairs are seed-deterministic and embedded as literals; every step is
    integer-exact, so matches are guaranteed-exact, not float-lucky.
    Shingling mirrors dedup._shingles (word 3-grams, distinct,
    whole-text fallback under 3 tokens — COALESCE'd because DuckDB's
    array_to_string of an empty list is NULL where Spark's concat_ws
    is '')."""
    p = dedup.PORTABLE_P
    r = n_hashes // bands
    ab = dedup.portable_hash_family(n_hashes)
    sig_exprs = ",\n                 ".join(
        f"list_min(list_transform(hs, x -> (x * {a} + {b}) % {p}))" for a, b in ab
    )
    band_selects = "\n              UNION ALL ".join(
        "SELECT doc_id, sig, {b} AS band, substr(md5({cc}), 1, 8) AS bucket FROM sig".format(
            b=b,
            cc=" || ',' || ".join(f"CAST(sig[{b * r + i + 1}] AS VARCHAR)" for i in range(r)),
        )
        for b in range(bands)
    )
    shingles = (
        "CASE WHEN len(t) >= 3 THEN list_distinct(list_filter(list_transform(t, (x, i) -> "
        "CASE WHEN i + 2 <= len(t) THEN x || ' ' || t[i+1] || ' ' || t[i+2] END), "
        "g -> g IS NOT NULL)) ELSE [COALESCE(array_to_string(t, ' '), '')] END"
    )
    return f"""
        WITH tok AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
        sh AS (SELECT doc_id, {shingles} AS s FROM tok),
        hx AS (SELECT doc_id,
                      list_transform(s, g -> CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % {p}) AS hs
               FROM sh),
        sig AS (SELECT doc_id, [{sig_exprs}] AS sig FROM hx),
        banded AS (
              {band_selects}
        )"""


def _minhash_portable_oracle_sql(*, n_hashes: int = 32, threshold: float = 0.5) -> str:
    """DuckDB replay of the portable MinHash+LSH self-dedup pipeline."""
    return _portable_banded_cte(n_hashes=n_hashes) + f""",
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sig_a, b.sig AS sig_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, est_jaccard FROM (
          SELECT doc_a, doc_b,
                 round(CAST(len(list_filter(range(1, {n_hashes + 1}), i -> sig_a[i] = sig_b[i])) AS DOUBLE) / {n_hashes}, 6) AS est_jaccard
          FROM cand
        ) WHERE est_jaccard >= {threshold}
    """


def _minhash_diag_oracle_sql(*, n_hashes: int = 32) -> str:
    """DuckDB replay of minhash_jaccard_diag: candidate pairs + agreement
    estimate from the shared banded CTE, exact Jaccard from the ``sh``
    shingle-set CTE (|A∩B| / (|A|+|B|−|A∩B|), all-integer until the final
    division — both engines emit the identical raw double)."""
    return _portable_banded_cte(n_hashes=n_hashes) + f""",
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sig_a, b.sig AS sig_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        ),
        est AS (
          SELECT doc_a, doc_b,
                 len(list_filter(range(1, {n_hashes + 1}), i -> sig_a[i] = sig_b[i])) / {n_hashes} AS est_jaccard
          FROM cand
        )
        SELECT doc_a, doc_b, est_jaccard, exact_jaccard,
               abs(est_jaccard - exact_jaccard) AS abs_err
        FROM (
          SELECT e.doc_a, e.doc_b, e.est_jaccard,
                 len(list_intersect(sa.s, sb.s))
                   / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS exact_jaccard
          FROM est e
          JOIN sh sa ON sa.doc_id = e.doc_a
          JOIN sh sb ON sb.doc_id = e.doc_b
        )
    """


def _incremental_minhash_oracle_sql(
    *, n_hashes: int = 32, threshold: float = 0.5, split_id: int = 250
) -> str:
    """DuckDB replay of the CROSS-FRAME portable pipeline: new batch
    (doc_id ≥ split) probed against the corpus index (doc_id < split);
    output = surviving new ids (anti-join of the matched set)."""
    return _portable_banded_cte(n_hashes=n_hashes) + f""",
        pairs AS (
          SELECT DISTINCT a.doc_id AS new_id, a.sig AS sig_a, b.sig AS sig_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bucket = b.bucket
          WHERE a.doc_id >= {split_id} AND b.doc_id < {split_id}
        ),
        matched AS (
          SELECT DISTINCT new_id FROM pairs
          WHERE CAST(len(list_filter(range(1, {n_hashes + 1}), i -> sig_a[i] = sig_b[i])) AS DOUBLE) / {n_hashes} >= {threshold}
        )
        SELECT d.doc_id FROM documents d
        WHERE d.doc_id >= {split_id} AND d.doc_id NOT IN (SELECT new_id FROM matched)
    """


def q_winnow_dedup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B33/B35 winnowing near-dups, ORACLE-BACKED: the identical
    rolling-hash (MOSS) fingerprint → capped posting list → shared-ratio
    pipeline over the portable md5-prefix gram hash — DuckDB replays the
    k-gram hashing, sliding-window minima, stop-fingerprint cap, and
    ratio filter integer-exactly. Bounded to a 250-doc slice (half of
    q_winnow_dedup's): the md5 gram hash costs ~3x xxhash64, and the
    verified key certifies the algorithm, not throughput — the xxhash
    twin carries the perf profile."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    return dedup.winnow_near_dups(docs, min_shared_ratio=0.6, portable=True)


def _winnow_portable_oracle_sql(
    *, k: int = 8, window: int = 4, min_shared_ratio: float = 0.6, max_doc_freq: int = 100
) -> str:
    """DuckDB replay of the portable winnowing pipeline (bounded slice):
    normalized text → char k-gram md5-prefix BIGINT hashes → sliding
    window-of-``window`` minima (distinct) → posting lists capped at
    ``max_doc_freq`` → (a<b) pair shared-fingerprint counts → ratio
    against the smaller fingerprint set. All integer-exact."""
    return rf"""
        WITH d0 AS (
          SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nrm
          FROM documents WHERE doc_id < 250
        ),
        gh AS (
          SELECT doc_id,
                 list_transform(
                   [substr(nrm, i, {k}) FOR i IN range(1, greatest(length(nrm) - {k - 1}, 1) + 1)],
                   g -> CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT)
                 ) AS h
          FROM d0
        ),
        fp AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   range(1, greatest(len(h) - {window}, 0) + 2),
                   j -> list_min(h[j:j+{window - 1}])
                 )) AS fps
          FROM gh
        ),
        flat AS (SELECT doc_id, len(fps) AS n_fp, unnest(fps) AS f FROM fp),
        keepfp AS (SELECT f FROM flat GROUP BY f HAVING count(*) <= {max_doc_freq}),
        p AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_fp AS n_a, b.n_fp AS n_b
          FROM flat a
          JOIN flat b ON a.f = b.f AND a.doc_id < b.doc_id
          JOIN keepfp kf ON a.f = kf.f
        )
        SELECT doc_a, doc_b, n_shared, shared_ratio FROM (
          SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_shared,
                 round(CAST(count(*) AS DOUBLE) / least(min(n_a), min(n_b)), 6) AS shared_ratio
          FROM p GROUP BY doc_a, doc_b
        ) WHERE shared_ratio >= {min_shared_ratio}
    """


def q_simhash_near_dup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B33 SimHash near-dups, ORACLE-BACKED: the identical 64-bit
    majority-vote signature → 16-bit-block pigeonhole bucketing →
    Hamming filter, over the portable md5-halves token hash — DuckDB
    replays the per-bit counts, signature assembly, bucket cap, and
    bit_count(xor) Hamming distance integer-exactly."""
    return dedup.simhash_near_dups(
        load_table(spark, sf_dir, "documents"), max_hamming=8, portable=True
    )


def _simhash_portable_oracle_sql(*, max_hamming: int = 8, max_bucket_freq: int = 1000) -> str:
    """DuckDB replay of the portable SimHash pipeline. The signature is
    assembled as four 16-bit block ints (never a full signed 64-bit —
    DuckDB rejects BIGINT overflow where Java wraps); Hamming distance is
    the sum of per-block bit_count(xor), bit-identical to the Spark
    long's."""
    c_sums = ",\n                 ".join(
        f"sum(({'lo' if i < 32 else 'hi'} >> {i if i < 32 else i - 32}) & 1) AS c{i}"
        for i in range(64)
    )
    blocks = ",\n                 ".join(
        "("
        + " + ".join(f"(CASE WHEN c{16 * j + i} * 2 > n THEN {1 << i} ELSE 0 END)" for i in range(16))
        + f") AS b{j}"
        for j in range(4)
    )
    block_selects = "\n              UNION ALL ".join(
        f"SELECT doc_id, b0, b1, b2, b3, {j} AS block, b{j} AS key FROM sig" for j in range(4)
    )
    return f"""
        WITH tr AS (
          SELECT doc_id,
                 CAST(('0x' || substr(m, 1, 8)) AS BIGINT) AS lo,
                 CAST(('0x' || substr(m, 9, 8)) AS BIGINT) AS hi
          FROM (SELECT doc_id, unnest(list_transform({_TOKENS_SQL}, w -> md5(w))) AS m FROM documents)
        ),
        agg AS (
          SELECT d.doc_id, count(tr.lo) AS n,
                 {c_sums}
          FROM documents d LEFT JOIN tr ON d.doc_id = tr.doc_id
          GROUP BY d.doc_id
        ),
        sig AS (
          SELECT doc_id,
                 {blocks}
          FROM agg
        ),
        blocks AS (
              {block_selects}
        ),
        keepb AS (
          SELECT block, key FROM blocks GROUP BY block, key
          HAVING count(*) BETWEEN 2 AND {max_bucket_freq}
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
             + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS hamming
        FROM blocks a
        JOIN blocks b ON a.block = b.block AND a.key = b.key AND a.doc_id < b.doc_id
        JOIN keepb k ON a.block = k.block AND a.key = k.key
        WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
            + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= {max_hamming}
    """


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B33 SimHash near-dups, 16-bit-block bucketed (rows-only)."""
    return dedup.simhash_near_dups(load_table(spark, sf_dir, "documents"), max_hamming=8)


def q_winnow_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B33/B35 rolling-hash (winnowing) near-dup pairs (xxhash64-seeded —
    rows-only; fingerprint guarantees asserted in tests). Bounded to the
    fixed 1000-doc slice like the other pairwise ground-truth ops; the
    stop-shingle doc-frequency cap then stays proportionate."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    return dedup.winnow_near_dups(docs, min_shared_ratio=0.6)


def q_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B33 embedding-cosine near-dup pairs — exact pairwise ground truth,
    bounded to a fixed 1000-vector slice (all of sf0.01) for constant cost;
    the scale path is LSH/IVF bucketing (similarity.py)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 1000)
    return dedup.embedding_near_dups(emb, threshold=0.4)


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B34 brute-force cosine top-k: 10 broadcast query vectors vs corpus.

    FIXTURE-ONLY exactness baseline (BNLJ over the corpus): the headline
    similarity answers at scale are q_lsh_topk (multi-table hyperplane
    LSH, recall 0.98 vs this query at n_bits=2/n_tables=8) and q_ivf_topk
    (recall 0.94 at n_probe=4/8) — both bucketed equi-joins that never
    cross-product the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


def _lsh_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The hyperplane-LSH index (hashed corpus + norm-carrying vectors) —
    the build-once artifact of the ANN pipeline, so steady-state queries
    pay the probe, not a corpus re-hash."""
    return artifact(
        spark, "lsh_index", sf_dir,
        lambda: similarity.build_lsh_index(
            load_table(spark, sf_dir, "embeddings"), n_bits=2, n_tables=8
        ),
    )


def _bm25_stats(spark: SparkSession, sf_dir: str) -> tuple:
    """Frozen BM25 corpus-stats snapshot: the percolator lifecycle freezes
    stats ONCE at index time and serves every query batch against them —
    steady-state BM25 queries pay the narrow scoring map, not a corpus
    re-aggregation. KB-sized plain tuple."""
    terms = sorted({t for _, q in _BM25_QUERIES for t in q.split(" ")})
    return artifact(
        spark, "bm25_stats", sf_dir,
        lambda: text.bm25_corpus_stats(load_table(spark, sf_dir, "documents"), terms),
    )


def _pq_index(spark: SparkSession, sf_dir: str) -> tuple:
    """PQ codebooks + encoded corpus: train/encode once (ingest-time),
    serve ADC probes per batch — the PQ lifecycle."""

    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        books = similarity.pq_train(emb)
        return books, similarity.pq_encode(emb, books)

    return artifact(spark, "pq_index", sf_dir, build)


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B34 product-quantization ADC top-k (rows-only: k-means codebooks
    are engine-specific; recall + planted-duplicate tests in
    tests/test_scale_ops.py). Codes are 8 small ints per 64-float vector
    — the 32× memory-tier compression of a billion-vector serving
    layer."""
    emb = load_table(spark, sf_dir, "embeddings")
    books, codes = _pq_index(spark, sf_dir)
    return similarity.pq_topk(emb, emb.filter(F.col("vec_id") < 10), books, k=5, codes=codes)


def q_cosine_topk_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B34 exact top-k at BIG query-set scale: hash-chunked broadcast —
    per-chunk exact scoring, union of per-chunk top-ks. Bit-identical to
    q_cosine_topk (shares its oracle shape), with peak broadcast memory
    divided by n_chunks — the path that removes the exact baseline's
    ~10⁴-query cap."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk_chunked(
        emb, emb.filter(F.col("vec_id") < 10), k=5, n_chunks=4
    )


def q_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B34 two-tier PQ serving: ADC shortlist over compressed codes →
    exact cosine re-rank of the shortlist only (recall 0.88 at
    shortlist=100 ≈ 20% of the fixture corpus touched; floors asserted in
    tests). Rows-only: the shortlist is codebook-dependent."""
    emb = load_table(spark, sf_dir, "embeddings")
    books, codes = _pq_index(spark, sf_dir)
    return similarity.pq_rerank_topk(
        emb, emb.filter(F.col("vec_id") < 10), books, k=5, shortlist=100, codes=codes
    )


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B34 HEADLINE approximate top-k, ORACLE-BACKED: multi-table
    hyperplane-LSH bucket equi-join (no BNLJ anywhere in the plan),
    verified bit-for-bit against a DuckDB oracle that replays the
    identical hyperplane family (seeded literals — see _lsh_oracle_sql)
    and the identical candidate/score/rank pipeline, so a green row
    certifies the 100 TB ANN path itself. Recall ≥0.9 vs q_cosine_topk
    asserted in tests/test_llm_ops.py — measured 0.98 at
    n_bits=2/n_tables=8. ``q_lsh_topk_verified`` is an alias kept for
    its registered key."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5, n_bits=2, n_tables=8,
        index=_lsh_index(spark, sf_dir),
    )


q_lsh_topk_verified = q_lsh_topk


def _ndcg_oracle_sql(*, k: int = 5) -> str:
    """DuckDB replay of similarity.ndcg_at_k over the composed LSH and
    cosine oracles: identical python-double weight literals, identical
    fixed-order term chain."""
    import math

    weights = [1.0 / math.log2(i + 1) for i in range(1, k + 1)]
    idcg = 0.0
    for w in weights:
        idcg = idcg + w
    terms = " + ".join(
        f"max(CASE WHEN rnk = {i} AND rel THEN {w!r} ELSE 0.0 END)"
        for i, w in enumerate(weights, start=1)
    )
    return f"""
        WITH sys AS ({_lsh_oracle_sql(k=k)}),
        truth AS ({_COSINE_TOPK_SQL}),
        hits AS (
          SELECT s.query_id, s.rnk, t.corpus_id IS NOT NULL AS rel
          FROM sys s LEFT JOIN (SELECT query_id, corpus_id FROM truth) t
            ON s.query_id = t.query_id AND s.corpus_id = t.corpus_id
        )
        SELECT query_id, round(({terms}) / {idcg!r}, 6) AS ndcg
        FROM hits GROUP BY query_id
    """


def _lsh_oracle_sql(*, n_bits: int = 2, n_tables: int = 8, dim: int = 64, seed: int = 42, k: int = 5) -> str:
    """DuckDB replay of similarity.lsh_topk: the hyperplane family is
    deterministic (seeded ``random.Random``), so the plane vectors are
    embedded as DOUBLE[] literals (repr() round-trips to the same IEEE
    double both engines parse). Bucket = Σ (dot(e, plane_i) > 0) << i per
    table; a corpus vector is a candidate when it collides with the query
    in ANY table (the OR join dedups pairs by construction, mirroring the
    dropDuplicates in lsh_topk); candidates are then scored exactly and
    ranked identically to the Spark side. Sign-flip risk on the bucket
    bits is negligible: |dot| is O(0.1) while cross-engine summation
    noise is O(1e-15)."""
    bucket_cols = []
    for t in range(n_tables):
        planes = similarity.hyperplane_planes(dim, n_bits, seed + 1000 * t)
        bits = []
        for i, p in enumerate(planes):
            lit = "[" + ", ".join(repr(x) for x in p) + "]"
            bits.append(f"(CASE WHEN list_dot_product(e, {lit}) > 0 THEN {1 << i} ELSE 0 END)")
        bucket_cols.append("(" + " + ".join(bits) + f") AS b{t}")
    cols = ",\n                   ".join(bucket_cols)
    on = " OR ".join(f"c.b{t} = q.b{t}" for t in range(n_tables))
    return f"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        h AS (SELECT vec_id, e,
                   {cols}
              FROM v),
        q AS (SELECT * FROM h WHERE vec_id < 10),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                 round(list_dot_product(c.e, q.e)
                       / (sqrt(list_dot_product(c.e, c.e)) * sqrt(list_dot_product(q.e, q.e))), 6) AS cosine
          FROM h c JOIN q ON c.vec_id <> q.vec_id AND ({on})
        )
        SELECT query_id, corpus_id, cosine, rnk FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rnk
          FROM scored
        ) WHERE rnk <= {k}
    """


def _semantic_dedup_oracle_sql(
    *, threshold: float = 0.45, n_bits: int = 2, n_tables: int = 8, dim: int = 64, seed: int = 42
) -> str:
    """DuckDB replay of similarity.semantic_dedup: the same seeded plane
    family as _lsh_oracle_sql (bucket per table from sign bits), in-bucket
    (a<b) candidate pairs across ANY table, exact-cosine verify at the
    threshold, and the lower-id-wins survivor rule as a NOT-IN anti-join."""
    bucket_cols = []
    for t in range(n_tables):
        planes = similarity.hyperplane_planes(dim, n_bits, seed + 1000 * t)
        bits = []
        for i, p in enumerate(planes):
            lit = "[" + ", ".join(repr(x) for x in p) + "]"
            bits.append(f"(CASE WHEN list_dot_product(e, {lit}) > 0 THEN {1 << i} ELSE 0 END)")
        bucket_cols.append("(" + " + ".join(bits) + f") AS b{t}")
    cols = ",\n                   ".join(bucket_cols)
    on = " OR ".join(f"a.b{t} = b.b{t}" for t in range(n_tables))
    return f"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        h AS (SELECT vec_id, e,
                   {cols}
              FROM v),
        pruned AS (
          SELECT DISTINCT id_b FROM (
            SELECT b.vec_id AS id_b,
                   round(list_dot_product(a.e, b.e)
                         / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
            FROM h a JOIN h b ON a.vec_id < b.vec_id AND ({on})
          ) WHERE cosine >= {threshold}
        )
        SELECT vec_id, TRUE AS keep FROM v WHERE vec_id NOT IN (SELECT id_b FROM pruned)
        UNION ALL
        SELECT id_b AS vec_id, FALSE AS keep FROM pruned
    """


def q_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B35 corpus term frequency."""
    return text.term_frequencies(load_table(spark, sf_dir, "documents"))


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B35: per-document top-5 TF-IDF terms."""
    return text.tfidf_top_terms(load_table(spark, sf_dir, "documents"), k=5)


#: Fixed BM25 query batch — shared verbatim by the Spark operator and the
#: DuckDB oracle's VALUES clause.
_BM25_QUERIES: list[tuple[int, str]] = [
    (0, "hash join"),
    (1, "window agg stream"),
    (2, "fast scan filter"),
    (3, "customer order value the"),
]


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B34/B35 bridge: BM25 lexical retrieval — top-5 documents per
    query under Okapi scoring; the sparse-retrieval baseline beside the
    dense LSH/IVF paths. Full oracle: DuckDB replays tf/df/doc-length/
    avgdl and the identical Lucene idf expression. Scores under the
    session-frozen stats snapshot (_bm25_stats — freeze once, serve
    many, like the LSH/PQ index caches)."""
    return text.bm25_topk(
        load_table(spark, sf_dir, "documents"),
        _BM25_QUERIES,
        k=5,
        stats=_bm25_stats(spark, sf_dir),
    )


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B34/B35 composition: hybrid retrieval — reciprocal-rank fusion of
    the sparse (BM25 top-5) and dense (exact cosine top-5) rankings for
    the shared query ids. Fusion runs over top-k-sized frames (KB at any
    corpus size); the RRF score is a fixed two-term expression over
    integer ranks — bit-identical across engines, emitted raw."""
    emb = load_table(spark, sf_dir, "embeddings")
    sparse = text.bm25_topk(
        load_table(spark, sf_dir, "documents"),
        _BM25_QUERIES,
        k=5,
        stats=_bm25_stats(spark, sf_dir),
    )
    dense = similarity.cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5).select(
        "query_id", F.col("corpus_id").alias("doc_id"), "rnk"
    )
    return similarity.rrf_fuse(sparse, dense)


def q_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B35/tokenizer: round-zero BPE table — top-50 adjacent character
    pairs weighted by word frequency. Full oracle (integer counts,
    lexicographic ties)."""
    return text.bpe_pair_stats(load_table(spark, sf_dir, "documents"), top_n=50)


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B35/tokenizer: the iterative BPE trainer itself — 6 rounds of
    pick-top-pair → merge-everywhere over the word-frequency vocab.
    FULL ORACLE despite being iterative: the merge rule is left-to-right
    non-overlapping string replace, so DuckDB replays all 6 rounds as
    unrolled CTE stages."""
    return text.bpe_learn_merges(load_table(spark, sf_dir, "documents"), n_merges=6)


def _bpe_vocab_sql() -> str:
    # deferred: _TOKENS_SQL is defined further down the module
    return f"""
        v0 AS (
          SELECT word,
                 ' ' || array_to_string(
                   list_transform(range(1, length(word) + 1), i -> substr(word, CAST(i AS INT), 1)),
                   ' ') || ' ' AS w,
                 count(*) AS wf
          FROM (SELECT unnest({_TOKENS_SQL}) AS word FROM documents)
          GROUP BY 1
        )"""


def _bpe_round_ctes(r: int) -> str:
    """One BPE round: pair stats over v{r-1} → top pair t{r} → merged
    vocab v{r}. The sentinel-spaced replace is applied TWICE (leftmost
    non-overlapping consuming replace skips alternating occurrences;
    the second pass reaches the canonical-BPE fixpoint) — in lockstep
    with text._merge_pair_col."""
    return f""",
        p{r} AS (
          SELECT unnest(list_transform(range(1, len(s)), i -> s[i] || ' ' || s[i + 1])) AS pair, wf
          FROM (SELECT string_split(trim(w), ' ') AS s, wf FROM v{r - 1})
          WHERE len(s) >= 2
        ),
        t{r} AS (
          SELECT pair, CAST(sum(wf) AS BIGINT) AS c FROM p{r}
          GROUP BY pair ORDER BY c DESC, pair LIMIT 1
        ),
        v{r} AS (
          -- one-row cross join, NOT scalar subqueries: four correlated
          -- references to t{r} make DuckDB's CTE inlining re-evaluate the
          -- whole training prefix per reference (exponential in rounds)
          SELECT word,
                 replace(replace(w, m.pat, m.rep), m.pat, m.rep) AS w,
                 wf
          FROM v{r - 1}, (SELECT ' ' || pair || ' ' AS pat,
                                 ' ' || replace(pair, ' ', '') || ' ' AS rep
                          FROM t{r}) m
        )"""


def _bpe_merges_oracle_sql(*, n_merges: int = 6) -> str:
    """DuckDB replay of text.bpe_learn_merges: the vocab CTE + n_merges
    unrolled rounds, final table = union of each round's top pair."""
    rounds = "".join(_bpe_round_ctes(r) for r in range(1, n_merges + 1))
    union = "\n          UNION ALL ".join(
        f"SELECT {r} AS merge_rank, pair, c AS pair_count FROM t{r}"
        for r in range(1, n_merges + 1)
    )
    return f"WITH {_bpe_vocab_sql().strip()}{rounds}\n        {union}"


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B35/tokenizer: encode under the learned BPE merges — per-document
    word count vs BPE piece count. Full oracle: the trained vocab IS the
    segmentation table, replayed by the same unrolled CTE chain plus a
    word-keyed join."""
    return text.bpe_encode_counts(load_table(spark, sf_dir, "documents"), n_merges=6)


def _bpe_encode_oracle_sql(*, n_merges: int = 6) -> str:
    """DuckDB replay of text.bpe_encode_counts: train (unrolled rounds),
    read piece counts off the final vocab, join the exploded corpus."""
    rounds = "".join(_bpe_round_ctes(r) for r in range(1, n_merges + 1))
    return f"""WITH {_bpe_vocab_sql().strip()}{rounds},
        seg AS (
          SELECT word, len(string_split(trim(w), ' ')) AS n_pieces FROM v{n_merges}
        ),
        tok AS (SELECT doc_id, unnest({_TOKENS_SQL}) AS word FROM documents)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(n_pieces) AS BIGINT) AS bpe_tokens
        FROM tok JOIN seg USING (word)
        GROUP BY doc_id
    """


def _bpe_pair_stats_oracle_sql(*, top_n: int = 50) -> str:
    """DuckDB replay of text.bpe_pair_stats (round-zero pair census)."""
    return f"""
        WITH {_bpe_vocab_sql().strip()},
        p AS (
          SELECT unnest(list_transform(range(1, len(s)), i -> s[i] || ' ' || s[i + 1])) AS pair, wf
          FROM (SELECT string_split(trim(w), ' ') AS s, wf FROM v0)
          WHERE len(s) >= 2
        ),
        g AS (SELECT pair, CAST(sum(wf) AS BIGINT) AS pair_count FROM p GROUP BY pair)
        SELECT rnk, pair, pair_count FROM (
          SELECT row_number() OVER (ORDER BY pair_count DESC, pair ASC) AS rnk, pair, pair_count
          FROM g
        ) WHERE rnk <= {top_n}
    """


def q_bm25_percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B34/B35 + streaming twin: the BM25 percolator run in BATCH — every
    document scored against the standing query set under frozen corpus
    stats (literal idf/avgdl, per-term tf from the row's own token
    array; the identical narrow map streaming.stream_score_bm25 runs at
    ingest). Full oracle: DuckDB recomputes the same stats and formula."""
    from cloudtrace_exporter_spark.streaming.pipeline import stream_score_bm25

    docs = load_table(spark, sf_dir, "documents")
    return stream_score_bm25(docs, _BM25_QUERIES, _bm25_stats(spark, sf_dir))


def _bm25_percolate_oracle_sql(*, k1: float = 1.2, b: float = 0.75) -> str:
    """DuckDB replay of the frozen-stats percolator: stats CTEs feed the
    same idf/tf/length-normalization formula per (doc × query term)."""
    values = ", ".join(f"({qid}, '{qtext}')" for qid, qtext in _BM25_QUERIES)
    idf = "ln(1.0 + (((n_docs - dfreq) + 0.5) / (dfreq + 0.5)))"
    norm = f"(tf + ({k1!r} * ({1 - b!r} + (({b!r} * dl) / avgdl))))"
    return f"""
        WITH q(query_id, qtext) AS (VALUES {values}),
        qt AS (
          SELECT query_id,
                 unnest(list_distinct(list_filter(string_split(qtext, ' '), x -> x <> ''))) AS term
          FROM q
        ),
        stats AS (
          SELECT count(*) AS n_docs, avg(len({_TOKENS_SQL})) AS avgdl FROM documents
        ),
        dfq AS (
          SELECT term, count(*) AS dfreq FROM (
            SELECT DISTINCT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents
          ) WHERE term IN (SELECT DISTINCT term FROM qt)
          GROUP BY term
        ),
        d AS (
          SELECT doc_id, {_TOKENS_SQL} AS t,
                 CAST(len({_TOKENS_SQL}) AS DOUBLE) AS dl
          FROM documents
        ),
        contrib AS (
          SELECT d.doc_id, qt.query_id,
                 CAST(len(list_filter(d.t, x -> x = qt.term)) AS DOUBLE) AS tf,
                 dfq.dfreq, d.dl
          FROM d CROSS JOIN qt JOIN dfq USING (term)
        )
        SELECT doc_id, query_id, score FROM (
          SELECT doc_id, query_id,
                 round(sum(CASE WHEN tf > 0
                                THEN {idf} * ((tf * {k1 + 1!r}) / {norm})
                                ELSE 0.0 END), 4) AS score
          FROM contrib CROSS JOIN stats
          GROUP BY doc_id, query_id
        ) WHERE score > 0.0
    """


def _bm25_oracle_sql(*, k: int = 5, k1: float = 1.2, b: float = 0.75) -> str:
    """DuckDB replay of text.bm25_topk over the fixed query batch."""
    values = ", ".join(f"({qid}, '{qtext}')" for qid, qtext in _BM25_QUERIES)
    # operand order mirrors the Spark Column tree built in bm25_topk
    norm = f"(tf + ({k1!r} * ({1 - b!r} + (({b!r} * dl) / avgdl))))"
    idf = "ln(1.0 + (((n_docs - dfreq) + 0.5) / (dfreq + 0.5)))"
    term_score = f"{idf} * ((tf * {k1 + 1!r}) / {norm})"
    return f"""
        WITH q(query_id, qtext) AS (VALUES {values}),
        qt AS (
          SELECT query_id,
                 unnest(list_distinct(list_filter(string_split(qtext, ' '), x -> x <> ''))) AS term
          FROM q
        ),
        tok AS (
          SELECT doc_id, len({_TOKENS_SQL}) AS dl, unnest({_TOKENS_SQL}) AS term
          FROM documents
        ),
        tf AS (
          SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
          FROM tok GROUP BY doc_id, term
        ),
        stats AS (
          SELECT count(*) AS n_docs, avg(len({_TOKENS_SQL})) AS avgdl FROM documents
        ),
        matched AS (
          SELECT tf.*, count(*) OVER (PARTITION BY term) AS dfreq
          FROM tf WHERE term IN (SELECT DISTINCT term FROM qt)
        ),
        scored AS (
          SELECT query_id, doc_id, round(sum({term_score}), 4) AS score
          FROM matched JOIN qt USING (term) CROSS JOIN stats
          GROUP BY query_id, doc_id
        )
        SELECT query_id, doc_id, score, rnk FROM (
          SELECT query_id, doc_id, score,
                 row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rnk
          FROM scored
        ) WHERE rnk <= {k}
    """


def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B35: top-50 adjacent word pairs by occurrence (BPE-style pair
    census; TakeOrdered top-k on the Zipf-key count)."""
    return text.collocations(load_table(spark, sf_dir, "documents"))


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B35: coverage/OOV curve at vocab sizes 100/1k/10k over the type
    frequency table (two-phase global rank, one conditional agg)."""
    return text.vocab_coverage(load_table(spark, sf_dir, "documents"))


def q_embed_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B34/B36: per-label embedding centroid as (label, dim, mean) rows."""
    return similarity.label_centroids(load_table(spark, sf_dir, "embeddings"))


def q_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B34/north-star: per-label L2-norm profile — the embedding-health
    monitor (un-normalized batches and truncated vectors surface here)."""
    return similarity.embedding_norm_stats(load_table(spark, sf_dir, "embeddings"))


def q_vector_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B34: L2 unit-normalization of the embedding column — serialized to
    a fixed %.6f comma string (array cells crash the driver canon; fixed
    formatting sidesteps cross-engine float-to-string divergence)."""
    out = similarity.normalize_vectors(load_table(spark, sf_dir, "embeddings"))
    return out.withColumn(
        "unit", F.array_join(F.transform("unit", lambda x: F.format_string("%.6f", x)), ",")
    )


def q_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B34/north-star: symmetric per-vector int8 scalar quantization
    (codes comma-serialized — array cells crash the driver canon)."""
    out = similarity.quantize_int8(load_table(spark, sf_dir, "embeddings"))
    return out.withColumn("q", F.array_join(F.transform("q", lambda x: x.cast("string")), ","))


def q_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B35 per-language corpus stats."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
            F.round(F.avg(text.token_count("text")), 2).alias("avg_tokens"),
        )
        .orderBy("lang")
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B35 stopword-heuristic language ID."""
    docs = load_table(spark, sf_dir, "documents")
    return text.language_id(docs).select("doc_id", "lang", "lang_pred")


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B35 quality scoring (Gopher/C4-style heuristics)."""
    return text.quality_features(load_table(spark, sf_dir, "documents"))


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B35/north-star: keep/drop decision with ordered failure reasons
    (comma-serialized — array cells crash the driver canon)."""
    out = text.quality_filter(load_table(spark, sf_dir, "documents"))
    return out.withColumn("reasons", F.array_join("reasons", ","))


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B35/north-star: the Gopher rule family (Rae et al. 2021 Table A1
    shape) — word-count bounds, space-free mean word length, alpha-word
    fraction, distinct-stopword presence, duplicate-word fraction, and
    the top-bigram character-repetition rule, conjunction as ``keep``.
    Ratios are raw integer-ratio doubles (bit-identical cross-engine)."""
    return text.gopher_quality(load_table(spark, sf_dir, "documents"))


def q_nb_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED quality scorer, ORACLE-EXACT (round 11, r10 verdict order
    #7): Bernoulli Naive Bayes over 256 hashed token-presence buckets,
    fit to this corpus's own Gopher-rule labels (text.nb_quality_score)
    — the trainable-classifier stage of the curation funnel next to the
    heuristic tiers. Per-bucket log-likelihood-ratio weights are BIGINT
    at ×10⁶ (one round(ln·) per bucket — the BM25/DSIR cross-engine
    contract), so each document's score is an order-independent integer
    sum that replays bit-for-bit in DuckDB."""
    return text.nb_quality_score(load_table(spark, sf_dir, "documents"))


def _nb_quality_oracle_sql() -> str:
    """DuckDB replay of text.nb_quality_score trained on Gopher labels:
    the q_gopher_rules keep-expression CTE chain supplies labels, md5
    2-hex prefixes supply the feature buckets, and the NB weight/prior
    quantization is the same round(1e6·ln-ratio) → BIGINT both engines
    pin elsewhere."""
    return f"""
        WITH d AS (SELECT doc_id, {_TOKENS_SQL} AS w FROM documents),
        base AS (
          SELECT doc_id,
                 CAST(len(w) AS BIGINT) AS n_words,
                 CAST(COALESCE(list_sum(list_transform(w, x -> length(x))), 0) AS BIGINT) AS tot_chars,
                 CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
                 CAST(len(list_intersect(w, ['the','a','of','and','to','in','is','that','it','for'])) AS BIGINT) AS n_stop_distinct,
                 CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct
          FROM d),
        g AS (SELECT doc_id, w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] AS gram
              FROM d, UNNEST(range(1, len(w))) AS t(i)),
        gc AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS c,
                      CAST(length(gram) - 1 AS BIGINT) AS chars
               FROM g GROUP BY doc_id, gram),
        top AS (SELECT doc_id, max(c * chars) AS top_chars FROM gc GROUP BY doc_id),
        lab AS (
          SELECT b.doc_id AS id,
                 COALESCE((n_words BETWEEN 50 AND 100000)
                   AND (tot_chars / nullif(n_words, 0) BETWEEN 3 AND 10)
                   AND (n_alpha / nullif(n_words, 0) >= 0.8)
                   AND (n_stop_distinct >= 2)
                   AND ((n_words - n_distinct) / nullif(n_words, 0) <= 0.85)
                   AND (COALESCE(top_chars / nullif(tot_chars, 0), 0.0) <= 0.2),
                   FALSE) AS y
          FROM base b LEFT JOIN top USING (doc_id)),
        feats AS (
          SELECT DISTINCT doc_id AS id, substr(md5(tok), 1, 2) AS bucket
          FROM (SELECT doc_id, unnest(list_distinct(w)) AS tok FROM d)
        ),
        counts AS (
          SELECT bucket,
                 sum(CASE WHEN y THEN 1 ELSE 0 END) AS ct,
                 sum(CASE WHEN y THEN 0 ELSE 1 END) AS cf
          FROM feats f JOIN lab USING (id) GROUP BY bucket
        ),
        tot AS (
          SELECT sum(CASE WHEN y THEN 1 ELSE 0 END) AS n_pos,
                 sum(CASE WHEN y THEN 0 ELSE 1 END) AS n_neg
          FROM lab
        ),
        weights AS (
          SELECT bucket,
                 CAST(round(1000000.0 * (ln((ct + 1.0) / (n_pos + 2.0))
                                       - ln((cf + 1.0) / (n_neg + 2.0)))) AS BIGINT) AS wgt
          FROM counts, tot
        ),
        prior AS (
          SELECT CAST(round(1000000.0 * (ln((n_pos + 1.0) / (n_pos + n_neg + 2.0))
                                       - ln((n_neg + 1.0) / (n_pos + n_neg + 2.0)))) AS BIGINT) AS p0
          FROM tot
        ),
        sc AS (
          SELECT d.doc_id,
                 CAST(count(f.bucket) AS BIGINT) AS n_features,
                 COALESCE(sum(w.wgt), 0) AS sw
          FROM d LEFT JOIN feats f ON d.doc_id = f.id
                 LEFT JOIN weights w USING (bucket)
          GROUP BY d.doc_id
        )
        SELECT doc_id, n_features,
               CAST(sw + p0 AS BIGINT) AS score,
               (sw + p0) > 0 AS predict_pass
        FROM sc, prior
        ORDER BY doc_id
    """


def q_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter incremental dedup, CERTIFIED (round 11): build an
    8192-bit / 4-hash Bloom filter over the even-doc_id half of the
    corpus (dedup.bloom_build — a groupBy(word_idx) bit_or over md5
    hash positions, ≤ 256 packed words regardless of corpus size),
    probe the odd half (dedup.bloom_probe — ONE broadcast join against
    the fixed-size filter), and join the exact membership verdict so
    every row certifies no-false-negatives and exposes the bounded
    false-positive trade. This is the bounded-memory membership
    mechanism for 100 TB incremental dedup: the filter is O(m), not
    O(corpus keys). Full oracle — the md5 position family and 32-bit
    word packing replay exactly in DuckDB."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.bloom_dedup_report(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        m_bits=8192,
        k=4,
    )


def _bloom_dedup_oracle_sql() -> str:
    """DuckDB replay of dedup.bloom_dedup_report at (m=8192, k=4):
    identical md5 15-hex-prefix positions, 32-bit word packing via
    bit_or, min-over-k-positions hit rule, exact verdict by key join."""
    m, k = 8192, 4
    return f"""
        WITH corpus AS (SELECT text FROM documents WHERE doc_id % 2 = 0),
        probe AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
        cpos AS (
          SELECT DISTINCT
            CAST(('0x' || substr(md5(text || '#' || i), 1, 15)) AS BIGINT) % {m} AS pos
          FROM corpus, range({k}) t(i)
        ),
        words AS (
          SELECT pos // 32 AS word_idx,
                 bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS word
          FROM cpos GROUP BY 1
        ),
        ppos AS (
          SELECT doc_id,
            CAST(('0x' || substr(md5(text || '#' || i), 1, 15)) AS BIGINT) % {m} AS pos
          FROM probe, range({k}) t(i)
        ),
        hits AS (
          SELECT p.doc_id,
                 min(CASE WHEN w.word IS NOT NULL
                           AND (w.word >> CAST(p.pos % 32 AS INT)) % 2 = 1
                          THEN 1 ELSE 0 END) = 1 AS bloom_hit
          FROM ppos p LEFT JOIN words w ON w.word_idx = p.pos // 32
          GROUP BY p.doc_id
        ),
        exact AS (
          SELECT p.doc_id,
                 COALESCE(p.text IN (SELECT text FROM corpus), FALSE) AS exact_dup
          FROM probe p
        )
        SELECT h.doc_id, h.bloom_hit, e.exact_dup,
               (h.bloom_hit AND NOT e.exact_dup) AS false_positive
        FROM hits h JOIN exact e USING (doc_id)
        ORDER BY h.doc_id
    """


def q_bloom_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom snapshot composition (round 11): per-shard filters (even /
    odd doc_id halves) OR-merged via dedup.bloom_merge. The ORACLE
    builds ONE filter over the whole corpus directly, so the driver's
    value hash certifies the composition law itself — merge(build(A),
    build(B)) ≡ build(A ∪ B) bit for bit. This is what lets 100 TB
    ingest shards build filters independently and combine them without
    re-scanning any shard."""
    docs = load_table(spark, sf_dir, "documents")
    merged = dedup.bloom_merge(
        dedup.bloom_build(docs.filter(F.col("doc_id") % 2 == 0), m_bits=8192, k=4),
        dedup.bloom_build(docs.filter(F.col("doc_id") % 2 == 1), m_bits=8192, k=4),
    )
    return merged.orderBy("word_idx")


def _bloom_merge_oracle_sql() -> str:
    """DuckDB builds the union-corpus filter directly (no merge step):
    a Spark-side merge bug of any kind breaks the value hash."""
    m, k = 8192, 4
    return f"""
        WITH pos AS (
          SELECT DISTINCT
            CAST(('0x' || substr(md5(text || '#' || i), 1, 15)) AS BIGINT) % {m} AS pos
          FROM documents, range({k}) t(i)
        )
        SELECT pos // 32 AS word_idx,
               bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS word
        FROM pos GROUP BY 1
        ORDER BY word_idx
    """


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star: train/eval 3-gram contamination — src0 is the benchmark."""
    docs = load_table(spark, sf_dir, "documents")
    return text.ngram_contamination(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        n=3,
    )


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star: overlapping token-window chunking (50-token, 10 overlap)."""
    return text.chunk_documents(
        load_table(spark, sf_dir, "documents"), chunk_tokens=50, overlap=10
    )


def q_pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star: per-source greedy packing index into 512-token bins."""
    return text.pack_documents(load_table(spark, sf_dir, "documents"), context_len=512)


def q_quality_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star: source-debiased quality keep — percent_rank of the
    verified quality score WITHIN each source, keep = top half per
    source (a global cutoff would silently drop boilerplate-heavy
    sources wholesale). percent_rank emitted raw per the exact-ratio
    canon rule."""
    return curate.quality_calibrated(load_table(spark, sf_dir, "documents"))


def q_curated_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star composition: quality → exact dedup → stratified sample."""
    return curate.curated_docs(load_table(spark, sf_dir, "documents"))


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star composition: per-stage survivor counts of the curation run."""
    return curate.curation_funnel(load_table(spark, sf_dir, "documents"))


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B35 document fingerprinting (md5 over normalized text)."""
    return text.fingerprint(load_table(spark, sf_dir, "documents")).select("doc_id", "fingerprint")


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B35 token counting: whitespace + BPE-ish regex."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count("text").cast("long").alias("n_ws_tokens"),
        text.bpe_ish_token_count("text").cast("long").alias("n_bpe_tokens"),
    )


def q_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B36 element-wise array ops over embeddings (higher-order built-ins)."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.round(F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)), 6).alias("l2_norm"),
        F.size(F.filter(v, lambda x: x > 0)).cast("long").alias("n_positive"),
        F.round(F.aggregate(v, F.lit(0.0), lambda a, x: a + x) / F.size(v), 6).alias("mean_val"),
        F.round(F.array_max(v), 6).alias("max_val"),
    )


def q_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B36 multimodal plumbing: binary payload + metadata + magic-byte sniff
    (blob never decoded; metadata queries prune the payload column)."""
    docs = multimodal.attach_binary_payload(load_table(spark, sf_dir, "documents"))
    sniffed = multimodal.sniff_format(docs)
    return sniffed.select(
        "doc_id",
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.col("media_meta.media_type").alias("media_type"),
        "sniffed_format",
        F.lower(F.hex(F.substring(F.col("payload"), 1, 4))).alias("magic_hex"),
    )


def q_multimodal_decode_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B36 image decode, ORACLE-EXACT twin of q_multimodal_decode AND
    q_multimodal_png (r9): decode REAL BMP and PNG payloads (the PNG
    side exercises zlib inflate + all five scanline filters) with the
    pure-Python decoders, then recover the EXACT integer channel sums
    and luma-histogram counts from the rounded stats (mean·n_pixels
    round-trips exactly: the rounding error bound 5e-7·256 ≪ 1/2) — so
    DuckDB can replay the whole thing from the gradient fixture's
    closed form (integer pixel formulas; the luma bin expression
    0.299r+0.587g+0.114b is the identical IEEE sum on both engines).
    Closed-form-vs-decode agreement is pinned per doc_id over all 2000
    ids × both formats (test_llm_ops)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    bmp = multimodal.decode_real(multimodal.synthesize_bmp_payload(docs))
    png = multimodal.decode_real(multimodal.synthesize_png_payload(docs))

    def stats(df: DataFrame, fmt: str) -> DataFrame:
        n = F.col("n_pixels")
        return df.select(
            "doc_id",
            F.lit(fmt).alias("fmt"),
            F.col("width").cast("long").alias("width"),
            F.col("height").cast("long").alias("height"),
            "n_pixels",
            F.round(F.col("mean_r") * n).cast("long").alias("sum_r"),
            F.round(F.col("mean_g") * n).cast("long").alias("sum_g"),
            F.round(F.col("mean_b") * n).cast("long").alias("sum_b"),
            F.array_join(
                F.transform(
                    "gray_hist",
                    lambda x: F.round(x * F.col("n_pixels")).cast("long").cast("string"),
                ),
                ",",
            ).alias("hist_counts"),
        )

    return stats(bmp, "bmp").unionByName(stats(png, "png")).orderBy("doc_id", "fmt")


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B36 stubbed decode via mapInPandas (Arrow-batched; rows-only —
    features are Python-derived)."""
    docs = multimodal.attach_binary_payload(load_table(spark, sf_dir, "documents"))
    feats = multimodal.decode_stub_features(docs)
    return feats.select("doc_id", "media_type", "n_bytes", F.round(F.col("feature")[0], 6).alias("f0"))


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B36 REAL decode end-to-end: synthesize a genuine 24bpp BMP per doc
    (deterministic gradient keyed by doc_id), then decode it with the
    pure-numpy BMP parser — header fields, per-channel means, luma
    histogram (rows-only: decode is Python-side by nature; exactness is
    pinned by tests/test_llm_ops.py against hand-computed pixels).
    When Pillow is installed the env-gated real-codec decoder runs
    instead — same schema and statistics tail, parity-tested against
    the hand-rolled parsers on these exact payloads."""
    docs = load_table(spark, sf_dir, "documents")
    payloads = multimodal.synthesize_bmp_payload(docs)
    decoder = (
        multimodal.decode_pillow if multimodal.has_pillow() else multimodal.decode_real
    )
    decoded = decoder(payloads)
    return decoded.select(
        "doc_id", "format", "width", "height", "n_pixels",
        "mean_r", "mean_g", "mean_b",
        F.array_join(F.transform("gray_hist", lambda x: F.format_string("%.6f", x)), ",").alias("hist"),
    )


def q_multimodal_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B36 REAL-CORPUS-FORMAT decode, in-sandbox (r7): synthesize a
    genuine 8-bit truecolor PNG per doc (filter_mode='cycle', so all
    five scanline filters execute) carrying the SAME id-keyed gradient
    as the BMP twin, decode it with the stdlib-zlib PNG parser inside
    decode_real, and join against the decoded BMP twin — `stats_agree`
    certifies pixel-exact cross-format parity per row (rows-only by
    design: decode is Python-side; the parity bit is the oracle)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    png = multimodal.decode_real(multimodal.synthesize_png_payload(docs))
    bmp = multimodal.decode_real(multimodal.synthesize_bmp_payload(docs))
    hist = lambda c: F.array_join(  # noqa: E731
        F.transform(c, lambda x: F.format_string("%.6f", x)), ","
    )
    p = png.select(
        "doc_id", F.col("format").alias("png_format"), "width", "height", "n_pixels",
        "mean_r", "mean_g", "mean_b", hist("gray_hist").alias("hist"),
    )
    b = bmp.select(
        "doc_id", F.col("format").alias("bmp_format"),
        F.col("width").alias("bw"), F.col("height").alias("bh"),
        F.col("mean_r").alias("br"), F.col("mean_g").alias("bg"),
        F.col("mean_b").alias("bb"), hist("gray_hist").alias("bhist"),
    )
    return (
        p.join(b, "doc_id")
        .select(
            "doc_id", "png_format", "width", "height", "n_pixels",
            "mean_r", "mean_g", "mean_b", "hist",
            (
                (F.col("png_format") == "png") & (F.col("bmp_format") == "bmp")
                & (F.col("width") == F.col("bw")) & (F.col("height") == F.col("bh"))
                & (F.col("mean_r") == F.col("br")) & (F.col("mean_g") == F.col("bg"))
                & (F.col("mean_b") == F.col("bb")) & (F.col("hist") == F.col("bhist"))
            ).alias("stats_agree"),
        )
        .orderBy("doc_id")
    )


def q_multimodal_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B36 REAL-CORPUS-FORMAT decode, in-sandbox (r8; progressive r9):
    synthesize a genuine JFIF JPEG per doc (4:4:4, every third doc
    4:2:0 for the subsampled-MCU path, every fifth doc PROGRESSIVE
    SOF2 with the full successive-approximation scan script for the
    Annex-G paths) carrying the SAME id-keyed gradient as the BMP twin,
    decode it with the pure-stdlib T.81 decoder inside decode_real
    (Huffman + dequant + IDCT + YCbCr→RGB), and join against the
    decoded BMP twin. JPEG is LOSSY,
    so `stats_agree` certifies the channel means within a quantization
    tolerance (±6.0 at quality 95 — the id-keyed gradient wraps mod 256,
    and 4:2:0 chroma blending across a 255-edge costs up to 4.9 units of
    channel mean, measured over all 2000 ids; a broken decoder is off by
    tens to hundreds) and dimensions exactly —
    rows-only by design: decode is Python-side; the parity bit is the
    oracle. Closes the round-7 gap "JPEG never decodes in CI"."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    jpg = multimodal.decode_real(multimodal.synthesize_jpeg_payload(docs))
    bmp = multimodal.decode_real(multimodal.synthesize_bmp_payload(docs))
    j = jpg.select(
        "doc_id", F.col("format").alias("jpeg_format"), "width", "height", "n_pixels",
        "mean_r", "mean_g", "mean_b",
    )
    b = bmp.select(
        "doc_id",
        F.col("width").alias("bw"), F.col("height").alias("bh"),
        F.col("mean_r").alias("br"), F.col("mean_g").alias("bg"),
        F.col("mean_b").alias("bb"),
    )
    tol = 6.0
    return (
        j.join(b, "doc_id")
        .select(
            "doc_id", "jpeg_format", "width", "height", "n_pixels",
            "mean_r", "mean_g", "mean_b",
            (
                (F.col("jpeg_format") == "jpeg")
                & (F.col("width") == F.col("bw")) & (F.col("height") == F.col("bh"))
                & (F.abs(F.col("mean_r") - F.col("br")) <= tol)
                & (F.abs(F.col("mean_g") - F.col("bg")) <= tol)
                & (F.abs(F.col("mean_b") - F.col("bb")) <= tol)
            ).alias("stats_agree"),
        )
        .orderBy("doc_id")
    )


def q_multimodal_reject_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B36 decode-or-clean-reject certification in the DRIVER GATE
    (round 10): the codec fuzz family's contract, re-expressed as a
    registered query whose ROW COUNT moves on any decoder regression.
    Per doc (doc_id < 400), synthesize a genuine JPEG then apply a
    deterministic corruption class (doc_id%4: intact / truncate@60% /
    SOF→SOF9 arithmetic rewrite / non-JPEG garbage) and classify each
    payload with multimodal.jpeg_reject_reason. Output = one row per
    (mode, reject_reason) group — the healthy state is exactly the
     4-row diagonal (intact→ok, truncate→truncated, arith→arith,
    garbage→not_jpeg); ANY misclassification (e.g. the progressive path
    breaking turns intact docs 'corrupt') adds an off-diagonal group,
    i.e. a row-count diff the rows-only gate catches. Rows-only by
    design: classification is Python-side (mapInPandas)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    jpg = multimodal.synthesize_jpeg_payload(docs)
    mode = F.element_at(
        F.array(F.lit("intact"), F.lit("truncate"), F.lit("arith"), F.lit("garbage")),
        (F.pmod("doc_id", F.lit(4)) + 1).cast("int"),
    )
    corrupted = multimodal.corrupt_jpeg_payloads(jpg.withColumn("mode", mode))
    report = multimodal.decode_reject_report(corrupted)
    return (
        corrupted.select("doc_id", "mode")
        .join(report, "doc_id")
        .groupBy("mode", "reject_reason")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("mode", "reject_reason")
    )


def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B36 REAL audio decode end-to-end: synthesize a genuine PCM16 WAV
    per doc (deterministic sine keyed by doc_id), then decode it with the
    pure-numpy RIFF chunk-walk — header fields, duration, RMS/peak/
    zero-crossing rate (rows-only: decode is Python-side by nature;
    exactness is pinned by tests against hand-constructed samples)."""
    docs = load_table(spark, sf_dir, "documents")
    payloads = multimodal.synthesize_wav_payload(docs)
    return multimodal.decode_audio_real(payloads)


def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star data selection: DSIR hashed-bigram importance weights
    (target = the English slice, raw = whole corpus). The md5-prefix
    bucket key makes the whole pipeline engine-portable — full DuckDB
    oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return text.dsir_importance(docs, docs.filter(F.col("lang") == "en"))


def q_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star data recipe: deterministically resample the corpus to a
    target language mixture (30/20/20/15/15) via in-plan md5 thresholds —
    full DuckDB oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return curate.mixture_resample(
        docs, {"en": 0.3, "zh": 0.2, "es": 0.2, "de": 0.15, "fr": 0.15}
    )


def q_curated_docs_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star full-pipeline composition v2: quality → cross-doc
    chunk-overlap cap → exact dedup → target-mixture resample — every
    stage individually oracled, and the composition carries its own full
    oracle."""
    return curate.curated_docs_v2(load_table(spark, sf_dir, "documents"))


def q_classifier_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B35 model-based quality filtering (CCNet/fastText shape): hashed-
    feature linear classifier with an int8-quantized 256-bucket literal
    weight table — ONE narrow map, zero shuffles, full DuckDB oracle
    (integer weight sums are fold-order-independent; the logit ships as
    the raw w_sum/n_tokens double, never rounded — exact integer ratios
    tie under HALF_UP vs HALF_EVEN)."""
    return text.classifier_quality_score(load_table(spark, sf_dir, "documents"))


def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B35/curation: per-source TOKEN-budget sampling (mixture recipes are
    written in tokens, not document rates) — md5-priority order, integer
    cumulative-sum window, keep while the running total fits the budget.
    One window shuffle keyed by source; full DuckDB oracle."""
    return curate.token_budget_sample(load_table(spark, sf_dir, "documents"))


def q_intra_doc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B33 intra-document dedup: drop repeated 20-token chunks WITHIN a
    document, first occurrence wins, order-preserving reassembly (as an
    md5 fingerprint — rows stay narrow). The fixture has no natural
    self-repetition, so the query prepends each document's own first 20
    tokens in-plan (the template-boilerplate scenario, deterministic and
    replayed identically by the oracle): every document must drop
    exactly that injected chunk. Full DuckDB oracle."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", text.tokens("text").alias("__t"))
    boiler = toked.filter(F.size("__t") >= 1).select(
        "doc_id",
        F.concat_ws(
            " ", F.concat_ws(" ", F.slice("__t", 1, 20)), F.concat_ws(" ", "__t")
        ).alias("text"),
    )
    return dedup.dedup_intra_doc(boiler, chunk_tokens=20)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B33/B34 semantic dedup (SemDeDup shape): embedding near-dups pruned
    via bucket-scoped comparison only — hyperplane-LSH clusters (the
    seeded portable family), exact cosine verify, lower-id-wins survivor
    rule. Full DuckDB oracle (planes replayed as literals; threshold 0.45
    fits the fixture's cosine range — the rule, not the radius, is what
    the oracle certifies). Reuses the session LSH index."""
    return similarity.semantic_dedup(
        load_table(spark, sf_dir, "embeddings"),
        threshold=0.45, n_bits=2, n_tables=8,
        index=_lsh_index(spark, sf_dir),
    )


def q_chunk_dup_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B33 paragraph-granularity exact substring dedup: every 50-token
    chunk fingerprint appearing in ≥2 documents (full oracle)."""
    return dedup.chunk_dup_census(load_table(spark, sf_dir, "documents"))


def q_chunk_overlap_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B33 per-document cross-doc duplicated-content ratio (full oracle)."""
    return dedup.chunk_overlap_ratio(load_table(spark, sf_dir, "documents"))


def q_udtf_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B37 Python UDTF: per-document sentence spans via SQL LATERAL."""
    return udfs.sentence_spans(load_table(spark, sf_dir, "documents"))


def q_pandas_udf_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B37 grouped-map pandas UDF: per-event-type z-score (ddof=0 ↔
    stddev_pop, which is what makes the oracle exact)."""
    ev = load_table(spark, sf_dir, "events")
    return udfs.grouped_zscore(ev, "event_type", "value")


def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped: orders per priority with ≥1 line shipped >60 days
    late (EXISTS → left-semi)."""
    return analytics.order_priority_check(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


def q_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped: histogram of customers by order count (zero
    bucket via left outer join)."""
    return analytics.customer_order_distribution(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped: percent of windowed revenue from PROMO parts."""
    return analytics.promo_revenue_share(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped: supplier(s) with maximum windowed revenue
    (1-row broadcast max, no global window)."""
    return analytics.top_supplier(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "supplier")
    )


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped: avg yearly revenue lost dropping below-half-avg
    quantity lines of one brand (decorrelated per-part avg)."""
    return analytics.small_quantity_revenue(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped: top-20 large-volume orders (HAVING-IN →
    aggregate-then-join-back)."""
    t = {n: load_table(spark, sf_dir, n) for n in ("lineitem", "orders", "customer")}
    return analytics.large_volume_orders(t["lineitem"], t["orders"], t["customer"])


def q_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped: revenue under OR-of-ANDs brand/size/quantity
    predicates (stays broadcast-hash, no nested loop)."""
    return analytics.disjunctive_brand_revenue(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


def q_rich_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped: above-average-balance customers with no URGENT
    orders, per segment (scalar subquery + anti join)."""
    return analytics.rich_inactive_customers(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped: top-20 customers by revenue lost to returns in
    a half-year window."""
    t = {n: load_table(spark, sf_dir, n) for n in ("lineitem", "orders", "customer", "nation")}
    return analytics.returned_item_customers(t["lineitem"], t["orders"], t["customer"], t["nation"])


def q_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cypher shortestPath parity: BFS hop distances over the τ=0.3
    embedding-similarity graph from its max-degree node (frontier
    expansion with early stop, lineage checkpointed per hop)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 1000)
    edges = dedup.embedding_near_dups(emb, threshold=0.3).select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    )
    deg = (
        edges.select(F.col("src").alias("n"))
        .union(edges.select(F.col("dst").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    source = deg.orderBy(F.desc("d"), F.asc("n")).limit(1).select("n")
    return (
        graph.bfs_distances(edges, source)
        .select(F.col("node").alias("vec_id"), "dist")
        .orderBy("vec_id")
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped: pricing summary report — full additive-measure
    battery per (returnflag, linestatus), map-side partial agg."""
    return analytics.pricing_summary(load_table(spark, sf_dir, "lineitem"))


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped: per-part minimum observed unit price supplier in
    a region (correlated MIN decorrelated to agg + join-back)."""
    t = {n: load_table(spark, sf_dir, n) for n in ("lineitem", "part", "supplier", "nation", "region")}
    return analytics.min_cost_supplier(t["lineitem"], t["part"], t["supplier"], t["nation"], t["region"])


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped: same-nation customer/supplier revenue per nation
    of one region over one order year."""
    t = {
        n: load_table(spark, sf_dir, n)
        for n in ("lineitem", "orders", "customer", "supplier", "nation", "region")
    }
    return analytics.local_supplier_volume(
        t["lineitem"], t["orders"], t["customer"], t["supplier"], t["nation"], t["region"]
    )


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped: discount-elimination revenue forecast — pure
    pushed-down range filters + one global sum, zero shuffles."""
    return analytics.forecast_revenue_change(load_table(spark, sf_dir, "lineitem"))


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped: profit per (supplier nation, order year) for
    fragment-named parts (retailprice-derived cost stand-in)."""
    t = {n: load_table(spark, sf_dir, n) for n in ("lineitem", "orders", "part", "supplier", "nation")}
    return analytics.product_type_profit(t["lineitem"], t["orders"], t["part"], t["supplier"], t["nation"])


def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped: parts whose shipped value exceeds a fraction of
    the corpus total (HAVING vs scalar subquery, exchange reuse)."""
    return analytics.important_parts(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped: high/low-priority conditional counts of late
    lines per line status (one join, one conditional agg)."""
    return analytics.late_shipment_priority(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")
    )


def q_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped: distinct supplier count per (brand,type,size)
    with brand + supplier-set exclusions (anti join, distinct pairs)."""
    t = {n: load_table(spark, sf_dir, n) for n in ("lineitem", "part", "supplier")}
    return analytics.supplier_part_counts(t["lineitem"], t["part"], t["supplier"])


def q_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped: suppliers moving > threshold units of
    fragment-named parts in a window (nested-IN decorrelated)."""
    t = {n: load_table(spark, sf_dir, n) for n in ("lineitem", "part", "supplier", "nation")}
    return analytics.promotion_suppliers(t["lineitem"], t["part"], t["supplier"], t["nation"])


# --------------------------------------------------------------------------
# round-5 additions: curation depth (normalization dedup, span removal,
# mixture planning, tokenizer eval, CCNet tiers, ring sharding)
# --------------------------------------------------------------------------


def q_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B33 depth: CCNet-style normalization-hash dedup — case/
    punctuation/digit/whitespace-folded md5 groups, lowest id survives;
    per-doc verdict shape (dedup.normalized_dedup). Full oracle (same
    fold regexes with DuckDB's 'g' flag)."""
    return dedup.normalized_dedup(load_table(spark, sf_dir, "documents"))


def q_dup_span_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B33 depth: actionable substring-dedup remove-list — every
    non-first occurrence of a duplicated 50-token chunk with its token
    offsets (dedup.dup_span_plan; the census says THAT content repeats,
    this says WHAT to cut). Full oracle."""
    return dedup.dup_span_plan(load_table(spark, sf_dir, "documents"))


_RING_SHARDS = [f"shard-{i}" for i in range(8)]


def q_ring_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharding depth: ring consistent hashing with 16 virtual nodes per
    shard (Dynamo family, beside the HRW q_rendezvous_shard) — pure
    narrow map over a literal ring (analytics.consistent_ring_shard).
    Full oracle: the ring replays as a VALUES literal."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return analytics.consistent_ring_shard(docs, _RING_SHARDS, n_vnodes=16)


def _ring_shard_oracle_sql(*, n_vnodes: int = 16) -> str:
    """DuckDB replay of consistent_ring_shard: the identical md5 ring as
    a VALUES literal; successor = min ring position ≥ md5(key), wrapping
    to the ring head."""
    ring = analytics.ring_vnodes(_RING_SHARDS, n_vnodes)
    values = ", ".join(f"('{p}', '{s}')" for p, s in ring)
    return f"""
        WITH ring(pos, shard) AS (VALUES {values}),
        d AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
        sel AS (
          SELECT d.doc_id,
                 COALESCE(min(CASE WHEN r.pos >= d.h THEN r.pos END),
                          (SELECT min(pos) FROM ring)) AS ring_pos
          FROM d CROSS JOIN ring r GROUP BY d.doc_id
        )
        SELECT sel.doc_id, sel.ring_pos, r.shard
        FROM sel JOIN ring r ON r.pos = sel.ring_pos
    """


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation depth: α=0.5 temperature-smoothed multilingual sampling
    plan — per-language sampling rate sqrt(min_tokens/tokens) and
    expected token yield (curate.temperature_sampling_plan). Full
    oracle: integer sums + one sqrt/division per row, no float
    summation anywhere."""
    return curate.temperature_sampling_plan(load_table(spark, sf_dir, "documents"))


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer eval depth: BPE pieces-per-word and chars-per-piece per
    language under the corpus-trained 6-merge BPE
    (text.tokenizer_fertility). Full oracle composed from the unrolled
    BPE CTE chain."""
    return text.tokenizer_fertility(load_table(spark, sf_dir, "documents"), n_merges=6)


def _tokenizer_fertility_oracle_sql(*, n_merges: int = 6) -> str:
    """DuckDB replay of text.tokenizer_fertility: BPE train (unrolled
    rounds) → segmentation piece counts → per-doc encode → language
    rollup with integer-sum ratios."""
    rounds = "".join(_bpe_round_ctes(r) for r in range(1, n_merges + 1))
    return f"""WITH {_bpe_vocab_sql().strip()}{rounds},
        seg AS (
          SELECT word, len(string_split(trim(w), ' ')) AS n_pieces FROM v{n_merges}
        ),
        tok AS (SELECT doc_id, unnest({_TOKENS_SQL}) AS word FROM documents),
        enc AS (
          SELECT doc_id, count(*) AS n_words, sum(n_pieces) AS bpe_tokens
          FROM tok JOIN seg USING (word) GROUP BY doc_id
        ),
        dims AS (SELECT doc_id, lang AS stratum, length(text) AS chars FROM documents)
        SELECT stratum,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_words) AS BIGINT) AS n_words,
               CAST(sum(bpe_tokens) AS BIGINT) AS n_pieces,
               round(CAST(sum(bpe_tokens) AS DOUBLE) / sum(n_words), 4) AS fertility,
               round(CAST(sum(chars) AS DOUBLE) / sum(bpe_tokens), 4) AS chars_per_piece
        FROM enc JOIN dims USING (doc_id)
        GROUP BY stratum
    """


def q_lm_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation depth: CCNet head/middle/tail LM tiers — unigram LM
    score ranked WITHIN predicted language, ntile(3)
    (text.lm_quality_buckets). Full oracle: both engines share the
    front-loaded-remainder ntile over the same (rounded score, id)
    total order."""
    return text.lm_quality_buckets(load_table(spark, sf_dir, "documents"))


def q_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B33 depth: EXECUTE the substring-dedup plan — the cleaned corpus
    with every non-first duplicated chunk removed and per-doc
    drop accounting (dedup.dedup_rewrite). Full oracle: kept chunks
    reassemble with ORDER-BY list aggregation in DuckDB."""
    return dedup.dedup_rewrite(load_table(spark, sf_dir, "documents"))


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B34 depth: hard-negative mining — per query the top-5
    highest-cosine vectors BELOW the positive band (cosine < 0.45, the
    fixture's near-dup radius), the DPR/Sentence-BERT mining pass
    (similarity.hard_negatives). Full oracle: the band cuts on the
    6-rounded cosine in both engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.hard_negatives(
        emb, emb.filter(F.col("vec_id") < 10), k=5, positive_threshold=0.45
    )


def q_truncated_dim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B34 depth: matryoshka truncation eval — recall@5 of cosine top-k
    on the first 8/16/32 dims vs the full 64
    (similarity.truncated_dim_recall): how many dimensions THIS corpus
    needs, as a query. Full oracle via list slicing."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.truncated_dim_recall(
        emb, emb.filter(F.col("vec_id") < 10), dims=(8, 16, 32), k=5
    )


def _truncated_recall_oracle_sql(*, dims: tuple[int, ...] = (8, 16, 32), k: int = 5) -> str:
    """DuckDB replay of truncated_dim_recall: one sliced-cosine top-k
    CTE pair per probe dim against the shared full-dim truth."""
    def topk(name: str, expr: str) -> str:
        return f"""
        s_{name} AS (
          SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                 round(list_dot_product({expr('c')}, {expr('q')})
                       / (sqrt(list_dot_product({expr('c')}, {expr('c')}))
                          * sqrt(list_dot_product({expr('q')}, {expr('q')}))), 6) AS cosine
          FROM v c JOIN q ON c.vec_id <> q.vec_id
        ),
        t_{name} AS (
          SELECT query_id, corpus_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, corpus_id ASC) AS rnk
            FROM s_{name}
          ) WHERE rnk <= {k}
        )"""

    parts = [topk("full", lambda a: f"{a}.e")]
    selects = []
    for d in dims:
        parts.append(topk(f"d{d}", lambda a, d=d: f"{a}.e[1:{d}]"))
        selects.append(f"""
          SELECT CAST({d} AS BIGINT) AS dim, s.query_id,
                 CAST(count(t.corpus_id) AS BIGINT) AS n_hits,
                 round(CAST(count(t.corpus_id) AS DOUBLE) / {k}, 6) AS recall
          FROM t_d{d} s LEFT JOIN t_full t
            ON s.query_id = t.query_id AND s.corpus_id = t.corpus_id
          GROUP BY s.query_id""")
    return f"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        q AS (SELECT * FROM v WHERE vec_id < 10),
        {",".join(parts)}
        {" UNION ALL ".join(selects)}
    """


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch depth, ORACLE-BACKED approximate distinct: K-Minimum-Values
    over md5 hashes per event type (analytics.kmv_distinct) — the
    mergeable sketch whose estimate is bit-exact reproducible, unlike
    the rows-only HLL twin q_approx_count_distinct."""
    return analytics.kmv_distinct(
        load_table(spark, sf_dir, "events"),
        group_col="event_type",
        key_col="user_id",
        k=64,
    )


def q_bloom_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch depth: Bloom-filter false-positive audit — an m=4096/j=3
    filter over customers with 1995 orders, probed with every customer;
    confusion grid proves zero false negatives and measures the real FP
    rate (analytics.bloom_membership_audit). Full oracle (integer md5
    bit positions)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1996-01-01")
    )
    return analytics.bloom_membership_audit(
        orders,
        load_table(spark, sf_dir, "customer"),
        member_col="o_custkey",
        probe_col="c_custkey",
    )


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse depth: incremental view maintenance — a (count, sum)
    snapshot of events before 2024-01-20 merged with a retractable
    change batch (inserts: events on/after the cutoff; deletes: base
    incident rows value ≥ 450) WITHOUT rescanning the base
    (analytics.cdc_apply). Oracle recomputes the view from scratch over
    (base ∖ deletes) ∪ inserts — incremental == full recompute."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.filter(F.col("ts") < "2024-01-20")
    inserts = ev.filter(F.col("ts") >= "2024-01-20")
    deletes = base.filter(F.col("value") >= 450.0)
    return analytics.cdc_apply(
        base, inserts, deletes, group_col="event_type", value_col="value"
    )


def _bloom_audit_oracle_sql(*, m: int = 4096, n_hashes: int = 3) -> str:
    """DuckDB replay of bloom_membership_audit: identical md5 bit
    positions (('0x'||hex)::BIGINT % m), set-bit distinct, all-positions-
    set verdict, confusion grid."""
    def pos_exprs(key: str) -> str:
        return ", ".join(
            f"(('0x' || substr(md5({key} || '#{i}'), 1, 12))::BIGINT % {m})"
            for i in range(n_hashes)
        )

    return f"""
        WITH mk AS (
          SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS k FROM orders
          WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
        ),
        bits AS (
          SELECT DISTINCT unnest([{pos_exprs('k')}]) AS pos FROM mk
        ),
        pk AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k FROM customer),
        pp AS (SELECT k, unnest([{pos_exprs('k')}]) AS pos FROM pk),
        verdict AS (
          SELECT pp.k, count(b.pos) = {n_hashes} AS bloom_says_member
          FROM pp LEFT JOIN bits b USING (pos) GROUP BY pp.k
        )
        SELECT m.k IS NOT NULL AS is_member, v.bloom_says_member,
               CAST(count(*) AS BIGINT) AS n
        FROM verdict v LEFT JOIN mk m USING (k)
        GROUP BY 1, 2
    """


def q_ivf_filtered_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B34, ORACLE-EXACT filtered vector search (round 10): IVF top-k
    under a metadata predicate (label IN (3, 7, 9)) applied PRE-scoring
    over the full-corpus index (similarity.ivf_topk_scaled_filtered) —
    the RAG/vector-store serving shape (tenant/language/license
    filters); the naive post-filter underfills k and is deliberately
    NOT what this computes. Same integer k-means substrate as
    q_ivf_topk_verified."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk_scaled_filtered(
        emb, emb.filter(F.col("vec_id") < 10), allowed_labels=[3, 7, 9],
        k=5, n_centroids=8, n_probe=4,
    )


def q_ivf_topk_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B34, ORACLE-EXACT IVF at 8 cells: the seed→2-round-Lloyd→4-probe
    pipeline over INTEGER-quantized vectors (×1e6 BIGINTs) — exact
    integer distances, truncating-division centroid updates, integer
    dot/norm cosine — so the whole k-means index build replays in
    DuckDB (similarity.ivf_topk_scaled). q_ivf_topk serves the same
    pipeline at 16 cells from a session-cached index."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk_scaled(
        emb, emb.filter(F.col("vec_id") < 10), k=5, n_centroids=8, n_probe=4
    )


def _ivf_scaled_oracle_sql(
    *, n_centroids: int = 8, lloyd_iters: int = 2, n_probe: int = 4, k: int = 5,
    scale: int = 10**6, allowed_labels: list[int] | None = None,
) -> str:
    """DuckDB replay of similarity.ivf_topk_scaled. Exactness rests on
    three facts: (1) every distance/dot is a sum of integer products
    ≤ ~2e14 — far inside double's 2^53 exact-integer range, so
    list_dot_product over integer-valued DOUBLE[] equals Spark's BIGINT
    arithmetic; (2) centroid updates use DuckDB's truncating ``//``,
    matched by the driver-side _trunc_div; (3) all argmin/rank ties
    break on the cell/corpus id."""
    def dist(a: str, b: str) -> str:
        return (
            f"(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
            f" + list_dot_product({b}, {b}))"
        )

    rounds = []
    for r in range(1, lloyd_iters + 1):
        rounds.append(f""",
        a{r} AS (
          SELECT id, v, cell FROM (
            SELECT v.id, v.v, c.cell,
                   row_number() OVER (PARTITION BY v.id
                     ORDER BY {dist('v.v', 'c.c')}, c.cell) AS rn
            FROM v CROSS JOIN c{r - 1} c
          ) WHERE rn = 1
        ),
        c{r} AS (
          SELECT cell, list(d ORDER BY pos) AS c FROM (
            SELECT cell, pos, CAST(CAST(sum(val) AS BIGINT) // count(*) AS DOUBLE) AS d
            FROM (
              SELECT a.cell,
                     generate_subscripts(a.v, 1) AS pos,
                     unnest(a.v) AS val
              FROM a{r} a
            ) GROUP BY cell, pos
          ) GROUP BY cell
        )""")
    # filtered variant (round 10): corpus candidates label-filtered
    # PRE-scoring — same pre-filter point as ivf_topk_scaled_filtered
    label_join = (
        "\n          JOIN (SELECT vec_id, label FROM embeddings) lb ON lb.vec_id = a.id"
        if allowed_labels is not None
        else ""
    )
    label_cond = (
        f" AND lb.label IN ({', '.join(str(int(x)) for x in allowed_labels)})"
        if allowed_labels is not None
        else ""
    )
    return f"""
        WITH v AS (
          SELECT vec_id AS id,
                 list_transform(CAST(embedding AS DOUBLE[]),
                                x -> round(x * {scale})) AS v
          FROM embeddings
        ),
        c0 AS (
          SELECT cell, c FROM (
            SELECT row_number() OVER (ORDER BY id) - 1 AS cell, v AS c FROM v
          ) WHERE cell < {n_centroids}
        ){"".join(rounds)},
        fin AS (
          SELECT id, v, cell FROM (
            SELECT v.id, v.v, c.cell,
                   row_number() OVER (PARTITION BY v.id
                     ORDER BY {dist('v.v', 'c.c')}, c.cell) AS rn
            FROM v CROSS JOIN c{lloyd_iters} c
          ) WHERE rn = 1
        ),
        qs AS (SELECT id AS query_id, v AS qv FROM v WHERE id < 10),
        qcells AS (
          SELECT query_id, qv, cell FROM (
            SELECT q.query_id, q.qv, c.cell,
                   row_number() OVER (PARTITION BY q.query_id
                     ORDER BY {dist('q.qv', 'c.c')}, c.cell) AS rn
            FROM qs q CROSS JOIN c{lloyd_iters} c
          ) WHERE rn <= {n_probe}
        ),
        scored AS (
          SELECT qc.query_id, a.id AS corpus_id,
                 round(list_dot_product(a.v, qc.qv)
                       / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(qc.qv, qc.qv))), 6) AS cosine
          FROM qcells qc JOIN fin a USING (cell){label_join}
          WHERE a.id <> qc.query_id{label_cond}
        )
        SELECT query_id, corpus_id, cosine, rnk FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, corpus_id ASC) AS rnk
          FROM scored
        ) WHERE rnk <= {k}
    """


def q_pq_topk_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B34, ORACLE-EXACT PQ twin: per-subspace integer-quantized k-means
    codebooks + exact-integer ADC (similarity.pq_topk_scaled) — closes
    the last ANN family without a verified twin; the float q_pq_topk
    stays the production path."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pq_topk_scaled(emb, emb.filter(F.col("vec_id") < 10), k=5)


def _pq_scaled_oracle_sql(
    *, m: int = 8, kc: int = 16, lloyd_iters: int = 2, k: int = 5, scale: int = 10**6,
    dim: int = 64,
) -> str:
    """DuckDB replay of similarity.pq_topk_scaled: subspace explode,
    per-round argmin + truncating-division codebook update (cells with
    no members RETAIN their previous centroid, matching the Spark
    trainer), exact-integer ADC. Same 2^53-exact-integer argument as
    the IVF oracle. ``dim`` is the fixture embedding width; the subspace
    width derives from it (round-6 advice fix — previously hardcoded to
    8, silently wrong for any non-default m)."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    def dist(a: str, b: str) -> str:
        return (
            f"(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
            f" + list_dot_product({b}, {b}))"
        )

    sub_expr = "v[j * {sub} + 1 : j * {sub} + {sub}]"
    rounds = []
    for r in range(1, lloyd_iters + 1):
        rounds.append(f""",
        a{r} AS (
          SELECT id, j, cell FROM (
            SELECT s.id, s.j, b.cell,
                   row_number() OVER (PARTITION BY s.id, s.j
                     ORDER BY {dist('s.sv', 'b.c')}, b.cell) AS rn
            FROM s JOIN b{r - 1} b USING (j)
          ) WHERE rn = 1
        ),
        u{r} AS (
          SELECT j, cell, list(d ORDER BY spos) AS c FROM (
            SELECT a.j, a.cell, t.spos,
                   CAST(CAST(sum(t.val) AS BIGINT) // count(*) AS DOUBLE) AS d
            FROM a{r} a JOIN (
              SELECT id, j, generate_subscripts(sv, 1) AS spos, unnest(sv) AS val
              FROM s
            ) t USING (id, j)
            GROUP BY a.j, a.cell, t.spos
          ) GROUP BY j, cell
        ),
        b{r} AS (
          SELECT j, cell, c FROM u{r}
          UNION ALL
          SELECT b.j, b.cell, b.c FROM b{r - 1} b
          WHERE NOT EXISTS (SELECT 1 FROM u{r} u WHERE u.j = b.j AND u.cell = b.cell)
        )""")
    return f"""
        WITH v AS (
          SELECT vec_id AS id,
                 list_transform(CAST(embedding AS DOUBLE[]),
                                x -> round(x * {scale})) AS v
          FROM embeddings
        ),
        s AS (
          SELECT id, j, {sub_expr.format(sub=sub)} AS sv
          FROM v, range(0, {m}) t(j)
        ),
        b0 AS (
          SELECT j, cell, sv AS c FROM (
            SELECT j, row_number() OVER (PARTITION BY j ORDER BY id) - 1 AS cell, sv
            FROM s
          ) WHERE cell < {kc}
        ){"".join(rounds)},
        codes AS (
          SELECT id, j, cell FROM (
            SELECT s.id, s.j, b.cell,
                   row_number() OVER (PARTITION BY s.id, s.j
                     ORDER BY {dist('s.sv', 'b.c')}, b.cell) AS rn
            FROM s JOIN b{lloyd_iters} b USING (j)
          ) WHERE rn = 1
        ),
        qs AS (SELECT id AS query_id, j, sv AS qsv FROM s WHERE id < 10),
        tab AS (
          SELECT q.query_id, b.j, b.cell,
                 CAST({dist('q.qsv', 'b.c')} AS BIGINT) AS d
          FROM qs q JOIN b{lloyd_iters} b USING (j)
        ),
        scored AS (
          SELECT t.query_id, a.id AS corpus_id,
                 CAST(sum(t.d) AS BIGINT) AS approx_dist
          FROM codes a JOIN tab t ON a.j = t.j AND a.cell = t.cell
          WHERE a.id <> t.query_id
          GROUP BY 1, 2
        )
        SELECT query_id, corpus_id, approx_dist, rnk FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY approx_dist ASC, corpus_id ASC) AS rnk
          FROM scored
        ) WHERE rnk <= {k}
    """


def q_pq_rerank_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B34, ORACLE-EXACT two-tier PQ serving twin (r8): integer-ADC
    shortlist from the deterministic scaled codebooks, exact cosine
    rerank of the shortlist only (similarity.pq_rerank_scaled) — the
    last rows-only ANN key now has a full-oracle twin; the float
    q_pq_rerank stays the production path."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pq_rerank_scaled(
        emb, emb.filter(F.col("vec_id") < 10), k=5, shortlist=50
    )


def _pq_rerank_scaled_oracle_sql(*, shortlist: int = 50, k: int = 5) -> str:
    """DuckDB replay of similarity.pq_rerank_scaled: the full
    _pq_scaled_oracle_sql training/ADC chain cut at rank<=shortlist,
    then the q_cosine_topk exact-cosine recipe over the shortlist join."""
    base = _pq_scaled_oracle_sql(k=shortlist)
    marker = "SELECT query_id, corpus_id, approx_dist, rnk FROM ("
    # Fail LOUDLY at construction if the base query's final-select text
    # drifts: str.partition on a missing marker returns the whole string
    # as head, which would silently emit malformed SQL caught only when
    # the oracle runs (advisor r8 find).
    assert marker in base, "q_pq_rerank base oracle drifted: splice marker not found"
    head, _, _ = base.partition(marker)
    return (
        head
        + f""", short AS (
          SELECT query_id, corpus_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY approx_dist ASC, corpus_id ASC) AS rnk
            FROM scored
          ) WHERE rnk <= {shortlist}
        ),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        rr AS (
          SELECT s.query_id, s.corpus_id,
                 round(list_dot_product(c.e, q.e)
                       / (sqrt(list_dot_product(c.e, c.e))
                          * sqrt(list_dot_product(q.e, q.e))), 6) AS cosine
          FROM short s
          JOIN e c ON c.vec_id = s.corpus_id
          JOIN e q ON q.vec_id = s.query_id
        )
        SELECT query_id, corpus_id, cosine, rnk FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, corpus_id ASC) AS rnk
          FROM rr
        ) WHERE rnk <= {k}
    """
    )


def q_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation depth: the one-row corpus datacard — size, diversity,
    dup rate, quality pass rate, mean length (curate.corpus_datacard);
    one scan, one multi-aggregate. Full oracle."""
    return curate.corpus_datacard(load_table(spark, sf_dir, "documents"))


def q_autocorr_lag7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series depth: lag-7 Pearson autocorrelation of daily totals
    per series — the seasonality-strength metric that decides whether
    the dow-effect screen applies (analytics.autocorr_lag). Pairs align
    on the day index (gaps break runs). Full oracle."""
    return analytics.autocorr_lag(load_table(spark, sf_dir, "events"), lag=7)


def q_source_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation depth: per-source marginal content — distinct sliding
    20-grams appearing in NO other source (dedup.source_novelty); a
    feed can be low-dup yet zero-novelty, and this separates the two.
    Full oracle."""
    return dedup.source_novelty(load_table(spark, sf_dir, "documents"), n=20)


def q_cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch depth, ORACLE-BACKED Count-Min audit: 4×1024 CMS over the
    event user stream, every distinct user's estimate (min over rows)
    vs exact count (analytics.cms_frequency_audit) — completes the
    deterministic-sketch family (KMV, Bloom, histogram, CMS)."""
    return analytics.cms_frequency_audit(
        load_table(spark, sf_dir, "events"), key_col="user_id"
    )


def q_sql_api_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """API-surface demonstration: the SAME engine through pure
    ``spark.sql`` — registered temp views, a CTE, a 4-way join, a
    windowed rank — regional revenue leaderboard per order year. The
    DataFrame API queries compile to the identical Catalyst plans; this
    entry pins the SQL front door end-to-end. Full oracle (near-verbatim
    SQL)."""
    for t in ("lineitem", "orders", "customer", "nation", "region"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"{t}_v")
    return spark.sql("""
        WITH rev AS (
          SELECT r.r_name AS region,
                 year(o.o_orderdate) AS yr,
                 l.l_extendedprice * (1 - l.l_discount) AS v
          FROM lineitem_v l
          JOIN orders_v o ON l.l_orderkey = o.o_orderkey
          JOIN customer_v c ON o.o_custkey = c.c_custkey
          JOIN nation_v n ON c.c_nationkey = n.n_nationkey
          JOIN region_v r ON n.n_regionkey = r.r_regionkey
        )
        SELECT region, yr,
               CAST(count(*) AS BIGINT) AS n_lines,
               round(sum(v), 2) AS revenue,
               rank() OVER (PARTITION BY yr ORDER BY round(sum(v), 2) DESC) AS rnk
        FROM rev
        GROUP BY region, yr
    """)


def q_ngram_dup_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B33 depth: SLIDING repeated-20-gram census — the overlap-tolerant
    sibling of the disjoint chunk census (a copy straddling a chunk
    boundary cannot hide from a sliding window;
    dedup.ngram_dup_census). Full oracle."""
    return dedup.ngram_dup_census(load_table(spark, sf_dir, "documents"), n=20)


def q_keyword_percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B35/streaming sibling: keyword/regex percolation — every document
    matched against the standing alerting rule set, one (doc, rule) row
    per hit (text.keyword_percolate); zero-shuffle narrow map. Full
    oracle: the patterns live in the Java∩RE2 common dialect, so the
    same strings run verbatim in DuckDB."""
    return text.keyword_percolate(load_table(spark, sf_dir, "documents"))


def q_histogram_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch depth, ORACLE-BACKED approximate percentiles: equi-width
    histogram estimator (256 bins) for p50/p99 per priority — the
    verified twin of the t-digest q_approx_percentiles
    (analytics.histogram_percentiles); integer bins + interpolation,
    replayable bit-exact."""
    return analytics.histogram_percentiles(load_table(spark, sf_dir, "orders"))


def q_pretraining_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone composition: the final pretraining-mix sign-off report —
    quality filter → CCNet normalization dedup → α=0.5 temperature
    rebalance, per language (curate.pretraining_mix). Full oracle
    replays the whole funnel from the verified stage oracles."""
    return curate.pretraining_mix(load_table(spark, sf_dir, "documents"))


def q_kmv_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch depth, ORACLE-BACKED rollup twin of q_hll_rollup: daily
    KMV distinct-user sketches merged to weekly estimates
    (analytics.kmv_rollup) — hierarchical mergeability as a query,
    replayable because the merge is md5 arithmetic, not HLL registers."""
    return analytics.kmv_rollup(load_table(spark, sf_dir, "events"))


def q_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B10 depth: common-neighbors link prediction — Jaccard similarity
    of supplier CATALOG sets over the supplier→part bipartite graph
    from lineitem ("these two suppliers ship the same parts"), via the
    co-occurrence join (graph.neighbor_jaccard), never an n² node
    self-join. min_shared=5 prunes noise pairs before the degree join.
    Full oracle. (The subject→resource graph is near-1:1 by
    construction and yields no pairs — suppliers×parts is the
    genuinely overlapping bipartite fixture.)"""
    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_suppkey").alias("src"), F.col("l_partkey").alias("dst")
    )
    return graph.neighbor_jaccard(edges, min_shared=5)


def q_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star training-batch planning: per candidate context length,
    the padding cost of naive one-doc-per-sequence batching next to the
    packed lower bound — all-integer until the final waste ratio (raw
    int/int double). Full oracle."""
    return text.padding_waste_report(load_table(spark, sf_dir, "documents"))


def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star dedup planning: pairs fired / docs removed / tokens
    freed at each candidate similarity threshold, over the PORTABLE
    MinHash-LSH pair frame (computed once at min threshold, re-filtered
    per sweep row; shares the cached portable index). Full oracle via
    the shared banded CTE."""
    docs = load_table(spark, sf_dir, "documents")
    index = _minhash_portable_index(spark, sf_dir)
    return dedup.dedup_threshold_sweep(docs, index=index)


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star label triage, ORACLE-EXACT: top-5 vectors farthest
    from their label centroid under the integer-quantization recipe
    (truncating-division centroids, exact BIGINT squared distances) —
    the mislabeled-example screen, replayed bit-for-bit in DuckDB."""
    return similarity.embedding_outliers_scaled(load_table(spark, sf_dir, "embeddings"))


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star provenance: the cross-source near-dup matrix (pair
    counts + mean estimated Jaccard per source pair, diagonal included)
    over the portable LSH pairs — which feeds mirror which. Full oracle
    via the shared banded CTE; the mean is a sum of dyadic k/32
    estimates (exact in any accumulation order)."""
    docs = load_table(spark, sf_dir, "documents")
    index = _minhash_portable_index(spark, sf_dir)
    return dedup.source_overlap_matrix(docs, index=index)


def q_range_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout infrastructure, ORACLE-EXACT: equi-depth range-partition
    split points over document token counts — the durable shard-manifest
    artifact a sorted 100 TB write needs (repartitionByRange samples;
    this computes the exact boundaries). Windowless: cumulative counts
    via a broadcast self-join over the ≤|value domain| distinct-value
    frame; thresholds in pure integers."""
    from cloudtrace_exporter_spark.operators import layout

    docs = load_table(spark, sf_dir, "documents").select(
        text.token_count("text").cast("long").alias("n_tokens")
    )
    return layout.range_partition_plan(docs, "n_tokens")


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout infrastructure, ORACLE-EXACT: the Morton (Z-order) key
    over (user_id, value) at 8 bits/dim — min-max scaling from a 1-row
    broadcast stats agg, bit interleave as a codegen'd aggregate; DuckDB
    replays the identical scale+shift arithmetic. The key that makes
    file min/max stats prune BOTH dimensions on a sorted write."""
    from cloudtrace_exporter_spark.operators import layout

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    return layout.zorder_key(ev, ["user_id", "value"], bits=8).select(
        "event_id", F.col("_z").alias("z")
    )


def q_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star release engineering, ORACLE-EXACT: the per-shard
    manifest (doc count, token sum, order-insensitive md5-prefix id
    checksum mod 2³¹−1) a consumer verifies after copying a sharded
    export — a pure function of the corpus, not of the writing job."""
    return curate.export_manifest(load_table(spark, sf_dir, "documents"))


def q_seasonal_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series depth: STL-lite anomaly screen — daily totals minus
    OLS trend minus day-of-week effect, MAD-scored per series, every
    series-day emitted with its outlier flag
    (analytics.seasonal_residual_outliers). Full oracle: every stage
    consumes the 4-rounded output of the previous one, so both engines
    evaluate identical doubles at each boundary."""
    return analytics.seasonal_residual_outliers(load_table(spark, sf_dir, "events"))


def q_bm25_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval depth, ORACLE-EXACT: pseudo-relevance feedback
    (RM3/Rocchio-lite) — BM25 pass 1, harvest the top new terms from
    each query's top-3 docs, expand, re-retrieve (text.bm25_prf_topk).
    Both passes are the frozen-stats percolator BM25; the oracle
    replays pass 1, the term harvest, and pass 2 end to end."""
    return text.bm25_prf_topk(
        load_table(spark, sf_dir, "documents"), _BM25_QUERIES, k=5
    )


def _bm25_prf_oracle_sql(
    *, k: int = 5, fb_docs: int = 3, fb_terms: int = 5, k1: float = 1.2, b: float = 0.75
) -> str:
    """DuckDB replay of text.bm25_prf_topk: pass-1 ranking, feedback
    term harvest (tf desc / term asc, originals excluded), expanded
    term sets, pass-2 ranking. Shared frames (tok/tf/qt/feedback) are
    MATERIALIZED — each is referenced twice and DuckDB's inlining would
    otherwise re-evaluate the chain multiplicatively (the BPE lesson)."""
    values = ", ".join(f"({qid}, '{qtext}')" for qid, qtext in _BM25_QUERIES)
    norm = f"(tf + ({k1!r} * ({1 - b!r} + (({b!r} * dl) / avgdl))))"
    idf = "ln(1.0 + (((n_docs - dfreq) + 0.5) / (dfreq + 0.5)))"
    term_score = f"{idf} * ((tf * {k1 + 1!r}) / {norm})"
    return f"""
        WITH q(query_id, qtext) AS (VALUES {values}),
        qt AS MATERIALIZED (
          SELECT query_id,
                 unnest(list_distinct(list_filter(string_split(qtext, ' '), x -> x <> ''))) AS term
          FROM q
        ),
        tok AS MATERIALIZED (
          SELECT doc_id, len({_TOKENS_SQL}) AS dl, unnest({_TOKENS_SQL}) AS term
          FROM documents
        ),
        tf AS MATERIALIZED (
          SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
          FROM tok GROUP BY doc_id, term
        ),
        stats AS MATERIALIZED (
          SELECT count(*) AS n_docs, avg(len({_TOKENS_SQL})) AS avgdl FROM documents
        ),
        m1 AS (
          SELECT tf.*, count(*) OVER (PARTITION BY term) AS dfreq
          FROM tf WHERE term IN (SELECT DISTINCT term FROM qt)
        ),
        s1 AS (
          SELECT query_id, doc_id, round(sum({term_score}), 4) AS score
          FROM m1 JOIN qt USING (term) CROSS JOIN stats
          GROUP BY query_id, doc_id
        ),
        fb AS MATERIALIZED (
          SELECT query_id, doc_id FROM (
            SELECT query_id, doc_id,
                   row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rnk
            FROM s1
          ) WHERE rnk <= {fb_docs}
        ),
        exp_sel AS MATERIALIZED (
          SELECT query_id, term FROM (
            SELECT e.query_id, e.term,
                   row_number() OVER (PARTITION BY e.query_id ORDER BY e.tf DESC, e.term ASC) AS rn
            FROM (
              SELECT f.query_id, t.term, count(*) AS tf
              FROM fb f JOIN tok t USING (doc_id)
              GROUP BY 1, 2
            ) e
            WHERE NOT EXISTS (
              SELECT 1 FROM qt WHERE qt.query_id = e.query_id AND qt.term = e.term
            )
          ) WHERE rn <= {fb_terms}
        ),
        qt2 AS MATERIALIZED (
          SELECT query_id, term FROM qt UNION SELECT query_id, term FROM exp_sel
        ),
        m2 AS (
          SELECT tf.*, count(*) OVER (PARTITION BY term) AS dfreq
          FROM tf WHERE term IN (SELECT DISTINCT term FROM qt2)
        ),
        s2 AS (
          SELECT query_id, doc_id, round(sum({term_score}), 4) AS score
          FROM m2 JOIN qt2 USING (term) CROSS JOIN stats
          GROUP BY query_id, doc_id
        )
        SELECT query_id, doc_id, score, rnk FROM (
          SELECT query_id, doc_id, score,
                 row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rnk
          FROM s2
        ) WHERE rnk <= {k}
    """


def q_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-quality verdict, ORACLE-EXACT: precision/recall/F1 of the
    production MinHash+LSH pair set against exact shingle-Jaccard
    ground truth at the same threshold (dedup.lsh_eval_report) — the
    one-row score of the operating point the tuning report's curve
    surrounds. Ground truth is the all-pairs theta join, so the WIRED
    configuration is the sampled posture (deterministic md5 quarter-
    sample — the same contract a 100 TB run uses); the oracle applies
    the identical filter."""
    return dedup.lsh_eval_report(
        load_table(spark, sf_dir, "documents"), sample_fraction=0.25
    )


def _lsh_eval_oracle_sql(
    *, threshold: float = 0.5, n_hashes: int = 32, bands: int = 8
) -> str:
    """DuckDB replay of dedup.lsh_eval_report: exact shingle-Jaccard
    ground truth + the portable banded candidate chain + one-row
    precision/recall/F1 (same operand order as the Column tree). The
    md5 quarter-sample shadows the documents table via a CTE so the
    shared banded chain needs no edits."""
    banded = _portable_banded_cte(n_hashes=n_hashes, bands=bands).replace(
        "FROM documents", "FROM docs_s"
    )
    sampled = banded.replace(
        "WITH tok AS",
        "WITH docs_s AS (SELECT * FROM documents"
        " WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'),\n"
        "        tok AS",
        1,
    )
    return sampled + f""",
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.sig AS sig_a, b.sig AS sig_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        ),
        lsh AS (
          SELECT doc_a, doc_b FROM cand
          WHERE round(len(list_filter(range(1, {n_hashes} + 1),
                i -> sig_a[i] = sig_b[i])) / {n_hashes}, 6) >= {threshold}
        ),
        ex AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE len(list_intersect(a.s, b.s))
                / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
                >= {threshold}
        ),
        tp AS (SELECT * FROM lsh WHERE (doc_a, doc_b) IN (SELECT (doc_a, doc_b) FROM ex)),
        c AS (
          SELECT (SELECT CAST(count(*) AS BIGINT) FROM ex) AS n_truth,
                 (SELECT CAST(count(*) AS BIGINT) FROM lsh) AS n_lsh,
                 (SELECT CAST(count(*) AS BIGINT) FROM tp) AS n_true_pos
        )
        SELECT n_truth, n_lsh, n_true_pos,
               CASE WHEN n_lsh > 0 THEN n_true_pos / n_lsh END AS precision,
               CASE WHEN n_truth > 0 THEN n_true_pos / n_truth END AS recall,
               CASE WHEN (CASE WHEN n_lsh > 0 THEN n_true_pos / n_lsh END
                          + CASE WHEN n_truth > 0 THEN n_true_pos / n_truth END) > 0
                    THEN round(2.0 * (CASE WHEN n_lsh > 0 THEN n_true_pos / n_lsh END)
                               * (CASE WHEN n_truth > 0 THEN n_true_pos / n_truth END)
                               / ((CASE WHEN n_lsh > 0 THEN n_true_pos / n_lsh END)
                                  + (CASE WHEN n_truth > 0 THEN n_true_pos / n_truth END)), 6)
                    ELSE 0.0 END AS f1
        FROM c
    """


def q_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-analytics depth, ORACLE-EXACT: the lifetime survival curve
    with explicit censoring (analytics.survival_curve) — per day: users
    at risk, churn events, and the churned-subpopulation survival
    fraction; users active within the final week are censored, never
    miscounted as churn."""
    return analytics.survival_curve(load_table(spark, sf_dir, "events"))


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release engineering, ORACLE-EXACT: the snapshot-to-snapshot
    corpus diff (curate.corpus_diff) — per source: docs added/removed/
    changed/unchanged + net token delta, change detection by normalized
    content hash. The two snapshots derive deterministically from the
    fixture (old = id%7≠0; new = id%5≠0 with id%3==0 docs revised)."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 7 != 0)
    new = docs.filter(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(" rev2"))
        ).otherwise(F.col("text")),
    )
    return curate.corpus_diff(old, new)


def q_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-tuning depth, ORACLE-EXACT: the LSH parameter report —
    measured band-collision rate vs the theoretical S-curve 1−(1−s^r)^b
    for every (bands, rows) split of the 32-slot signature, per
    similarity decile (dedup.lsh_tuning_report). The table that picks
    bands/rows before a 100 TB index build."""
    return dedup.lsh_tuning_report(load_table(spark, sf_dir, "documents"))


def _lsh_tuning_oracle_sql(*, n_hashes: int = 32) -> str:
    """DuckDB replay of dedup.lsh_tuning_report: loosest-banding pair
    population, per-config collision from the stored signatures, and
    the midpoint S-curve by repeated multiplication (no pow)."""
    bands_opt = [n_hashes]
    while bands_opt[-1] > 1:
        bands_opt.append(bands_opt[-1] // 2)
    cfg_selects = []
    for nb in bands_opt:
        r = n_hashes // nb
        band_preds = []
        for band_i in range(nb):
            slots = " AND ".join(
                f"sig_a[{s + 1}] = sig_b[{s + 1}]"
                for s in range(band_i * r, band_i * r + r)
            )
            band_preds.append(f"({slots})")
        hit = " OR ".join(band_preds)
        cfg_selects.append(
            f"SELECT sim_bucket, {nb} AS n_bands, {r} AS n_rows,"
            f" CAST(CASE WHEN {hit} THEN 1 ELSE 0 END AS BIGINT) AS hit FROM pairs"
        )
    def theo_sql(nb: int, r: int) -> str:
        s_mid = "((CAST(sim_bucket AS DOUBLE) + 0.5) / 10.0)"
        p = "1.0" + ("" if r == 0 else " * " + " * ".join([s_mid] * r))
        q = f"(1.0 - ({p}))"
        acc = "1.0" + ("" if nb == 0 else " * " + " * ".join([q] * nb))
        return f"(1.0 - ({acc}))"
    theo_case = " ".join(
        f"WHEN n_bands = {nb} THEN round({theo_sql(nb, n_hashes // nb)}, 6)"
        for nb in bands_opt
    )
    return _portable_banded_cte(n_hashes=n_hashes, bands=n_hashes) + f""",
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.sig AS sig_a, b.sig AS sig_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        ),
        pairs AS MATERIALIZED (
          SELECT sig_a, sig_b,
                 least(CAST(floor(len(list_filter(range(1, {n_hashes} + 1),
                       i -> sig_a[i] = sig_b[i])) * 10 / {n_hashes}) AS BIGINT),
                       9) AS sim_bucket
          FROM cand
        ),
        outcomes AS (
          {" UNION ALL ".join(cfg_selects)}
        )
        SELECT n_bands, n_rows, sim_bucket,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(hit) AS BIGINT) AS n_collisions,
               CAST(sum(hit) AS BIGINT) / CAST(count(*) AS BIGINT) AS measured_rate,
               CASE {theo_case} END AS expected_rate
        FROM outcomes
        GROUP BY n_bands, n_rows, sim_bucket
        ORDER BY n_bands, sim_bucket
    """


def q_label_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space QA, ORACLE-EXACT: the label×label centroid-cosine
    separation matrix (similarity.label_separation_matrix) — integer
    BIGINT centroids and dots, floats only at the two sqrts and one
    division per pair. Collapsed off-diagonal pairs flag label noise or
    a dead encoder before anything trains on the labels."""
    return similarity.label_separation_matrix(
        load_table(spark, sf_dir, "embeddings")
    )


def q_bm25_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval last mile, ORACLE-EXACT: best query-term window per
    (query, top-k doc) — maximal distinct-term coverage, then hits,
    then earliest start — with the span text (text.bm25_snippets).
    Span search runs on per-pair HIT LISTS, never the token stream."""
    return text.bm25_snippets(
        load_table(spark, sf_dir, "documents"), _BM25_QUERIES, k=3, window=8
    )


def _bm25_snippets_oracle_sql(
    *, k: int = 3, window: int = 8, k1: float = 1.2, b: float = 0.75
) -> str:
    """DuckDB replay of text.bm25_snippets: the BM25 ranking chain plus
    hit-anchored span search and the slice itself."""
    values = ", ".join(f"({qid}, '{qtext}')" for qid, qtext in _BM25_QUERIES)
    norm = f"(tf + ({k1!r} * ({1 - b!r} + (({b!r} * dl) / avgdl))))"
    idf = "ln(1.0 + (((n_docs - dfreq) + 0.5) / (dfreq + 0.5)))"
    term_score = f"{idf} * ((tf * {k1 + 1!r}) / {norm})"
    return f"""
        WITH q(query_id, qtext) AS (VALUES {values}),
        qt AS MATERIALIZED (
          SELECT query_id,
                 unnest(list_distinct(list_filter(string_split(qtext, ' '), x -> x <> ''))) AS term
          FROM q
        ),
        tok AS (
          SELECT doc_id, len({_TOKENS_SQL}) AS dl, unnest({_TOKENS_SQL}) AS term
          FROM documents
        ),
        tf AS (
          SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
          FROM tok GROUP BY doc_id, term
        ),
        stats AS (
          SELECT count(*) AS n_docs, avg(len({_TOKENS_SQL})) AS avgdl FROM documents
        ),
        matched AS (
          SELECT tf.*, count(*) OVER (PARTITION BY term) AS dfreq
          FROM tf WHERE term IN (SELECT DISTINCT term FROM qt)
        ),
        scored AS (
          SELECT query_id, doc_id, round(sum({term_score}), 4) AS score
          FROM matched JOIN qt USING (term) CROSS JOIN stats
          GROUP BY query_id, doc_id
        ),
        ranked AS MATERIALIZED (
          SELECT query_id, doc_id, score, rnk FROM (
            SELECT query_id, doc_id, score,
                   row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rnk
            FROM scored
          ) WHERE rnk <= {k}
        ),
        pos AS MATERIALIZED (
          SELECT doc_id, generate_subscripts({_TOKENS_SQL}, 1) AS pos,
                 unnest({_TOKENS_SQL}) AS term
          FROM documents WHERE doc_id IN (SELECT DISTINCT doc_id FROM ranked)
        ),
        hits AS MATERIALIZED (
          SELECT r.query_id, r.doc_id, p.term, p.pos
          FROM (SELECT DISTINCT query_id, doc_id FROM ranked) r
          JOIN pos p USING (doc_id)
          JOIN qt ON qt.query_id = r.query_id AND qt.term = p.term
        ),
        spans AS (
          SELECT a.query_id, a.doc_id, a.pos AS start,
                 count(DISTINCT b.term) AS n_terms, count(*) AS n_hits
          FROM hits a JOIN hits b
            ON a.query_id = b.query_id AND a.doc_id = b.doc_id
           AND b.pos >= a.pos AND b.pos < a.pos + {window}
          GROUP BY 1, 2, 3
        ),
        best AS (
          SELECT query_id, doc_id, start, n_terms, n_hits FROM (
            SELECT *, row_number() OVER (
              PARTITION BY query_id, doc_id
              ORDER BY n_terms DESC, n_hits DESC, start ASC
            ) AS rn FROM spans
          ) WHERE rn = 1
        )
        SELECT bb.query_id, bb.doc_id, r.rnk, r.score,
               CAST(bb.start AS BIGINT) AS start,
               CAST(bb.n_terms AS BIGINT) AS n_terms,
               CAST(bb.n_hits AS BIGINT) AS n_hits,
               COALESCE(array_to_string(
                 list_slice({_TOKENS_SQL}, CAST(bb.start AS INT),
                            CAST(bb.start AS INT) + {window} - 1), ' '), '') AS snippet
        FROM best bb
        JOIN ranked r ON r.query_id = bb.query_id AND r.doc_id = bb.doc_id
        JOIN documents d ON d.doc_id = bb.doc_id
        ORDER BY bb.query_id, r.rnk
    """


def q_phash_dedup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B36 visual near-dup, ORACLE-EXACT twin of q_phash_dedup (r9,
    verdict item #5 — the rows-only decode keys get full-oracle twins
    like pq_rerank/simhash/winnow before them): the SAME end-to-end
    Spark path (synthesize BMP → pure-Python decode → aHash →
    pigeonhole band join → distance spectrum with planted accounting),
    but DuckDB replays it from the CLOSED FORM of the fixture: the
    synthetic gradient's aHash reduces to integer block sums
    (bit i ⟺ 64·block_sum_i > total_sum, scale-1000 ITU-R 601 luma of
    the id-keyed gradient), and the banded join's exact-recall
    guarantee means the oracle can brute-force hamming ≤ 2 pairs.
    The float-path/integer-model agreement is pinned per fixed doc_id
    with margin 3584 luma-millis (test_llm_ops: closed-form pin test),
    so the oracle is exact, not approximate."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 200
    )
    pays = multimodal.synthesize_bmp_payload(docs)
    twins = pays.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "payload"
    )
    hashes = multimodal.perceptual_hash(pays.unionByName(twins))
    pairs = multimodal.phash_near_dups(hashes, max_hamming=2)
    return (
        pairs.withColumn(
            "planted", (F.col("id_b") - F.col("id_a") == 1_000_000).cast("long")
        )
        .groupBy(F.col("hamming").cast("long").alias("hamming"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("planted").cast("long").alias("n_planted_recovered"),
        )
        .orderBy("hamming")
    )


def q_audio_fp_dedup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B36 acoustic near-dup, ORACLE-EXACT twin of
    q_audio_fingerprint_dedup (r9): the SAME Spark path (synthesize
    envelope WAV → PCM16 decode → energy-delta sign fingerprint →
    band join), replayed in DuckDB from the closed form — the
    fingerprint's frame energies are amp²·S with a shared positive S
    per doc (frames align 1:1 with the LCG-keyed envelope segments), so
    bit i reduces to the pure-integer comparison amp(i+1) > amp(i) on
    the LCG values; the 0.5-gain planted twins scale every amp equally
    and reproduce the identical fingerprint (the volume-invariance
    claim, now oracle-certified). int16-quantization safety of the
    reduction is pinned per fixed doc_id in test_llm_ops."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 200
    )
    pays = multimodal.synthesize_wav_envelope_payload(docs)
    twins = multimodal.synthesize_wav_envelope_payload(
        docs.filter(F.col("doc_id") < 25), gain=0.5
    ).select((F.col("doc_id") + 1_000_000).alias("doc_id"), "payload")
    fps = multimodal.audio_fingerprint(pays.unionByName(twins))
    pairs = multimodal.phash_near_dups(fps, max_hamming=2, hash_col="afp")
    return (
        pairs.withColumn(
            "planted", (F.col("id_b") - F.col("id_a") == 1_000_000).cast("long")
        )
        .groupBy(F.col("hamming").cast("long").alias("hamming"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("planted").cast("long").alias("n_planted_recovered"),
        )
        .orderBy("hamming")
    )


def q_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B36 visual near-dup end-to-end (rows-only: Python-side decode by
    nature, like every multimodal path): synthesize a BMP per doc PLUS
    a pixel-perturbed copy of each of the first 25 (planted visual
    near-dups), perceptual-hash everything (aHash/dHash 64-bit), and
    surface the near-dup pairs via the pigeonhole band join — each
    planted pair must come back with a small Hamming distance. The
    hash math and the banding exactness are pinned in
    tests/test_llm_ops.py (brute-force-equality test)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 200
    )
    pays = multimodal.synthesize_bmp_payload(docs)
    # twins carry the ORIGINAL's payload under a fresh id — every
    # original gains one exact visual duplicate the band join must find
    twins = pays.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "payload"
    )
    hashes = multimodal.perceptual_hash(pays.unionByName(twins))
    pairs = multimodal.phash_near_dups(hashes, max_hamming=2)
    # the synthetic gradient family is intentionally self-similar, so
    # report the DISTANCE SPECTRUM with planted-recovery accounting:
    # every planted twin must sit in the hamming=0 row
    return (
        pairs.withColumn(
            "planted", (F.col("id_b") - F.col("id_a") == 1_000_000).cast("long")
        )
        .groupBy("hamming")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("planted").alias("n_planted_recovered"),
        )
        .orderBy("hamming")
    )


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source distribution alignment, ORACLE-EXACT: quantile
    normalization (Bolstad et al.) of per-source n_chars onto the
    global distribution — exact-element mapping via integer index
    arithmetic, range-partitioned global ranking
    (curate.quantile_normalize). The batch-effect fix before a single
    global quality threshold."""
    return curate.quantile_normalize(load_table(spark, sf_dir, "documents"))


def q_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality discovery, ORACLE-EXACT: does source → lang hold
    per feed — majority right-hand side, dissent count, and the
    fd_holds verdict (expectations.fd_audit). The undeclared-
    constraint twin of q_expectation_report."""
    return expectations.fd_audit(
        load_table(spark, sf_dir, "documents"), lhs="source", rhs="lang"
    )


def q_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust-statistics depth, ORACLE-EXACT: Theil–Sen trend per
    series — lower-median of all pairwise daily slopes plus the
    median-residual intercept (analytics.theil_sen_trend), the
    outlier-immune twin of q_trend_fit's OLS line."""
    return analytics.theil_sen_trend(load_table(spark, sf_dir, "events"))


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph community detection, ORACLE-EXACT: deterministic
    synchronous label propagation (most-frequent neighbor label,
    smallest-label tie-break, 4 rounds) over the SUBJECT—RESOURCE
    bipartite graph (graph.label_propagation). The random tie-flip of
    classic LPA is replaced by a total order, so a DuckDB CTE chain
    replays the full trajectory."""
    ev = _normalized_events(spark, sf_dir)
    edges = ev.select(
        F.col("subject").alias("src"), F.col("resource_id").alias("dst")
    ).dropDuplicates(["src", "dst"])
    return graph.label_propagation(edges, n_rounds=4)


def _label_propagation_oracle_sql(*, n_rounds: int = 4) -> str:
    """DuckDB replay of graph.label_propagation: one (vote-count,
    argmax) CTE pair per round. Each label frame is referenced twice
    (neighbor votes + self vote), so l{{r}} is MATERIALIZED — without it
    DuckDB's inlining re-evaluates the chain 2^rounds times (the
    BPE-oracle scalar-subquery lesson)."""
    rounds = []
    for r in range(1, n_rounds + 1):
        rounds.append(f""",
        n{r} AS (
          SELECT id, lbl, count(*) AS cnt FROM (
            SELECT u.a AS id, l.lbl FROM und u JOIN l{r - 1} l ON l.id = u.b
            UNION ALL
            SELECT id, lbl FROM l{r - 1}
          ) GROUP BY 1, 2
        ),
        l{r} AS MATERIALIZED (
          SELECT id, lbl FROM (
            SELECT id, lbl,
                   row_number() OVER (PARTITION BY id ORDER BY cnt DESC, lbl ASC) AS rn
            FROM n{r}
          ) WHERE rn = 1
        )""")
    return f"""
        WITH {EVENTS_AS_TRACES_SQL.strip()},
        e0 AS (SELECT DISTINCT subject AS a, resource_id AS b FROM norm
               WHERE subject <> resource_id),
        und AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
        l0 AS (SELECT DISTINCT a AS id, a AS lbl FROM und)
        {"".join(rounds)}
        SELECT id, lbl AS community FROM l{n_rounds} ORDER BY id
    """


def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series depth, ORACLE-EXACT: Holt double-exponential level +
    trend folded through each series' full daily history, with 1- and
    7-step forecasts (analytics.holt_forecast). The fold is a pinned
    left-to-right IEEE recurrence with exactly-representable smoothing
    constants, replayed bit-for-bit by a DuckDB recursive CTE."""
    return analytics.holt_forecast(load_table(spark, sf_dir, "events"))


def q_holt_damped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-family completion, ORACLE-EXACT: Gardner–McKenzie
    DAMPED-trend Holt (φ=0.5, exactly representable; h-step multiplier
    Σφ^i is a finite dyadic sum) — the long-horizon forecast saturates
    instead of extrapolating forever (analytics.holt_forecast with
    phi=0.5); same pinned-IEEE fold, same recursive-CTE replay."""
    return analytics.holt_forecast(load_table(spark, sf_dir, "events"), phi=0.5)


def q_kmv_join_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-driven join planning, ORACLE-EXACT: per event-type pair,
    the distinct-user overlap estimated from KMV sketch state alone
    (inclusion–exclusion over the merged union sketch) against the
    exact overlap — the broadcast-vs-shuffle cardinality call a planner
    makes from at-rest sketches (analytics.kmv_join_estimate)."""
    return analytics.kmv_join_estimate(load_table(spark, sf_dir, "events"))


def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus saturation diagnostic, ORACLE-EXACT: the Heaps'-law
    vocabulary growth curve — never-before-seen token types per
    ingestion-order slice, cumulative types/tokens, running type-token
    ratio (text.vocab_growth_curve). One token-keyed shuffle; the curve
    itself is ≤n_buckets rows."""
    return text.vocab_growth_curve(
        load_table(spark, sf_dir, "documents"), n_buckets=16
    )


def q_water_fill_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star mixture planning, ORACLE-EXACT: max-min fair
    (water-filling) per-source token allocation against a 60% global
    budget — cap the over-represented feeds, never starve the small
    ones. All-integer closed form (sorted-capacity scan fixes the cap
    and a deterministic remainder distribution), so the plan is a pure
    function of the corpus (curate.water_fill_caps)."""
    return curate.water_fill_caps(load_table(spark, sf_dir, "documents"))


def q_passjoin_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-join family ground truth, ORACLE-EXACT: EVERY document-
    prefix pair within 3 Levenshtein edits via PassJoin segment
    pigeonholing (dedup.passjoin_edit_pairs) — provably NO false
    negatives with linear candidate volume, unlike the two heuristic
    fuzzy joins (prefix-blocked, sorted-neighborhood) whose recall this
    certifies. The oracle is the O(n²) brute-force form the operator
    exists to avoid. fold_keys=True pins the verified distance to the
    ascii-folded prefix on both engines (byte-vs-codepoint parity); the
    operator's default mode blocks on folded segments but verifies and
    reports TRUE codepoint distance."""
    return dedup.passjoin_edit_pairs(
        load_table(spark, sf_dir, "documents"),
        max_dist=3,
        prefix_chars=20,
        fold_keys=True,
    )


def q_passjoin_codepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE-codepoint edit-distance join over a NON-ASCII corpus,
    ORACLE-EXACT (round 10, advisor r8 follow-through): the operator's
    DEFAULT mode — ``fold_keys=False``, folded segments for blocking
    only, verify + report on the real text — exercised on a
    deterministically accented/CJK-prefixed derivation of documents
    (doc_id%3==1 rows get aeo→áéö, doc_id%7==0 rows get a 中 prefix).
    Spark's levenshtein counts CODEPOINTS ('é'↔'e' = 1 edit); DuckDB's
    counts BYTES (= 2), so the oracle re-encodes each prefix through a
    corpus-wide codepoint→single-ASCII-byte dictionary (alphabet ≤ 94 —
    here ~29 symbols) before its brute-force byte levenshtein, making
    byte distance ≡ codepoint distance. This gives the contract real
    non-ASCII corpora get (the mode q_passjoin_exact's fold_keys=True
    parity pin deliberately does NOT cover) full oracle evidence."""
    docs = load_table(spark, sf_dir, "documents")
    pfx = F.substring(F.col("text"), 1, 20)
    mut = F.when(
        F.pmod("doc_id", F.lit(3)) == 1, F.translate(pfx, "aeo", "áéö")
    ).otherwise(pfx)
    mut = F.concat(
        F.when(F.pmod("doc_id", F.lit(7)) == 0, F.lit("中")).otherwise(F.lit("")),
        mut,
    )
    corpus = docs.select("doc_id", mut.alias("text"))
    # prefix_chars=30 > max built length (21 codepoints): nothing re-cut,
    # so the pair domain is exactly the constructed prefixes
    return dedup.passjoin_edit_pairs(
        corpus, max_dist=3, prefix_chars=30, fold_keys=False
    )


def q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changepoint detection, ORACLE-EXACT: two-sided Page CUSUM over
    each series' daily event counts (analytics.cusum_drift) — catches
    the slow ramp per-day outlier tests miss. All-integer closed form:
    the recursive max(0, ·) folds become running-sum-minus-running-
    extremum windows over the bounded daily grid."""
    return analytics.cusum_drift(load_table(spark, sf_dir, "events"))


def q_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival-process profile, ORACLE-EXACT: per-series inter-arrival
    gap extrema, exact median/p90 element selections, integer gap sums,
    and the Goh–Barabási burstiness coefficient
    (analytics.interarrival_stats) — the bot/burst diagnostic over the
    event stream."""
    return analytics.interarrival_stats(load_table(spark, sf_dir, "events"))


def q_pack_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing layout, ORACLE-EXACT: per-document global
    token offset (exclusive integer prefix sum in ingestion order via
    analytics.global_running_sum — the distributed scan primitive),
    2048-token bin, in-bin position, and the straddle flag
    (curate.pack_layout) — the concat-and-split plan an LLM pretraining
    loader materializes; padding_waste's zero-padding counterpart."""
    return curate.pack_layout(load_table(spark, sf_dir, "documents"))


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n-gram novelty, ORACLE-EXACT: distinct word trigrams
    credited to their first-seen (min doc id) owner, counted per source
    with the raw integer-ratio novelty rate (text.ngram_novelty) — the
    marginal-content-per-feed report at shingle granularity."""
    return text.ngram_novelty(load_table(spark, sf_dir, "documents"))


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix, ORACLE-EXACT: users cohorted by first
    active day, per-(cohort, week-offset) distinct-active counts and the
    raw integer-ratio retention (analytics.retention_cohorts) — all
    integer counts, no window, bounded output."""
    return analytics.retention_cohorts(load_table(spark, sf_dir, "events"))


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson-bootstrap CI, ORACLE-EXACT: 200 md5-driven
    resample replicates per series (integer inverse-CDF weights at 2^48,
    shared constants both engines), replicate means as single divisions
    of BIGINT sums, CI bounds by exact element selection at
    ceil((B+1)alpha/2) ranks (analytics.bootstrap_ci) — the
    nonparametric uncertainty twin of q_ab_ztest."""
    return analytics.bootstrap_ci(load_table(spark, sf_dir, "events"))


def q_source_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus concentration, ORACLE-EXACT: per-language HHI of token
    share by source, effective source count (1/HHI), top share
    (curate.source_concentration) — exact BIGINT token sums, one raw
    division per emitted ratio; the one-crawl-in-disguise detector."""
    return curate.source_concentration(load_table(spark, sf_dir, "documents"))


def q_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-objective skyline, ORACLE-EXACT: per-returnflag Pareto
    frontier of (price ↓, quantity ↑) via the sort-scan reduction
    (analytics.pareto_front) — the O(n²) dominance test collapsed to a
    grid window; comparisons on parquet-native doubles only."""
    return analytics.pareto_front(load_table(spark, sf_dir, "lineitem"))


def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changepoint localization, ORACLE-EXACT: per-series AMOC split via
    the denominator-cleared CUSUM argmax |n·P_k − k·S| — a pure BIGINT
    ranking with smallest-k tie-break (analytics.changepoint_amoc) —
    plus the level before/after; cusum_drift's flag becomes a named
    split day."""
    return analytics.changepoint_amoc(load_table(spark, sf_dir, "events"))


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph structure, ORACLE-EXACT: degree assortativity of the
    portable MinHash-LSH near-dup graph (graph.degree_assortativity,
    shared cached index) — all-BIGINT Newman sufficient statistics; the
    sqrt cancels by edge symmetry, leaving one division. Separates
    hub-to-hub template families from hub-and-spoke boilerplate."""
    docs = load_table(spark, sf_dir, "documents")
    index = _minhash_portable_index(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5, index=index).select(
        "doc_a", "doc_b"
    )
    return graph.degree_assortativity(pairs)


def q_activity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inequality diagnostic, ORACLE-EXACT: per-series Gini coefficient
    of per-user activity (rank form, all-BIGINT sums, one raw division)
    + the exact top-decile event share (analytics.activity_gini) — the
    individual-contributor twin of q_source_hhi's group concentration."""
    return analytics.activity_gini(load_table(spark, sf_dir, "events"))


def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day exact median smoother, ORACLE-EXACT: per-series
    daily totals with the lower median of the bounded trailing frame by
    exact element selection (analytics.rolling_median) — the robust
    twin of q_rolling_7d's sum and q_ewma_chart's mean."""
    return analytics.rolling_median(load_table(spark, sf_dir, "events"))


def q_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding anisotropy, ORACLE-EXACT: per-label fraction of vector
    energy OFF the dominant principal axis (similarity.anisotropy_report
    — the Mu–Viswanath all-but-the-top diagnostic): shared deterministic
    power rounds at wscale=10³, exact Cauchy–Schwarz integer energies,
    DECIMAL/HUGEINT label sums, one division per label."""
    return similarity.anisotropy_report(load_table(spark, sf_dir, "embeddings"))


def q_dominant_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-component PCA, ORACLE-EXACT: dominant principal direction of
    the embedding gram matrix by 8 rounds of distributed power
    iteration (similarity.dominant_direction) — all-integer X·(X·w)
    rounds, floor-half-up renormalization, 64 scalars per round across
    the driver; the oracle unrolls the identical rounds. The
    embedding-anisotropy diagnostic."""
    return similarity.dominant_direction(load_table(spark, sf_dir, "embeddings"))


def q_triangle_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle participation over the SCALE-TRUE pair
    graph, ORACLE-EXACT (graph.triangle_counts on portable MinHash-LSH
    edges, shared cached index) — localizes q_triangle_count's global
    3-clique census (exact-Jaccard bounded slice) to the per-node
    density signal on the banded candidate graph: which documents sit
    in mutually-duplicate clusters."""
    docs = load_table(spark, sf_dir, "documents")
    index = _minhash_portable_index(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5, index=index).select(
        "doc_a", "doc_b"
    )
    return graph.triangle_counts(pairs)


def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration reliability report, ORACLE-EXACT: decile bins of the
    k/100 pseudo-probability vs the purchase outcome — mean prediction
    (one division of a BIGINT sum), empirical rate, |gap|, ECE summand
    (analytics.calibration_bins) — the measurement twin of
    isotonic_calibration."""
    return analytics.calibration_bins(load_table(spark, sf_dir, "events"))


def q_funnel_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-sequence funnel, ORACLE-EXACT: view → click → purchase
    with a strictly-after cursor (analytics.funnel_strict — the
    re-entrant counting mode; q_funnel keeps the classic
    first-occurrence-order mode) — per-user step times as an integer
    window-min recurrence on ONE user exchange; step counts and
    raw-ratio conversions."""
    return analytics.funnel_strict(load_table(spark, sf_dir, "events"))


def q_auc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier eval, ORACLE-EXACT: tie-corrected ROC-AUC + Gini of
    the value score against the JSON-payload outcome per series
    (analytics.auc_report) — midranks kept integer (2·midrank = 2·prefix
    + n + 1 over the score grid), ONE final integer-ratio division; the
    quality-classifier acceptance artifact."""
    return analytics.auc_report(load_table(spark, sf_dir, "events"))


def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Independence audit, ORACLE-EXACT: chi-square residual CELLS for
    series × JSON-payload outcome (analytics.chi_square_cells) —
    observed, expected (one pinned division from BIGINT margins), per-
    cell χ² contribution, and the per-series χ² (two commutative adds);
    the which-cell-deviates artifact, not just one folded statistic."""
    return analytics.chi_square_cells(load_table(spark, sf_dir, "events"))


def q_quota_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-count stratified split, ORACLE-EXACT: largest-remainder
    (Hamilton) apportionment of a 10% validation quota across language
    strata, filled by md5 priority (curate.exact_quota_split) — the
    fixed-budget eval-set builder next to assign_splits' hash-interval
    (approximate, cross-table) split; all-integer seats."""
    return curate.exact_quota_split(load_table(spark, sf_dir, "documents"))


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy release gate, ORACLE-EXACT: k-anonymity / l-diversity
    class-size spectrum over customer quasi-identifiers (nation,
    segment, account-balance band) with balance as the sensitive
    attribute (expectations.k_anonymity_report) — the structured-column
    re-identification complement of q_pii_report's in-text scan."""
    cust = load_table(spark, sf_dir, "customer").withColumn(
        "bal_band", F.floor(F.col("c_acctbal") / 1000).cast("long")
    )
    return expectations.k_anonymity_report(
        cust, quasi=["c_nationkey", "c_mktsegment", "bal_band"],
        sensitive="c_acctbal", k=5,
    )


def q_key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-planning diagnosis, ORACLE-EXACT: per join-key exact
    Gini coefficient, top-1%-of-keys row share, and heaviest key
    (skew.key_skew_audit) for the three fact-table keys a planner
    would shuffle on — the measurement that decides between plain
    groupBy, salting, and AQE skew splits BEFORE the 100 TB stage."""
    rows = [
        skew.key_skew_audit(
            load_table(spark, sf_dir, "orders"), "o_custkey", label="orders.o_custkey"
        ),
        skew.key_skew_audit(
            load_table(spark, sf_dir, "events"), "user_id", label="events.user_id"
        ),
        skew.key_skew_audit(
            load_table(spark, sf_dir, "lineitem"), "l_suppkey", label="lineitem.l_suppkey"
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("audited")


def _key_skew_oracle_one(table: str, key: str, label: str) -> str:
    """DuckDB replica of skew.key_skew_audit for one (table, key):
    ascending (count, key) ranking → rank-weighted Gini identity,
    ceil(n/100) heavy keys, (count desc, key asc) argmax."""
    return f"""
        SELECT '{label}' AS audited,
               CAST(n AS BIGINT) AS n_keys,
               CAST(t AS BIGINT) AS total_rows,
               CAST(mx AS BIGINT) AS max_cnt,
               top_key,
               CAST(hk AS BIGINT) AS heavy_keys,
               CAST(hr AS BIGINT) AS heavy_rows,
               CAST(floor(hr * 1000000 / t) AS BIGINT) AS heavy_share_e6,
               round(CAST(2 * s - (n + 1) * t AS DOUBLE) / CAST(n * t AS DOUBLE), 6) AS gini
        FROM (
          SELECT max(n) AS n, sum(cnt) AS t, max(cnt) AS mx,
                 max(CASE WHEN rd = 1 THEN key END) AS top_key,
                 sum(rn * cnt) AS s,
                 CAST(ceil(max(n) / 100) AS BIGINT) AS hk,
                 sum(CASE WHEN rn >= n - CAST(ceil(n / 100) AS BIGINT) + 1
                          THEN cnt ELSE 0 END) AS hr
          FROM (
            SELECT key, cnt,
                   row_number() OVER (ORDER BY cnt, key) AS rn,
                   row_number() OVER (ORDER BY cnt DESC, key ASC) AS rd,
                   count(*) OVER () AS n
            FROM (
              SELECT CAST({key} AS VARCHAR) AS key, CAST(count(*) AS BIGINT) AS cnt
              FROM {table} GROUP BY 1
            )
          )
        )
    """


def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature engineering, ORACLE-EXACT: leave-one-out target encoding
    with additive smoothing (curate.target_encoding_loo) — the
    leakage-free categorical feature: row i's own label is excluded
    from its category mean, shrunk toward the global prior. Numerator
    and denominator are exact integers (prior cleared of its
    denominator), one pinned IEEE division per row."""
    return curate.target_encoding_loo(load_table(spark, sf_dir, "events"))


def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend testing, ORACLE-EXACT: Mann–Kendall monotone-trend test per
    series (analytics.mann_kendall) — integer S over the pairwise daily
    grid, tie-corrected variance as one integer expression, continuity-
    corrected pinned z. The significance twin of q_theilsen_trend's
    slope estimate."""
    return analytics.mann_kendall(load_table(spark, sf_dir, "events"))


def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation depth, ORACLE-EXACT: CUPED variance-reduced A/B
    effect per series (analytics.cuped_adjustment) — θ from exact
    BIGINT sufficient statistics over centi-unit-quantized per-user
    pre/post totals, adjusted difference in a pinned IEEE tail.
    Completes the A/B suite (z, U, KS test the difference; CUPED
    shrinks its variance)."""
    return analytics.cuped_adjustment(load_table(spark, sf_dir, "events"))


def q_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature evidence report, ORACLE-EXACT: Weight-of-Evidence and
    Information-Value terms per category (curate.woe_iv) — one natural
    log of an exact integer cross-ratio per category, degenerate
    categories NULL (never ±inf). The report twin of
    q_target_encoding's feature column."""
    return curate.woe_iv(load_table(spark, sf_dir, "events"))


def _dbscan_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared DBSCAN fixture: the embedding slice with 50 PLANTED
    dense groups (3 deterministic single-coordinate perturbations of
    each seed vector — the phash planted-twin pattern in embedding
    space) against a background of near-orthogonal noise vectors."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    base = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    seeds = emb.filter(F.col("vec_id") < 50)
    copies = seeds.select(
        "vec_id",
        "embedding",
        F.explode(F.sequence(F.lit(1), F.lit(3))).alias("c"),
    ).select(
        (F.col("vec_id") + F.col("c") * 1_000_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x.cast("double")
            + F.when(
                i == F.pmod(F.col("vec_id"), F.lit(64)), 0.1 * F.col("c")
            ).otherwise(F.lit(0.0)),
        ).alias("embedding"),
    )
    return base.unionByName(copies)


def q_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density clustering, ORACLE-EXACT: DBSCAN over the planted
    embedding fixture (similarity.dbscan_embeddings, default all-pairs
    ε-graph — the fixture-scale ground-truth posture). The ε-test is
    all-BIGINT (dot²·den² ≥ num²·‖a‖²·‖b‖², never a sqrt); components
    replay as a recursive reachability CTE. Expected artifact: every
    planted group a 4-core cluster, every background vector noise."""
    return similarity.dbscan_embeddings(
        _dbscan_corpus(spark, sf_dir), cos_num=95, cos_den=100, min_pts=4
    )


def q_dbscan_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INJECTED-pair-source DBSCAN, ORACLE-EXACT — the 100 TB
    posture of q_dbscan_clusters: candidate pairs come from
    similarity.sign_block_pairs (axis-aligned hyperplane blocking, one
    ids+bucket equi-join instead of the all-pairs theta join) and
    dbscan_embeddings verifies each candidate with the same BIGINT
    ε-test. Integer-exact end to end, so the oracle replays BOTH the
    blocking and the clustering; role/cluster differences vs
    q_dbscan_clusters are pure candidate-recall effects, certified here
    rather than hidden."""
    corpus = _dbscan_corpus(spark, sf_dir)
    pairs = similarity.sign_block_pairs(corpus, n_bits=8, id_col="vec_id")
    return similarity.dbscan_embeddings(
        corpus, cos_num=95, cos_den=100, min_pts=4, pairs=pairs
    )


def _semdedup_centroids(spark: SparkSession, sf_dir: str) -> list:
    """Session-frozen k-means centroids for the shared SemDeDup fixture
    (n_centroids=8, lloyd_iters=2, scale=10**3) — the train-once/serve-
    many index-artifact lifecycle of _bm25_stats/q_ivf_topk
    applied to the k-means tier: the three semdedup postures score
    against ONE trained centroid set instead of re-running the Lloyd
    collects per query. Centroids are a deterministic function of the
    data, so results are identical to a fresh train (pinned by
    test_fast_paths + the unchanged DuckDB oracles, which replay the
    training from parquet)."""
    return artifact(
        spark, "semdedup_centroids", sf_dir,
        lambda: similarity._scaled_kmeans(
            _dbscan_corpus(spark, sf_dir), n_centroids=8, lloyd_iters=2, scale=10**3
        )[1],
    )


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup, ORACLE-EXACT (SemDeDup, Abbas et al. 2023; round
    10): k-means cluster the planted embedding corpus, drop all but the
    min-id member of every within-cluster cos≥0.95 dup group
    (similarity.semdedup_scaled). The semantic tier of the dedup funnel
    — catches re-phrasings text LSH can't see. Composes three verified
    substrates (integer k-means / BIGINT ε-test / connected components),
    so the full pipeline replays in DuckDB: kmeans CTE chain + same-cell
    pair test + recursive reach components. Expected artifact: every
    planted perturbation group collapses to keep=1-of-4."""
    return similarity.semdedup_scaled(
        _dbscan_corpus(spark, sf_dir),
        n_centroids=8,
        lloyd_iters=2,
        tau_num=95,
        tau_den=100,
        centroids=_semdedup_centroids(spark, sf_dir),
    )


def q_semdedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steady-state semantic dedup, ORACLE-EXACT (round 10): a new batch
    (fresh vectors 400-499 + planted perturbation copies of corpus seeds
    <50) against a 400-vector corpus whose centroids it is only ASSIGNED
    to (similarity.semdedup_incremental — no per-batch retrain). Planted
    copies ε-link to their corpus seed → corpus_dup; fresh vectors keep;
    surviving within-batch dup groups collapse via CC. The embedding
    twin of q_incremental_dedup."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") < 400)
    fresh = emb.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < 500)).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    seeds = emb.filter(F.col("vec_id") < 50)
    copies = seeds.select(
        "vec_id",
        "embedding",
        F.explode(F.sequence(F.lit(1), F.lit(3))).alias("c"),
    ).select(
        (F.col("vec_id") + F.col("c") * 1_000_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x.cast("double")
            + F.when(
                i == F.pmod(F.col("vec_id"), F.lit(64)), 0.1 * F.col("c")
            ).otherwise(F.lit(0.0)),
        ).alias("embedding"),
    )
    return similarity.semdedup_incremental(
        fresh.unionByName(copies), corpus, n_centroids=8, lloyd_iters=2
    )


def q_semdedup_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup's 100 TB candidate posture, ORACLE-EXACT (round 10):
    same pipeline as q_semdedup with sign-block SUB-bucketing inside
    each k-means cell (block_bits=8 — the candidate join key becomes
    (cell, bucket), so giant cells cost O(Σ bucket²) not O(cell²); the
    q_dbscan_lsh blocking replayed inside the SemDeDup frame). Keep/
    component differences vs q_semdedup are pure candidate-recall
    effects, certified here rather than hidden."""
    return similarity.semdedup_scaled(
        _dbscan_corpus(spark, sf_dir),
        n_centroids=8,
        lloyd_iters=2,
        tau_num=95,
        tau_den=100,
        block_bits=8,
        centroids=_semdedup_centroids(spark, sf_dir),
    )


def q_semdedup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Giant-cell guard LIVE, ORACLE-EXACT (round 11, r10 verdict order
    #1): same SemDeDup pipeline as q_semdedup but with max_cell_rows=60
    — the planted 650-vector corpus puts >60 vectors in its biggest
    k-means cell at every SF (the corpus slice is SF-invariant), so the
    guard AUTO-ESCALATES the candidate key to (cell, bucket) with
    guard_block_bits=12 and logs the offending cell. The DuckDB oracle
    replays the escalation decision itself (a scalar max-cell-count CTE
    gates the bucket condition), certifying the guard is a deterministic
    function of the data, not a driver-side whim. The default posture
    (q_semdedup, max_cell_rows=100k) never escalates at fixture scale;
    this key certifies what production gets on a skewed corpus."""
    return similarity.semdedup_scaled(
        _dbscan_corpus(spark, sf_dir),
        n_centroids=8,
        lloyd_iters=2,
        tau_num=95,
        tau_den=100,
        max_cell_rows=60,
        guard_block_bits=12,
        centroids=_semdedup_centroids(spark, sf_dir),
    )


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval diversity, ORACLE-EXACT: maximal-marginal-relevance
    greedy rerank of the top-20 candidates per query
    (similarity.mmr_rerank) — λ=1/2 makes the objective argmax the pure
    INTEGER rel − maxsim argmax; the whole greedy trajectory unrolls
    into a DuckDB CTE chain (the label-propagation precedent applied to
    serving-side slate construction)."""
    return similarity.mmr_rerank(load_table(spark, sf_dir, "embeddings"))


def _mmr_oracle_sql(*, n_queries: int = 8, n_candidates: int = 20, k: int = 5) -> str:
    """DuckDB replay of similarity.mmr_rerank: quantized integer dots,
    top-n candidate window, then one (max-sim, argmax) CTE pair per
    greedy round — selu{{r}} frames are MATERIALIZED because each is
    referenced by every later round (the BPE/LPA double-reference
    lesson)."""
    head = f"""
        WITH v AS (
          SELECT vec_id AS id,
                 list_transform(CAST(embedding AS DOUBLE[]),
                                x -> CAST(round(x * 10000) AS BIGINT)) AS v
          FROM embeddings
        ),
        q AS (SELECT id AS query_id, v AS qv FROM v ORDER BY id LIMIT {n_queries}),
        scored AS (
          SELECT q.query_id, v.id, v.v AS cv,
                 CAST(list_sum(list_transform(range(1, len(v.v) + 1),
                      i -> v.v[i] * q.qv[i])) AS BIGINT) AS rel
          FROM v JOIN q ON v.id <> q.query_id
        ),
        cand AS MATERIALIZED (
          SELECT query_id, id, cv, rel FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY rel DESC, id ASC) AS rn
            FROM scored
          ) WHERE rn <= {n_candidates}
        ),
        sims AS MATERIALIZED (
          SELECT a.query_id, a.id AS cid, b.id AS sid,
                 CAST(list_sum(list_transform(range(1, len(a.cv) + 1),
                      i -> a.cv[i] * b.cv[i])) AS BIGINT) AS sim
          FROM cand a JOIN cand b
            ON a.query_id = b.query_id AND a.id <> b.id
        ),
        selu1 AS MATERIALIZED (
          SELECT query_id, 1 AS pick, id AS doc_id, rel,
                 CAST(NULL AS BIGINT) AS maxsim
          FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY rel DESC, id ASC) AS rn
            FROM cand
          ) WHERE rn = 1
        )"""
    rounds = []
    for r in range(2, k + 1):
        rounds.append(f""",
        ms{r} AS (
          SELECT s.query_id, s.cid AS id, max(s.sim) AS maxsim
          FROM sims s JOIN selu{r - 1} p
            ON s.query_id = p.query_id AND s.sid = p.doc_id
          GROUP BY 1, 2
        ),
        sel{r} AS (
          SELECT query_id, {r} AS pick, id AS doc_id, rel, maxsim FROM (
            SELECT c.query_id, c.id, c.rel, m.maxsim,
                   row_number() OVER (PARTITION BY c.query_id
                     ORDER BY (m.maxsim - c.rel) ASC, c.id ASC) AS rn
            FROM cand c
            JOIN ms{r} m ON c.query_id = m.query_id AND c.id = m.id
            LEFT JOIN selu{r - 1} p
              ON c.query_id = p.query_id AND c.id = p.doc_id
            WHERE p.doc_id IS NULL
          ) WHERE rn = 1
        ),
        selu{r} AS MATERIALIZED (
          SELECT * FROM selu{r - 1} UNION ALL SELECT * FROM sel{r}
        )""")
    return (
        head
        + "".join(rounds)
        + f"""
        SELECT query_id, pick, doc_id, rel, maxsim
        FROM selu{k} ORDER BY query_id, pick
    """
    )


def q_conformal_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free forecast uncertainty, ORACLE-EXACT: split-
    conformal prediction intervals around the seasonal-naive forecast
    (analytics.conformal_intervals) — conformal quantile as an exact
    element selection at rank ⌈(n_cal+1)·0.9⌉ over 4-rounded residuals,
    base forecast as an exact day-index−7 grid join. Finite-sample
    ≥90% coverage guaranteed under exchangeability regardless of the
    forecaster."""
    return analytics.conformal_intervals(load_table(spark, sf_dir, "events"))


def q_audio_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B36 acoustic near-dup end-to-end (rows-only: Python-side decode
    by nature, the phash posture for audio): synthesize an envelope-
    modulated WAV per doc PLUS a half-volume copy of each of the first
    25 (planted "same recording, different level" twins), fingerprint
    with the energy-delta sign hash (volume-invariant by construction),
    and surface near-dup pairs via the SAME pigeonhole band join as the
    visual path. Every planted twin must land in the hamming=0 row —
    the invariance a raw byte/sample hash cannot give."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 200
    )
    pays = multimodal.synthesize_wav_envelope_payload(docs)
    twins = multimodal.synthesize_wav_envelope_payload(
        docs.filter(F.col("doc_id") < 25), gain=0.5
    ).select((F.col("doc_id") + 1_000_000).alias("doc_id"), "payload")
    fps = multimodal.audio_fingerprint(pays.unionByName(twins))
    pairs = multimodal.phash_near_dups(fps, max_hamming=2, hash_col="afp")
    return (
        pairs.withColumn(
            "planted", (F.col("id_b") - F.col("id_a") == 1_000_000).cast("long")
        )
        .groupBy("hamming")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("planted").alias("n_planted_recovered"),
        )
        .orderBy("hamming")
    )


def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution testing, ORACLE-EXACT: two-sample Kolmogorov–Smirnov
    per series between the unit%2 variants (analytics.ks_test) — the KS
    statistic's numerator max|c_a·n_b − c_b·n_a| is an exact BIGINT (no
    float ECDFs); only the reported ratio and the asymptotic α=0.05
    verdict touch IEEE. Completes the testing trio with q_ab_ztest
    (rates) and q_mann_whitney (location)."""
    return analytics.ks_test(load_table(spark, sf_dir, "events"))


def q_lead_lag_ccf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-series diagnostics, ORACLE-EXACT: lead–lag Pearson
    cross-correlation between the view and purchase daily series at
    lags ±7 (analytics.lead_lag_ccf) — all sufficient statistics exact
    BIGINTs over the bounded daily grid, one pinned IEEE r per lag.
    The cross-series companion of q_autocorr_lag7."""
    return analytics.lead_lag_ccf(load_table(spark, sf_dir, "events"))


def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score recalibration, ORACLE-EXACT: isotonic (PAV) fit of the
    purchase rate against value bins (analytics.isotonic_calibration) —
    pool-adjacent-violators in its closed minimax form, pure joins +
    min/max aggregations over the B-row bin frame; each pooled average
    is one IEEE division of two exact BIGINT prefix sums."""
    return analytics.isotonic_calibration(load_table(spark, sf_dir, "events"))


def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nonparametric testing, ORACLE-EXACT: Mann–Whitney U per series
    between the unit%2 variants (analytics.mann_whitney) — midranks
    carried DOUBLED so the U statistic is exact BIGINT; tie-corrected
    normal z as one pinned IEEE expression. The rank-based companion
    to q_ab_ztest."""
    return analytics.mann_whitney(load_table(spark, sf_dir, "events"))


def q_mutual_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-group alignment mining, ORACLE-EXACT: mutual-nearest-
    neighbor pairs between embedding label groups 0 and 1
    (similarity.mutual_nn_pairs) — the bitext-mining precision filter:
    a pair survives only if each side is the other's single best match
    (hub vectors lose their one-sided pairs). Integer-quantized BIGINT
    dots, argmax by (−cos, id) total order."""
    return similarity.mutual_nn_pairs(load_table(spark, sf_dir, "embeddings"))


def q_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical testing, ORACLE-EXACT: per-series two-proportion
    A/B z-test (analytics.ab_ztest) — deterministic unit%2 variants,
    success = value above the per-series lower-median, pooled z from
    exact BIGINT counts in one pinned IEEE expression; z² doubles as
    the 2×2 chi-square independence statistic."""
    return analytics.ab_ztest(load_table(spark, sf_dir, "events"))


def q_purged_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-leakage-safe CV, ORACLE-EXACT: purged walk-forward
    folds over the event calendar (curate.purged_time_folds) — k
    contiguous equi-count day folds; per evaluation fold each day is
    test / embargo (the horizon-purged strip before the test window) /
    train / future. The time-axis complement of
    q_leakage_safe_splits' near-dup-cluster hash splits."""
    return curate.purged_time_folds(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------


def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsupervised keyword extraction, ORACLE-EXACT: TextRank
    (Mihalcea & Tarau 2004) over the corpus word co-occurrence graph —
    adjacent length-≥4 tokens per document, symmetrized distinct edges,
    INTEGER-scaled PageRank (graph.pagerank_scaled, the
    q_pagerank_verified machinery pointed at a text graph), top 50 by
    (rank desc, word asc). The graph-centrality complement to the
    frequency-based q_tfidf_top_terms."""
    return text.textrank_keywords(load_table(spark, sf_dir, "documents"))


def _textrank_oracle_sql(
    *, n_iter: int = 10, scale: int = 10**12, min_len: int = 4, top_k: int = 50
) -> str:
    """DuckDB replay of text.textrank_keywords: same tokenize→filter→
    adjacency→symmetrize edge build, then the integer-scaled PageRank
    trajectory as an unrolled (contribs, ranks) CTE pair per round —
    the _pagerank_scaled_oracle_sql shape with the events graph swapped
    for the word co-occurrence graph."""
    rounds = []
    for r in range(1, n_iter + 1):
        rounds.append(f""",
        c{r} AS (
          SELECT e.dst AS id, CAST(sum(r.rank // od.out_deg) AS BIGINT) AS s
          FROM e JOIN od USING (src) JOIN r{r - 1} r ON r.id = e.src
          GROUP BY e.dst
        ),
        r{r} AS (
          SELECT nodes.id,
                 CAST((SELECT tp FROM consts)
                      + (85 * COALESCE(c{r}.s, 0)) // 100 AS BIGINT) AS rank
          FROM nodes LEFT JOIN c{r} ON nodes.id = c{r}.id
        )""")
    return f"""
        WITH tok AS (
          SELECT doc_id, list_filter({_TOKENS_SQL}, w -> len(w) >= {min_len}) AS t
          FROM documents
        ),
        tokpos AS (
          SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS w FROM tok
        ),
        adj AS (
          SELECT prev AS src, w AS dst FROM (
            SELECT doc_id, w,
                   lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
            FROM tokpos
          ) WHERE prev IS NOT NULL AND prev <> w
        ),
        e AS (
          SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM adj UNION ALL SELECT dst AS src, src AS dst FROM adj
          )
        ),
        nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        consts AS (
          SELECT CAST({scale} // count(*) AS BIGINT) AS r_init,
                 CAST({scale * 15} // (100 * count(*)) AS BIGINT) AS tp
          FROM nodes
        ),
        od AS (SELECT src, CAST(count(*) AS BIGINT) AS out_deg FROM e GROUP BY src),
        r0 AS (SELECT id, (SELECT r_init FROM consts) AS rank FROM nodes)
        {"".join(rounds)}
        SELECT id AS word, rank AS pagerank_scaled FROM r{n_iter}
        ORDER BY rank DESC, word LIMIT {top_k}
    """


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health datacard line, ORACLE-EXACT: Zipf power-law fit of
    the token frequency spectrum (text.zipf_fit) — log-log least squares
    of freq on rank (global_row_number two-phase ranking, no
    single-partition window), with vocab/token/hapax counts and the raw
    integer-ratio hapax rate. Heaps-law (q_vocab_growth)'s spectral
    sibling."""
    return text.zipf_fit(load_table(spark, sf_dir, "documents"))


def _zipf_oracle_sql() -> str:
    """DuckDB replay of text.zipf_fit (deferred build: _TOKENS_SQL is
    defined further down the module)."""
    return f"""
    WITH tf AS (
      SELECT token, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest({_TOKENS_SQL}) AS token FROM documents)
      GROUP BY token
    ),
    rk AS (
      SELECT freq, row_number() OVER (ORDER BY freq DESC, token) AS rn FROM tf
    ),
    pts AS (
      SELECT freq, log10(CAST(rn AS DOUBLE)) AS x, log10(CAST(freq AS DOUBLE)) AS y
      FROM rk
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_vocab,
             CAST(sum(freq) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
             sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx, sum(x * y) AS sxy
      FROM pts
    )
    SELECT n_vocab, n_tokens, n_hapax,
           CAST(n_hapax AS DOUBLE) / n_vocab AS hapax_rate,
           round((n_vocab * sxy - sx * sy) / NULLIF(n_vocab * sxx - sx * sx, 0), 6)
             AS zipf_slope,
           round((sy - ((n_vocab * sxy - sx * sy)
                        / NULLIF(n_vocab * sxx - sx * sx, 0)) * sx) / n_vocab, 6)
             AS zipf_intercept
    FROM s
    """


def q_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-feeding plan, ORACLE-EXACT: progressive-curriculum
    schedule table (curate.curriculum_schedule) — docs ranked easy→hard
    by token count (two-phase global numbering, no single-partition
    window), cut into 10 equal-count tiers by the exact integer NTILE
    formula, per-tier doc/token masses and the cumulative corpus
    fraction at each admission epoch. The loader-side sibling of
    q_pack_layout."""
    return curate.curriculum_schedule(load_table(spark, sf_dir, "documents"))


_CURRICULUM_ORACLE_SQL = """
    WITH toks AS (
      SELECT doc_id,
             CAST(COALESCE(
               len(list_filter(string_split(text, ' '), x -> x <> '')), 0
             ) AS BIGINT) AS n_tok
      FROM documents
    ),
    rk AS (
      SELECT n_tok,
             row_number() OVER (ORDER BY n_tok, doc_id) AS rn,
             count(*) OVER () AS n_total
      FROM toks
    ),
    tiered AS (SELECT n_tok, ((rn - 1) * 10) // n_total AS bucket FROM rk),
    per AS (
      SELECT bucket,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens,
             CAST(min(n_tok) AS BIGINT) AS min_tokens,
             CAST(max(n_tok) AS BIGINT) AS max_tokens
      FROM tiered GROUP BY bucket
    )
    SELECT bucket, n_docs, n_tokens, min_tokens, max_tokens,
           CAST(sum(n_tokens) OVER (ORDER BY bucket) AS BIGINT) AS cum_tokens,
           CAST(sum(n_tokens) OVER (ORDER BY bucket) AS DOUBLE)
             / CAST(sum(n_tokens) OVER () AS DOUBLE) AS cum_token_frac
    FROM per ORDER BY bucket
"""


def q_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B33 steady-state near-dedup with STATUSES, ORACLE-BACKED (round
    11): dedup.minhash_dedup_incremental — the MinHash twin of
    q_semdedup_incremental — over the portable hash family: new batch
    (doc_id ≥ 250) probed against the corpus index (doc_id < 250),
    corpus matches → corpus_dup, surviving within-batch near-dup groups
    collapse via CC → min-id kept / batch_dup. DuckDB replays signature,
    banding, both bucket joins, agreement, and the reach-CC
    integer-exactly. This operator is also the per-batch body of
    streaming.stream_minhash_dedup (parity test in test_streaming)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_dedup_incremental(
        docs.filter(F.col("doc_id") >= 250),
        docs.filter(F.col("doc_id") < 250),
    )


def q_semantic_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level DECONTAMINATION, ORACLE-EXACT (round 11):
    similarity.semantic_contamination — corpus (vec_id < 400) flagged
    against an eval set of 50 held-out vectors (400–449) plus planted
    perturbed copies of corpus seeds < 20 (the leakage to catch: the
    planted probes must flag their corpus seeds contaminated). Cells
    trained on the corpus only; eval probes its n_probe=4 nearest cells
    (IVF serving shape — the corpus never shuffles); exact BIGINT ε-test
    at tau=0.95. DuckDB replays the k-means trajectory, the probe
    ranking, and the ε-test bit-exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") < 400)
    held_out = emb.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < 450)).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    seeds = emb.filter(F.col("vec_id") < 20)
    plants = seeds.select(
        "vec_id",
        "embedding",
        F.explode(F.sequence(F.lit(1), F.lit(2))).alias("c"),
    ).select(
        (F.col("vec_id") + F.col("c") * 1_000_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x.cast("double")
            + F.when(
                i == F.pmod(F.col("vec_id"), F.lit(64)), 0.1 * F.col("c")
            ).otherwise(F.lit(0.0)),
        ).alias("embedding"),
    )
    return similarity.semantic_contamination(
        corpus,
        held_out.unionByName(plants),
        n_centroids=8,
        lloyd_iters=2,
        n_probe=4,
    )


def q_phash_incremental_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B36 visual steady-state dedup, ORACLE-BACKED (round 11):
    multimodal.phash_dedup_incremental over PLANTED 64-bit hashes (the
    decode step is Python-side by design; this key certifies the
    banding + Hamming + CC semantics with a deterministic md5-derived
    hash fixture both engines can build). Corpus = H(doc_id) for
    doc_id < 150; new batch = fresh H(150..199) + bit-flipped corpus
    twins (^3, Hamming 2 → corpus_dup) + bit-flipped fresh twins (^1 →
    within-batch pairs). The DuckDB oracle BRUTE-FORCES the pair search
    (no banding), so a pigeonhole band that ever dropped a qualifying
    pair would hash-mismatch here — the no-false-negative claim
    certified cross-engine, not just unit-tested."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 15),
        16,
        10,
    ).cast("long")
    corpus_h = docs.filter(F.col("doc_id") < 150).select("doc_id", h.alias("ahash"))
    fresh = docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 200)).select(
        "doc_id", h.alias("ahash")
    )
    twins_c = docs.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        h.bitwiseXOR(F.lit(3)).alias("ahash"),
    )
    twins_b = docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 160)).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        h.bitwiseXOR(F.lit(1)).alias("ahash"),
    )
    return multimodal.phash_dedup_incremental(
        fresh.unionByName(twins_c).unionByName(twins_b), corpus_h
    )


def _phash_incr_oracle_sql(*, max_hamming: int = 4) -> str:
    """DuckDB replay of q_phash_incremental_verified — deliberately
    BRUTE-FORCE (every new×corpus and new×new pair Hamming-tested, no
    pigeonhole banding), so the value hash certifies the Spark banding
    found EXACTLY the qualifying pairs."""
    hh = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
    return f"""
        WITH RECURSIVE newh AS (
          SELECT doc_id, {hh} AS h
          FROM documents WHERE doc_id >= 150 AND doc_id < 200
          UNION ALL
          SELECT doc_id + 1000000, xor({hh}, 3)
          FROM documents WHERE doc_id < 25
          UNION ALL
          SELECT doc_id + 2000000, xor({hh}, 1)
          FROM documents WHERE doc_id >= 150 AND doc_id < 160
        ),
        ch AS (
          SELECT doc_id, {hh} AS h FROM documents WHERE doc_id < 150
        ),
        cdup AS MATERIALIZED (
          SELECT DISTINCT n.doc_id FROM newh n JOIN ch c
            ON bit_count(xor(n.h, c.h)) <= {max_hamming}
        ),
        sb AS (
          SELECT * FROM newh
          WHERE doc_id NOT IN (SELECT doc_id FROM cdup)
        ),
        prs AS MATERIALIZED (
          SELECT a.doc_id AS ia, b.doc_id AS ib
          FROM sb a JOIN sb b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.h, b.h)) <= {max_hamming}
        ),
        e2 AS (SELECT ia AS a, ib AS b FROM prs
               UNION SELECT ib, ia FROM prs),
        reach(a, b) AS (
          SELECT a, b FROM e2
          UNION
          SELECT r.a, e3.b FROM reach r JOIN e2 e3 ON r.b = e3.a
        ),
        comp AS (SELECT a AS id, least(a, min(b)) AS component
                 FROM reach GROUP BY a)
        SELECT n.doc_id,
               CAST(CASE WHEN n.doc_id IN (SELECT doc_id FROM cdup) THEN n.doc_id
                         ELSE COALESCE(c.component, n.doc_id) END AS BIGINT)
                 AS component,
               CASE WHEN n.doc_id IN (SELECT doc_id FROM cdup) THEN 'corpus_dup'
                    WHEN COALESCE(c.component, n.doc_id) = n.doc_id THEN 'kept'
                    ELSE 'batch_dup' END AS status
        FROM newh n LEFT JOIN comp c ON n.doc_id = c.id
        ORDER BY doc_id
    """


def q_domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excess-loss domain reweighting, ORACLE-EXACT (round 11):
    curate.domain_reweight — the DoReMi-shaped multiplicative-weights
    mixture tilt over the documents table's source domains, token count
    as the loss proxy. Every aggregate is a BIGINT sum and every
    mean/excess uses truncate-toward-zero division, so the weight
    trajectory replays exactly in DuckDB; only the final normalized
    fractions are floats."""
    docs = load_table(spark, sf_dir, "documents")
    return curate.domain_reweight(docs)


def _domain_reweight_oracle_sql(
    *, eta_num: int = 1, eta_den: int = 2, rounds: int = 4, scale: int = 10**6
) -> str:
    """DuckDB replay of curate.domain_reweight (same integer algebra,
    ``//`` for Spark's ``div``)."""
    factor = f"greatest({eta_den * scale} + {eta_num} * excess_ppm, 0)"
    w_sql = str(scale)
    for _ in range(rounds):
        w_sql = f"(({w_sql}) * ({factor}) // {eta_den * scale})"
    return f"""
        WITH prof AS (
          SELECT source AS domain,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(len({_TOKENS_SQL})) AS BIGINT) AS sum_loss
          FROM documents GROUP BY source
        ),
        tot AS (
          SELECT CAST(sum(sum_loss) AS BIGINT) AS ts,
                 CAST(sum(n_docs) AS BIGINT) AS tn
          FROM prof
        ),
        p2 AS (
          SELECT domain, n_docs,
                 sum_loss // n_docs AS mean_loss,
                 ((sum_loss // n_docs) - (t.ts // t.tn)) * {scale}
                   // greatest(t.ts // t.tn, 1) AS excess_ppm
          FROM prof, tot t
        ),
        p3 AS (
          SELECT domain, n_docs, mean_loss, excess_ppm,
                 CAST({w_sql} AS BIGINT) AS weight_raw
          FROM p2
        )
        SELECT domain, n_docs, mean_loss, excess_ppm, weight_raw,
               round(CAST(weight_raw AS DOUBLE)
                     / (SELECT sum(weight_raw) FROM p3), 6) AS weight_frac
        FROM p3 ORDER BY domain
    """


def _minhash_incr_status_oracle_sql(
    *, n_hashes: int = 32, threshold: float = 0.5, split_id: int = 250
) -> str:
    """DuckDB replay of dedup.minhash_dedup_incremental (portable): the
    shared banded CTE, the cross-frame corpus_dup probe, the survivor
    self-join pairs, and the reach-CC component/status verdict."""
    agree = (
        f"CAST(len(list_filter(range(1, {n_hashes + 1}),"
        f" i -> a.sig[i] = b.sig[i])) AS DOUBLE) / {n_hashes} >= {threshold}"
    )
    return _portable_banded_cte(n_hashes=n_hashes).replace(
        "WITH ", "WITH RECURSIVE ", 1
    ) + f""",
        cdup AS MATERIALIZED (
          SELECT DISTINCT a.doc_id AS id
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bucket = b.bucket
          WHERE a.doc_id >= {split_id} AND b.doc_id < {split_id} AND {agree}
        ),
        sb AS (
          SELECT * FROM banded
          WHERE doc_id >= {split_id} AND doc_id NOT IN (SELECT id FROM cdup)
        ),
        prs AS MATERIALIZED (
          SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
          FROM sb a JOIN sb b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
          WHERE {agree}
        ),
        e2 AS (SELECT ia AS a, ib AS b FROM prs
               UNION SELECT ib, ia FROM prs),
        reach(a, b) AS (
          SELECT a, b FROM e2
          UNION
          SELECT r.a, e3.b FROM reach r JOIN e2 e3 ON r.b = e3.a
        ),
        comp AS (SELECT a AS id, least(a, min(b)) AS component
                 FROM reach GROUP BY a)
        SELECT d.doc_id,
               CAST(CASE WHEN d.doc_id IN (SELECT id FROM cdup) THEN d.doc_id
                         ELSE COALESCE(c.component, d.doc_id) END AS BIGINT)
                 AS component,
               CASE WHEN d.doc_id IN (SELECT id FROM cdup) THEN 'corpus_dup'
                    WHEN COALESCE(c.component, d.doc_id) = d.doc_id THEN 'kept'
                    ELSE 'batch_dup' END AS status
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
        WHERE d.doc_id >= {split_id}
        ORDER BY doc_id
    """


def _semantic_contam_oracle_sql(
    *,
    n_centroids: int = 8,
    lloyd_iters: int = 2,
    n_probe: int = 4,
    tau_num: int = 95,
    tau_den: int = 100,
    scale: int = 10**3,
) -> str:
    """DuckDB replay of similarity.semantic_contamination: corpus-only
    k-means CTE chain, n_probe literal-ranked cell probing of the eval
    side (row_number over (distance, cell) — the array_sort struct
    ordering), the BIGINT ε-test, and the per-corpus-vector verdict."""

    def dist(a: str, b: str) -> str:
        return (
            f"(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
            f" + list_dot_product({b}, {b}))"
        )

    rounds = []
    for r in range(1, lloyd_iters + 1):
        rounds.append(f""",
        a{r} AS (
          SELECT id, v, cell FROM (
            SELECT v.id, v.v, c.cell,
                   row_number() OVER (PARTITION BY v.id
                     ORDER BY {dist('v.v', 'c.c')}, c.cell) AS rn
            FROM vc v CROSS JOIN c{r - 1} c
          ) WHERE rn = 1
        ),
        c{r} AS (
          SELECT cell, list(d ORDER BY pos) AS c FROM (
            SELECT cell, pos, CAST(CAST(sum(val) AS BIGINT) // count(*) AS DOUBLE) AS d
            FROM (
              SELECT a.cell,
                     generate_subscripts(a.v, 1) AS pos,
                     unnest(a.v) AS val
              FROM a{r} a
            ) GROUP BY cell, pos
          ) GROUP BY cell
        )""")
    idot = (
        "CAST(list_sum(list_transform(range(1, len(a.v) + 1),"
        " i -> a.v[i] * b.v[i])) AS BIGINT)"
    )
    eps = (
        f"{idot} >= 0 AND {idot} * {idot} * {tau_den * tau_den}"
        f" >= {tau_num * tau_num} * a.n2 * b.n2"
    )
    return f"""
        WITH RECURSIVE vc AS (
          SELECT vec_id AS id,
                 list_transform(CAST(embedding AS DOUBLE[]),
                                x -> round(x * {scale})) AS v
          FROM embeddings WHERE vec_id < 400
        ),
        c0 AS (
          SELECT cell, c FROM (
            SELECT row_number() OVER (ORDER BY id) - 1 AS cell, v AS c FROM vc
          ) WHERE cell < {n_centroids}
        ){"".join(rounds)},
        finc AS (
          SELECT id, v, cell,
                 CAST(list_sum(list_transform(range(1, len(v) + 1),
                      i -> v[i] * v[i])) AS BIGINT) AS n2
          FROM (
            SELECT v.id, v.v, c.cell,
                   row_number() OVER (PARTITION BY v.id
                     ORDER BY {dist('v.v', 'c.c')}, c.cell) AS rn
            FROM vc v CROSS JOIN c{lloyd_iters} c
          ) WHERE rn = 1
        ),
        rawe AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
          FROM embeddings WHERE vec_id >= 400 AND vec_id < 450
        ),
        seedr AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
          FROM embeddings WHERE vec_id < 20
        ),
        plant AS (
          SELECT r.vec_id + c.c * 1000000 AS vec_id,
                 list_transform(range(1, len(r.emb) + 1),
                   i -> r.emb[i] + CASE WHEN i - 1 = r.vec_id % 64
                                        THEN 0.1 * c.c ELSE 0.0 END) AS emb
          FROM seedr r CROSS JOIN (SELECT unnest(range(1, 3)) AS c) c
        ),
        ve AS (
          SELECT vec_id AS id, list_transform(emb, x -> round(x * {scale})) AS v
          FROM (SELECT * FROM rawe UNION ALL SELECT * FROM plant)
        ),
        pe AS (
          SELECT id, v, n2, cell FROM (
            SELECT v.id, v.v,
                   CAST(list_sum(list_transform(range(1, len(v.v) + 1),
                        i -> v.v[i] * v.v[i])) AS BIGINT) AS n2,
                   c.cell,
                   row_number() OVER (PARTITION BY v.id
                     ORDER BY {dist('v.v', 'c.c')}, c.cell) AS rn
            FROM ve v CROSS JOIN c{lloyd_iters} c
          ) WHERE rn <= {n_probe}
        ),
        hits AS (
          SELECT b.id AS id, count(*) AS eval_hits, min(a.id) AS first_eval
          FROM pe a JOIN finc b ON a.cell = b.cell
          WHERE {eps}
          GROUP BY b.id
        )
        SELECT f.id AS vec_id,
               CASE WHEN h.id IS NULL THEN 'clean'
                    ELSE 'contaminated' END AS status,
               CAST(COALESCE(h.eval_hits, 0) AS BIGINT) AS eval_hits,
               CAST(COALESCE(h.first_eval, -1) AS BIGINT) AS first_eval
        FROM finc f LEFT JOIN hits h ON f.id = h.id
        ORDER BY vec_id
    """


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # Ordered so keys WITHOUT a driver CORRECTNESS row come FIRST: the
        # driver's ~50-row window per round spends its budget on
        # never-evaluated keys. Driver union r1–r6 covers 272/281 declared
        # keys with zero failures; the 9 keys added after the round-6
        # window lead here (7 oracle-backed, then the 2 rows-only-by-design
        # decode keys), then every round-7 addition, then the already-green
        # keys close the dict.
        # ---- round-11 additions (never sampled) ----
        "q_minhash_incremental": q_minhash_incremental,
        "q_semantic_contamination": q_semantic_contamination,
        "q_phash_incremental_verified": q_phash_incremental_verified,
        "q_domain_reweight": q_domain_reweight,
        # ---- round-9 additions (never sampled) ----
        "q_textrank_keywords": q_textrank_keywords,
        "q_zipf_fit": q_zipf_fit,
        "q_curriculum_schedule": q_curriculum_schedule,
        "q_phash_dedup_verified": q_phash_dedup_verified,
        "q_audio_fp_dedup_verified": q_audio_fp_dedup_verified,
        "q_multimodal_decode_verified": q_multimodal_decode_verified,
        # ---- round-8 additions ----
        "q_pq_rerank_verified": q_pq_rerank_verified,
        # rows-only by design: Python-side JPEG decode; stats_agree column
        # certifies lossy cross-format parity in-row
        "q_multimodal_jpeg": q_multimodal_jpeg,
        # ---- round-7-window keys (driver union green through r7) ----
        "q_conformal_intervals": q_conformal_intervals,
        "q_mmr_rerank": q_mmr_rerank,
        "q_dbscan_clusters": q_dbscan_clusters,
        "q_target_encoding": q_target_encoding,
        "q_woe_iv": q_woe_iv,
        "q_cuped": q_cuped,
        "q_mann_kendall": q_mann_kendall,
        # rows-only by design (Python-side audio/image decode)
        "q_audio_fingerprint_dedup": q_audio_fingerprint_dedup,
        "q_phash_dedup": q_phash_dedup,
        # ---- round-7 additions (oracle-backed, never sampled) ----
        "q_dbscan_lsh": q_dbscan_lsh,
        "q_semdedup": q_semdedup,
        "q_semdedup_auto": q_semdedup_auto,
        "q_semdedup_blocked": q_semdedup_blocked,
        "q_semdedup_incremental": q_semdedup_incremental,
        "q_dedup_survivors_quality": q_dedup_survivors_quality,
        "q_retention_cohorts": q_retention_cohorts,
        "q_pack_layout": q_pack_layout,
        "q_ngram_novelty": q_ngram_novelty,
        "q_auc_scores": q_auc_scores,
        "q_chi_square": q_chi_square,
        "q_quota_split": q_quota_split,
        "q_funnel_strict": q_funnel_strict,
        "q_triangle_degree": q_triangle_degree,
        "q_calibration_bins": q_calibration_bins,
        "q_dominant_direction": q_dominant_direction,
        "q_anisotropy": q_anisotropy,
        "q_rolling_median": q_rolling_median,
        "q_activity_gini": q_activity_gini,
        "q_assortativity": q_assortativity,
        "q_changepoint": q_changepoint,
        "q_source_hhi": q_source_hhi,
        "q_pareto_front": q_pareto_front,
        "q_bootstrap_ci": q_bootstrap_ci,
        # rows-only by design (Python-side PNG decode; stats_agree column
        # certifies cross-format parity in-row)
        "q_multimodal_png": q_multimodal_png,
        # ---- keys below all have a green driver row in r1–r6 ----
        "q_sql_api_report": q_sql_api_report,
        "q_source_novelty": q_source_novelty,
        "q_autocorr_lag7": q_autocorr_lag7,
        "q_corpus_datacard": q_corpus_datacard,
        "q_ivf_topk_verified": q_ivf_topk_verified,
        "q_ivf_filtered_verified": q_ivf_filtered_verified,
        "q_pq_topk_verified": q_pq_topk_verified,
        # rows-only-by-design backlog
        "q_multimodal_audio": q_multimodal_audio,
        # rows-only by design (Python-side classification); the healthy
        # state is a fixed 4-row diagonal — misclassification ADDS rows
        "q_multimodal_reject_cert": q_multimodal_reject_cert,
        "q_incremental_near_dedup": q_incremental_near_dedup,
        "q_approx_percentiles": q_approx_percentiles,
        "q_simhash_near_dup": q_simhash_near_dup,
        "q_winnow_dedup": q_winnow_dedup,
        # round-6 additions (oracle-backed, no driver row yet)
        "q_contrastive_pairs_exact": q_contrastive_pairs_exact,
        "q_padding_waste": q_padding_waste,
        "q_dedup_threshold_sweep": q_dedup_threshold_sweep,
        "q_embedding_outliers": q_embedding_outliers,
        "q_source_overlap": q_source_overlap,
        "q_range_partition_plan": q_range_partition_plan,
        "q_zorder_key": q_zorder_key,
        "q_export_manifest": q_export_manifest,
        "q_expectation_report": q_expectation_report,
        "q_pii_report": q_pii_report,
        "q_water_fill_caps": q_water_fill_caps,
        "q_vocab_growth": q_vocab_growth,
        "q_kmv_join_estimate": q_kmv_join_estimate,
        "q_holt_forecast": q_holt_forecast,
        "q_holt_damped": q_holt_damped,
        "q_label_propagation": q_label_propagation,
        "q_theilsen_trend": q_theilsen_trend,
        "q_fd_audit": q_fd_audit,
        "q_quantile_normalize": q_quantile_normalize,
        "q_bm25_prf": q_bm25_prf,
        "q_bm25_snippets": q_bm25_snippets,
        "q_label_separation": q_label_separation,
        "q_lsh_tuning": q_lsh_tuning,
        "q_corpus_diff": q_corpus_diff,
        "q_survival_curve": q_survival_curve,
        "q_lsh_eval": q_lsh_eval,
        # round-6 second-session additions (oracle-backed, no driver row yet)
        "q_passjoin_exact": q_passjoin_exact,
        "q_passjoin_codepoint": q_passjoin_codepoint,
        "q_cusum_drift": q_cusum_drift,
        "q_interarrival_stats": q_interarrival_stats,
        "q_k_anonymity": q_k_anonymity,
        "q_key_skew_audit": q_key_skew_audit,
        "q_mutual_nn": q_mutual_nn,
        "q_ab_ztest": q_ab_ztest,
        "q_purged_folds": q_purged_folds,
        "q_isotonic_calibration": q_isotonic_calibration,
        "q_mann_whitney": q_mann_whitney,
        "q_lead_lag_ccf": q_lead_lag_ccf,
        "q_ks_test": q_ks_test,
        "q_soft_dedup_weights": q_soft_dedup_weights,
        "q_leakage_safe_splits": q_leakage_safe_splits,
        "q_bm25_topk": q_bm25_topk,
        "q_bm25_percolate": q_bm25_percolate,
        "q_hybrid_rrf": q_hybrid_rrf,
        "q_bpe_pair_stats": q_bpe_pair_stats,
        "q_bpe_merges": q_bpe_merges,
        "q_bpe_encode": q_bpe_encode,
        "q_fuzzy_prefix_join": q_fuzzy_prefix_join,
        "q_fuzzy_sorted_neighborhood": q_fuzzy_sorted_neighborhood,
        "q_trend_fit": q_trend_fit,
        "q_rendezvous_shard": q_rendezvous_shard,
        "q_contrastive_pairs": q_contrastive_pairs,
        "q_seasonal_profile": q_seasonal_profile,
        "q_ewma_chart": q_ewma_chart,
        "q_benford_audit": q_benford_audit,
        "q_referential_audit": q_referential_audit,
        "q_rollup_partials": q_rollup_partials,
        "q_containment_pairs": q_containment_pairs,
        "q_association_rules": q_association_rules,
        "q_activity_streaks": q_activity_streaks,
        "q_retrieval_ndcg": q_retrieval_ndcg,
        "q_retrieval_metrics": q_retrieval_metrics,
        "q_winsorized_stats": q_winsorized_stats,
        "q_modality_coverage": q_modality_coverage,
        "q_near_dup_rate_by_source": q_near_dup_rate_by_source,
        "q_lang_confusion": q_lang_confusion,
        "q_filter_agreement": q_filter_agreement,
        "q_mom_change": q_mom_change,
        "q_token_share_by_source": q_token_share_by_source,
        # round-5 additions (oracle-backed, no driver row yet)
        "q_pagerank_verified": q_pagerank_verified,
        "q_normalized_dedup": q_normalized_dedup,
        "q_dup_span_plan": q_dup_span_plan,
        "q_ring_shard": q_ring_shard,
        "q_temperature_mixture": q_temperature_mixture,
        "q_tokenizer_fertility": q_tokenizer_fertility,
        "q_lm_quality_buckets": q_lm_quality_buckets,
        "q_dedup_rewrite": q_dedup_rewrite,
        "q_hard_negatives": q_hard_negatives,
        "q_truncated_dim_recall": q_truncated_dim_recall,
        "q_kmv_distinct": q_kmv_distinct,
        "q_bloom_audit": q_bloom_audit,
        "q_cdc_apply": q_cdc_apply,
        "q_neighbor_jaccard": q_neighbor_jaccard,
        "q_seasonal_outliers": q_seasonal_outliers,
        "q_kmv_rollup": q_kmv_rollup,
        "q_pretraining_mix": q_pretraining_mix,
        "q_histogram_percentiles": q_histogram_percentiles,
        "q_ngram_dup_census": q_ngram_dup_census,
        "q_keyword_percolate": q_keyword_percolate,
        "q_cms_frequency": q_cms_frequency,
        "q_classifier_quality": q_classifier_quality,
        "q_token_budget_sample": q_token_budget_sample,
        "q_semantic_dedup": q_semantic_dedup,
        "q_intra_doc_dedup": q_intra_doc_dedup,
        "q_distribution_drift": q_distribution_drift,
        "q_session_paths": q_session_paths,
        "q_hierarchy_shares": q_hierarchy_shares,
        "q_new_vs_returning": q_new_vs_returning,
        "q_type_cooccurrence": q_type_cooccurrence,
        "q_price_deciles": q_price_deciles,
        "q_value_histogram": q_value_histogram,
        "q_char_entropy": q_char_entropy,
        "q_top_user_per_type": q_top_user_per_type,
        "q_daily_spine": q_daily_spine,
        "q_pii_redact": q_pii_redact,
        "q_corr_stats": q_corr_stats,
        "q_hash_sample": q_hash_sample,
        "q_stratified_sample": q_stratified_sample,
        "q_intersect": q_intersect,
        "q_except": q_except,
        "q_supplier_volume": q_supplier_volume,
        "q_sessionize": q_sessionize,
        "q_percentiles": q_percentiles,
        "q_cube": q_cube,
        "q_date_funcs": q_date_funcs,
        "q_map_funcs": q_map_funcs,
        "q_salted_agg": q_salted_agg,
        "q_ngram_jaccard": q_ngram_jaccard,
        "q_dedup_survivors": q_dedup_survivors,
        "q_embed_near_dup": q_embed_near_dup,
        "q_embed_label_centroids": q_embed_label_centroids,
        "q_embedding_norm_stats": q_embedding_norm_stats,
        "q_vector_normalize": q_vector_normalize,
        "q_quantize_int8": q_quantize_int8,
        "q_token_freq": q_token_freq,
        "q_collocations": q_collocations,
        "q_vocab_coverage": q_vocab_coverage,
        "q_lang_stats": q_lang_stats,
        "q_quality_score": q_quality_score,
        "q_quality_filter": q_quality_filter,
        "q_contamination": q_contamination,
        "q_chunk_documents": q_chunk_documents,
        "q_pack_documents": q_pack_documents,
        "q_curated_docs": q_curated_docs,
        "q_curation_funnel": q_curation_funnel,
        "q_doc_fingerprint": q_doc_fingerprint,
        "q_gopher_rules": q_gopher_rules,
        "q_nb_quality_score": q_nb_quality_score,
        "q_bloom_dedup": q_bloom_dedup,
        "q_bloom_merge": q_bloom_merge,
        "q_interpolate_gaps": q_interpolate_gaps,
        "q_minhash_jaccard_diag": q_minhash_jaccard_diag,
        "q_quality_calibrated": q_quality_calibrated,
        "q_lsh_topk_verified": q_lsh_topk_verified,
        "q_minhash_dedup_verified": q_minhash_dedup_verified,
        "q_incremental_near_dedup_verified": q_incremental_near_dedup_verified,
        "q_winnow_dedup_verified": q_winnow_dedup_verified,
        "q_simhash_near_dup_verified": q_simhash_near_dup_verified,
        "q_dsir_importance": q_dsir_importance,
        "q_mixture_resample": q_mixture_resample,
        "q_cosine_topk_chunked": q_cosine_topk_chunked,
        "q_chunk_dup_census": q_chunk_dup_census,
        "q_chunk_overlap_ratio": q_chunk_overlap_ratio,
        "q_curated_docs_v2": q_curated_docs_v2,
        "q_multimodal_decode": q_multimodal_decode,
        "q_pq_topk": q_pq_topk,
        "q_pq_rerank": q_pq_rerank,
        "q_kcore": q_kcore,
        "q_pandas_udf_zscore": q_pandas_udf_zscore,
        "q_udtf_spans": q_udtf_spans,
        "q_split_assign": q_split_assign,
        "q_sliding_window_counts": q_sliding_window_counts,
        "q_global_row_number": q_global_row_number,
        "q_lm_unigram_score": q_lm_unigram_score,
        "q_lm_bigram_score": q_lm_bigram_score,
        "q_incremental_dedup": q_incremental_dedup,
        "q_repetition_ratio": q_repetition_ratio,
        "q_above_customer_avg": q_above_customer_avg,
        "q_order_priority": q_order_priority,
        "q_min_cost_supplier": q_min_cost_supplier,
        "q_local_supplier_volume": q_local_supplier_volume,
        "q_forecast_revenue": q_forecast_revenue,
        "q_product_profit": q_product_profit,
        "q_important_parts": q_important_parts,
        "q_late_shipment_priority": q_late_shipment_priority,
        "q_supplier_part_counts": q_supplier_part_counts,
        "q_promo_suppliers": q_promo_suppliers,
        "q_customer_distribution": q_customer_distribution,
        "q_promo_revenue": q_promo_revenue,
        "q_top_supplier": q_top_supplier,
        "q_small_qty_revenue": q_small_qty_revenue,
        "q_large_orders": q_large_orders,
        "q_disjunctive_join": q_disjunctive_join,
        "q_rich_inactive": q_rich_inactive,
        "q_returned_items": q_returned_items,
        "q_bfs_distances": q_bfs_distances,
        "q_variant_props": q_variant_props,
        "q_rolling_wau": q_rolling_wau,
        "q_lone_returner": q_lone_returner,
        "q_time_to_convert": q_time_to_convert,
        "q_triangle_count": q_triangle_count,
        "q_weighted_sample": q_weighted_sample,
        "q_nation_trade_flow": q_nation_trade_flow,
        "q_time_window": q_time_window,
        "q_normalize_events": q_normalize_events,
        "q_enrich_events": q_enrich_events,
        "q_dedup_events": q_dedup_events,
        "q_json_extract": q_json_extract,
        "q_status_classify": q_status_classify,
        "q_count_per_window": q_count_per_window,
        "q_nodes_action": q_nodes_action,
        "q_edges_applied_on": q_edges_applied_on,
        "q_graph_build_summary": q_graph_build_summary,
        "q_cypher_rows": q_cypher_rows,
        "q_subject_status_sets": q_subject_status_sets,
        "q_join_2hop": q_join_2hop,
        "q_join_star": q_join_star,
        "q_semi_join": q_semi_join,
        "q_left_join_zero_actions": q_left_join_zero_actions,
        "q_agg_by_status": q_agg_by_status,
        "q_count_distinct": q_count_distinct,
        "q_rollup_region_nation": q_rollup_region_nation,
        "q_grouping_sets": q_grouping_sets,
        "q_topk_resources": q_topk_resources,
        "q_window_rank": q_window_rank,
        "q_window_lag_lead": q_window_lag_lead,
        "q_cohort_retention": q_cohort_retention,
        "q_running_sum": q_running_sum,
        "q_rolling_7d": q_rolling_7d,
        "q_latest_by_key": q_latest_by_key,
        "q_scd2_intervals": q_scd2_intervals,
        "q_global_sort": q_global_sort,
        "q_union": q_union,
        "q_asof_join": q_asof_join,
        "q_asof_join_ranged": q_asof_join_ranged,
        "q_range_join_binned": q_range_join_binned,
        "q_scalar_funcs": q_scalar_funcs,
        "q_pricing_summary": q_pricing_summary,
        "q_shipping_priority": q_shipping_priority,
        "q_market_share": q_market_share,
        "q_doc_dedup_exact": q_doc_dedup_exact,
        "q_dup_rate_by_source": q_dup_rate_by_source,
        "q_minhash_dedup": q_minhash_dedup,
        "q_dedup_clusters": q_dedup_clusters,
        "q_cosine_topk": q_cosine_topk,
        "q_lsh_topk": q_lsh_topk,
        "q_ivf_topk": q_ivf_topk,
        "q_token_counts": q_token_counts,
        "q_lang_id": q_lang_id,
        "q_tfidf_top_terms": q_tfidf_top_terms,
        "q_array_ops": q_array_ops,
        "q_binary_meta": q_binary_meta,
        "q_multimodal_features": q_multimodal_features,
        "q_nodes_resource": q_nodes_resource,
        "q_degree_distribution": q_degree_distribution,
        "q_subject_reach": q_subject_reach,
        "q_pagerank": q_pagerank,
        "q_edges_performed_by": q_edges_performed_by,
        "q_nodes_subject": q_nodes_subject,
        "q_nodes_tenant": q_nodes_tenant,
        "q_edges_member_of": q_edges_member_of,
        "q_edges_with_status": q_edges_with_status,
        "q_edges_located_at": q_edges_located_at,
        "q_graph_walk": q_graph_walk,
        "q_anti_join": q_anti_join,
        "q_approx_count_distinct": q_approx_count_distinct,
        "q_mad_outliers": q_mad_outliers,
        "q_profile_orders": q_profile_orders,
        "q_window_first_last": q_window_first_last,
        "q_window_distribution": q_window_distribution,
        "q_pivot_status": q_pivot_status,
        "q_unpivot": q_unpivot,
        "q_funnel": q_funnel,
        "q_event_transitions": q_event_transitions,
        "q_hll_rollup": q_hll_rollup,
    }


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------

# DuckDB mirror of normalize.events_as_traces + normalize.normalize_traces —
# keep in lockstep with those functions.
EVENTS_AS_TRACES_SQL = r"""
  traces AS (
    SELECT
      CAST(event_id AS VARCHAR) AS trace_id,
      'cts' AS service_type,
      event_type AS trace_type,
      'res' AS resource_type,
      CASE WHEN event_type = 'view' THEN '' ELSE event_type END AS trace_name,
      'r' || CAST(user_id AS VARCHAR) AS resource_id,
      CASE WHEN value < 100 THEN '' ELSE 'res-' || CAST(user_id AS VARCHAR) END AS resource_name,
      epoch_ms(ts) AS t_ms,
      CASE WHEN value < 100 THEN 'normal' WHEN value < 300 THEN 'warning' ELSE 'incident' END AS trace_status,
      json_extract_string(props, '$.k') AS code
    FROM events
  ),
  norm AS (
    SELECT
      trace_id AS event_id,
      'https://cts.example' AS source,
      rtrim(lower(concat_ws('.', service_type, trace_type, resource_type, trace_name)), '.') AS type,
      CASE WHEN regexp_replace(resource_name, '^\s+|\s+$', '', 'g') <> '' THEN resource_name ELSE resource_id END AS subject,
      epoch_ms(t_ms) AS event_time,
      trace_status AS status,
      code,
      resource_id,
      'eu-de' AS region,
      'domain-1' AS domain,
      'tenant-1' AS tenant
    FROM traces
  )
"""


# shared DuckDB fragments for the document/text oracles — keep in lockstep
# with operators/text.py (tokens / LANG_STOPWORDS)
_TOKENS_SQL = "list_filter(string_split(text, ' '), x -> x <> '')"

_COSINE_TOPK_SQL = """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    q AS (SELECT * FROM v WHERE vec_id < 10),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
             round(list_dot_product(c.e, q.e)
                   / (sqrt(list_dot_product(c.e, c.e)) * sqrt(list_dot_product(q.e, q.e))), 6) AS cosine
      FROM v c JOIN q ON c.vec_id <> q.vec_id
    )
    SELECT query_id, corpus_id, cosine, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rnk
      FROM scored
    ) WHERE rnk <= 5
"""
_EN_STOPWORDS_SQL = "['the', 'a', 'of', 'and', 'to', 'in', 'is', 'that', 'it', 'for']"

# Shared CTE chain for the curation-pipeline oracles: quality keep →
# exact-dedup survivors → stratified sample (en 25%, rest kept). Each
# stage reuses the expression verified by its standalone oracle
# (q_quality_filter, q_doc_dedup_exact, q_stratified_sample).
_CURATE_SQL = """
    WITH tok AS (
      SELECT doc_id, text, lang, {tok} AS t FROM documents
    ), feats AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_tokens,
             round(CASE WHEN len(t) > 0 THEN CAST(len(list_distinct(t)) AS DOUBLE) / len(t) ELSE 0.0 END, 6) AS dr,
             round(CASE WHEN len(t) > 0 THEN CAST(length(text) AS DOUBLE) / len(t) ELSE 0.0 END, 6) AS mwl,
             round(CASE WHEN length(text) > 0 THEN CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length(text) ELSE 0.0 END, 6) AS pr
      FROM tok
    ), quality AS (
      SELECT d.doc_id, d.text, d.lang FROM documents d JOIN feats f ON d.doc_id = f.doc_id
      WHERE NOT (f.n_tokens < 10 OR f.dr < 0.3 OR f.pr > 0.1 OR f.mwl < 3.0)
    ), winners AS (
      SELECT min(doc_id) AS doc_id
      FROM (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp FROM quality)
      GROUP BY fp
    ), dedup AS (
      SELECT q.doc_id, q.lang FROM quality q JOIN winners w ON q.doc_id = w.doc_id
    ), sampled AS (
      SELECT doc_id, lang FROM dedup
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
            < CASE WHEN lang = 'en' THEN '40000000' ELSE 'g' END
    )
"""

# Shared CTE chain for the dedup-cluster oracles: exact-Jaccard pair graph
# on the bounded 1000-doc slice (identical expression to q_ngram_jaccard),
# symmetrized, then connected components as min-reachable-id via a
# recursive transitive closure — tractable because the slice is bounded.
_CLUSTERS_SQL = """
    WITH RECURSIVE t AS (
      SELECT doc_id, list_distinct({tok}) AS tok FROM documents WHERE doc_id < 1000
    ),
    p AS (
      SELECT a.doc_id AS a, b.doc_id AS b FROM t a JOIN t b ON a.doc_id < b.doc_id
      WHERE round(CASE WHEN len(list_distinct(list_concat(a.tok, b.tok))) > 0
                       THEN CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
                            / len(list_distinct(list_concat(a.tok, b.tok)))
                       ELSE 0.0 END, 6) >= 0.95
    ),
    e AS (SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p),
    reach(a, b) AS (
      SELECT a, b FROM e
      UNION
      SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
    ),
    comp AS (SELECT a AS doc_id, least(a, min(b)) AS component FROM reach GROUP BY a),
    assign AS (
      SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
      FROM (SELECT doc_id FROM documents WHERE doc_id < 1000) d
      LEFT JOIN comp c USING (doc_id)
    )
"""
_LANG_HITS_SQL = """
                len(list_filter(t, x -> list_contains(['der','die','das','und','ist','von','mit','für','auf','ein'], x))) AS h_de,
                len(list_filter(t, x -> list_contains(['the','a','of','and','to','in','is','that','it','for'], x))) AS h_en,
                len(list_filter(t, x -> list_contains(['el','la','los','de','y','es','un','una','para','en'], x))) AS h_es,
                len(list_filter(t, x -> list_contains(['le','la','les','de','et','est','un','une','pour','dans'], x))) AS h_fr,
                len(list_filter(t, x -> list_contains(['的','是','在','了','和','有','我','不','这','他'], x))) AS h_zh
"""


def _classifier_oracle_sql(*, seed: int = 7, threshold: float = 0.0) -> str:
    """DuckDB replay of text.classifier_quality_score: identical literal
    weight table (seeded ints), md5 2-hex bucket per token, integer sum
    (list_sum — order-free on ints), raw-double logit."""
    w = text.classifier_weights(256, seed)
    w_lit = "[" + ",".join(str(x) for x in w) + "]"
    return f"""
        WITH tok AS (
          SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
        ),
        s AS (
          SELECT doc_id,
                 CAST(len(t) AS BIGINT) AS n_tokens,
                 CAST(coalesce(list_sum(list_transform(t,
                     x -> list_extract({w_lit}, CAST(('0x' || substr(md5(x), 1, 2)) AS INT) + 1)
                 )), 0) AS BIGINT) AS w_sum
          FROM tok
        )
        SELECT doc_id, n_tokens, w_sum,
               CASE WHEN n_tokens > 0 THEN CAST(w_sum AS DOUBLE) / n_tokens ELSE 0.0 END AS logit,
               (CASE WHEN n_tokens > 0 THEN CAST(w_sum AS DOUBLE) / n_tokens ELSE 0.0 END)
                 >= {threshold} AS keep
        FROM s
    """


def _bootstrap_ci_oracle_sql(
    *, b_reps: int = 200, scale: int = 100, alpha_num: int = 5, alpha_den: int = 100
) -> str:
    """DuckDB replay of analytics.bootstrap_ci — identical md5-indexed
    Poisson weights (thresholds imported from the SAME
    _poisson1_cdf48(), so both engines compare the same integers),
    BIGINT replicate sums, exact-rank CI selection; integer-ratio
    doubles emitted raw."""
    from cloudtrace_exporter_spark.operators.analytics import _poisson1_cdf48

    t = _poisson1_cdf48()
    den2 = 2 * alpha_den
    rlo = f"(((bn + 1) * {alpha_num} + {den2} - 1) // {den2})"
    return f"""
            WITH base AS (
              SELECT event_type AS series, event_id AS id,
                     CAST(floor(value * {scale} + 0.5) AS BIGINT) AS yq
              FROM events
            ),
            overall AS (
              SELECT series, CAST(count(*) AS BIGINT) AS n_events,
                     CAST(sum(yq) AS BIGINT) AS sy
              FROM base GROUP BY series
            ),
            wts AS (
              SELECT series, b, yq,
                     CASE WHEN v < {t[0]} THEN 0 WHEN v < {t[1]} THEN 1
                          WHEN v < {t[2]} THEN 2 WHEN v < {t[3]} THEN 3
                          WHEN v < {t[4]} THEN 4 ELSE 5 END AS w
              FROM (
                SELECT series, yq, b,
                       CAST(('0x' || substr(md5(CAST(id AS VARCHAR) || ':'
                            || CAST(b AS VARCHAR)), 1, 12)) AS BIGINT) AS v
                FROM base CROSS JOIN (SELECT unnest(range(1, {b_reps + 1})) AS b) bb
              )
            ),
            per AS (
              SELECT series, b, CAST(sum(w * yq) AS BIGINT) AS swy,
                     CAST(sum(w) AS BIGINT) AS sw
              FROM wts GROUP BY series, b HAVING sum(w) > 0
            ),
            rk AS (
              SELECT series, b,
                     CAST(swy AS DOUBLE) / CAST(sw * {scale} AS DOUBLE) AS mean_b,
                     CAST(count(*) OVER (PARTITION BY series) AS BIGINT) AS bn,
                     CAST(row_number() OVER (PARTITION BY series
                          ORDER BY CAST(swy AS DOUBLE) / CAST(sw * {scale} AS DOUBLE), b)
                       AS BIGINT) AS rk
              FROM per
            ),
            sel AS (
              SELECT series,
                     max(CASE WHEN rk = {rlo} THEN mean_b END) AS lo,
                     max(CASE WHEN rk = bn + 1 - {rlo} THEN mean_b END) AS hi,
                     CAST(max(bn) AS BIGINT) AS b_reps
              FROM rk GROUP BY series
            )
            SELECT o.series, o.n_events, s.b_reps,
                   CAST(o.sy AS DOUBLE) / CAST(o.n_events * {scale} AS DOUBLE) AS mean,
                   s.lo AS ci_lo, s.hi AS ci_hi
            FROM overall o LEFT JOIN sel s USING (series)
            ORDER BY series
        """


def _power_rounds_cte(
    *, rounds: int = 8, dim: int = 64, scale: int = 1000, wscale: int = 10**6,
    select_extra: str = "",
) -> str:
    """Shared WITH-chain for the power-iteration oracles: quantized
    vectors + ``rounds`` unrolled all-integer rounds, every round CTE
    MATERIALIZED (inlined CTEs re-expand per reference and nest
    exponentially — the BPE double-reference lesson, measured 10× here).
    Ends at ``w{rounds}`` = (i, wv)."""
    parts = [
        f"""
            WITH x AS MATERIALIZED (
              SELECT {select_extra}list_transform(CAST(embedding AS DOUBLE[]),
                     v -> CAST(round(v * {scale}) AS BIGINT)) AS x
              FROM embeddings
            ),
            w0 AS (SELECT unnest(range(1, {dim + 1})) AS i,
                          CAST({wscale} AS BIGINT) AS wv)"""
    ]
    prev = "w0"
    for r in range(1, rounds + 1):
        parts.append(
            f""",
            l{r} AS (SELECT list(wv ORDER BY i) AS w FROM {prev}),
            d{r} AS (
              SELECT x, CAST(list_sum(list_transform(range(1, {dim + 1}),
                     j -> x[j] * w[j])) AS BIGINT) AS d
              FROM x CROSS JOIN l{r}
            ),
            y{r} AS MATERIALIZED (
              SELECT i, CAST(sum(x[i] * d) AS BIGINT) AS y
              FROM d{r} CROSS JOIN (SELECT unnest(range(1, {dim + 1})) AS i) ii
              GROUP BY i
            ),
            m{r} AS (SELECT max(abs(y)) AS m FROM y{r}),
            w{r} AS MATERIALIZED (
              SELECT i, CASE WHEN m = 0 OR m IS NULL THEN CAST(0 AS BIGINT)
                        ELSE CAST(floor(CAST(y AS DOUBLE) / CAST(m AS DOUBLE)
                                        * {wscale} + 0.5) AS BIGINT) END AS wv
              FROM y{r} CROSS JOIN m{r}
            )"""
        )
        prev = f"w{r}"
    return "".join(parts)


def _dominant_direction_oracle_sql(
    *, rounds: int = 8, dim: int = 64, scale: int = 1000, wscale: int = 10**6
) -> str:
    """DuckDB replay of similarity.dominant_direction (see
    _power_rounds_cte)."""
    return _power_rounds_cte(rounds=rounds, dim=dim, scale=scale, wscale=wscale) + f"""
            SELECT CAST(i AS INTEGER) AS component, wv AS w_scaled,
                   CAST(wv AS DOUBLE) / {float(wscale)} AS weight
            FROM w{rounds} ORDER BY component"""


def _anisotropy_oracle_sql(
    *, rounds: int = 8, dim: int = 64, scale: int = 1000, wscale: int = 10**3
) -> str:
    """DuckDB replay of similarity.anisotropy_report: the shared power
    rounds at wscale=10³ (so per-row quantities stay BIGINT), then
    exact HUGEINT off-axis energies per label — Cauchy–Schwarz
    numerator n2·ww − xw², one division per label, round 6."""
    return _power_rounds_cte(
        rounds=rounds, dim=dim, scale=scale, wscale=wscale, select_extra="label, "
    ) + f""",
            lw AS (SELECT list(wv ORDER BY i) AS w FROM w{rounds}),
            wwv AS (SELECT CAST(list_sum(list_transform(w, c -> c * c))
                         AS BIGINT) AS ww FROM lw),
            r AS (
              SELECT label,
                     CAST(list_sum(list_transform(range(1, {dim + 1}),
                          j -> x[j] * x[j])) AS BIGINT) AS n2,
                     CAST(list_sum(list_transform(range(1, {dim + 1}),
                          j -> x[j] * w[j])) AS BIGINT) AS xw
              FROM x CROSS JOIN lw
            ),
            per AS (
              SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
                     CAST(sum(n2) AS HUGEINT) AS sn2,
                     sum(CAST(n2 AS HUGEINT) * ww
                         - CAST(xw AS HUGEINT) * CAST(xw AS HUGEINT)) AS snum
              FROM r CROSS JOIN wwv GROUP BY label
            )
            SELECT label, n_vecs, CAST(sn2 AS BIGINT) AS sum_n2,
                   CASE WHEN n_vecs > 0 AND sn2 * ww > 0 THEN
                     round(CAST(snum AS DOUBLE) / CAST(sn2 * ww AS DOUBLE), 6)
                   END AS off_axis_frac
            FROM per CROSS JOIN wwv ORDER BY label"""


def _dbscan_oracle_sql(*, block: bool) -> str:
    """The DBSCAN oracle CTE chain, shared by the all-pairs ground truth
    (block=False → q_dbscan_clusters) and the injected sign-block
    candidate source (block=True → q_dbscan_lsh: the eps join adds
    bucket equality over the packed sign bits of the first 8 quantized
    coordinates — the DuckDB replay of similarity.sign_block_pairs)."""
    bkt_col = (
        ",\n                     CAST(list_sum(list_transform(range(1, 9),"
        " i -> CASE WHEN v[i] > 0 THEN (CAST(1 AS BIGINT) << (i - 1))"
        " ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS bkt"
        if block
        else ""
    )
    eps_cond = " AND a.bkt = b.bkt" if block else ""
    return f"""
            WITH RECURSIVE raw AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
              FROM embeddings WHERE vec_id < 500
            ),
            plant AS (
              SELECT r.vec_id + c.c * 1000000 AS vec_id,
                     list_transform(range(1, len(r.emb) + 1),
                       i -> r.emb[i] + CASE WHEN i - 1 = r.vec_id % 64
                                            THEN 0.1 * c.c ELSE 0.0 END) AS emb
              FROM raw r CROSS JOIN (SELECT unnest(range(1, 4)) AS c) c
              WHERE r.vec_id < 50
            ),
            allv AS (SELECT * FROM raw UNION ALL SELECT * FROM plant),
            v AS (
              SELECT vec_id AS id,
                     list_transform(emb, x -> CAST(round(x * 1000) AS BIGINT)) AS v
              FROM allv
            ),
            e AS (
              SELECT id, v,
                     CAST(list_sum(list_transform(range(1, len(v) + 1),
                          i -> v[i] * v[i])) AS BIGINT) AS n2{bkt_col}
              FROM v
            ),
            eps AS MATERIALIZED (
              SELECT a.id AS ia, b.id AS ib
              FROM e a JOIN e b ON a.id < b.id{eps_cond}
              WHERE CAST(list_sum(list_transform(range(1, len(a.v) + 1),
                         i -> a.v[i] * b.v[i])) AS BIGINT) >= 0
                AND CAST(list_sum(list_transform(range(1, len(a.v) + 1),
                         i -> a.v[i] * b.v[i])) AS BIGINT)
                    * CAST(list_sum(list_transform(range(1, len(a.v) + 1),
                          i -> a.v[i] * b.v[i])) AS BIGINT) * 10000
                    >= 9025 * a.n2 * b.n2
            ),
            und AS (
              SELECT ia AS id, ib AS nb FROM eps
              UNION ALL SELECT ib, ia FROM eps
            ),
            deg AS (SELECT id, count(*) AS d FROM und GROUP BY id),
            core AS MATERIALIZED (
              SELECT v.id FROM v LEFT JOIN deg USING (id)
              WHERE COALESCE(d, 0) + 1 >= 4
            ),
            ceu AS MATERIALIZED (
              SELECT ia AS a, ib AS b FROM eps
              WHERE ia IN (SELECT id FROM core) AND ib IN (SELECT id FROM core)
              UNION
              SELECT ib, ia FROM eps
              WHERE ia IN (SELECT id FROM core) AND ib IN (SELECT id FROM core)
            ),
            cc AS (
              SELECT id, id AS comp FROM core
              UNION
              SELECT u.b AS id, c.comp FROM cc c JOIN ceu u ON u.a = c.id
            ),
            lbl AS MATERIALIZED (SELECT id, min(comp) AS cluster FROM cc GROUP BY id),
            bord AS (
              SELECT u.id, min(l.cluster) AS cluster
              FROM und u JOIN lbl l ON u.nb = l.id
              WHERE u.id NOT IN (SELECT id FROM core)
              GROUP BY u.id
            )
            SELECT v.id AS vec_id,
                   CASE WHEN l.cluster IS NOT NULL THEN 'core'
                        WHEN b.cluster IS NOT NULL THEN 'border'
                        ELSE 'noise' END AS role,
                   CAST(COALESCE(l.cluster, b.cluster) AS BIGINT) AS cluster
            FROM v
            LEFT JOIN lbl l ON v.id = l.id
            LEFT JOIN bord b ON v.id = b.id
            ORDER BY vec_id
        """


def _semdedup_oracle_sql(
    *,
    n_centroids: int = 8,
    lloyd_iters: int = 2,
    tau_num: int = 95,
    tau_den: int = 100,
    scale: int = 10**3,
    block_bits: int = 0,
    max_cell_rows: int | None = None,
    guard_block_bits: int = 12,
) -> str:
    """DuckDB replay of similarity.semdedup_scaled over the planted
    dbscan corpus: the integer k-means CTE chain (the q_ivf_topk_verified
    machinery at ×10³), the same-cell ε-pair test (q_dbscan machinery),
    and the reach-based component CTE (q_dedup_clusters machinery) —
    three verified substrates composed, nothing new to trust.

    ``max_cell_rows`` (round 11) replays the operator's giant-cell
    guard: a scalar CTE tests max(per-cell count) > threshold, and the
    ε-pair join's bucket condition applies ONLY when it does — the same
    deterministic data-dependent escalation the Spark side performs."""

    def dist(a: str, b: str) -> str:
        return (
            f"(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
            f" + list_dot_product({b}, {b}))"
        )

    rounds = []
    for r in range(1, lloyd_iters + 1):
        rounds.append(f""",
        a{r} AS (
          SELECT id, v, cell FROM (
            SELECT v.id, v.v, c.cell,
                   row_number() OVER (PARTITION BY v.id
                     ORDER BY {dist('v.v', 'c.c')}, c.cell) AS rn
            FROM v CROSS JOIN c{r - 1} c
          ) WHERE rn = 1
        ),
        c{r} AS (
          SELECT cell, list(d ORDER BY pos) AS c FROM (
            SELECT cell, pos, CAST(CAST(sum(val) AS BIGINT) // count(*) AS DOUBLE) AS d
            FROM (
              SELECT a.cell,
                     generate_subscripts(a.v, 1) AS pos,
                     unnest(a.v) AS val
              FROM a{r} a
            ) GROUP BY cell, pos
          ) GROUP BY cell
        )""")
    idot = (
        "CAST(list_sum(list_transform(range(1, len(a.v) + 1),"
        " i -> a.v[i] * b.v[i])) AS BIGINT)"
    )
    # sign-block sub-bucketing (the dbscan block=True replay): packed
    # sign bits of the first block_bits quantized coordinates. With the
    # round-11 guard the bkt column is computed with guard_block_bits and
    # the join condition consults the data-dependent escalation flag.
    eff_bits = block_bits or (guard_block_bits if max_cell_rows is not None else 0)
    bkt_col = (
        f",\n                 CAST(list_sum(list_transform(range(1, {eff_bits + 1}),"
        " i -> CASE WHEN v[i] > 0 THEN (CAST(1 AS BIGINT) << (i - 1))"
        " ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS bkt"
        if eff_bits
        else ""
    )
    if block_bits:
        bkt_cond = " AND a.bkt = b.bkt"
        guard_cte = ""
    elif max_cell_rows is not None:
        guard_cte = f""",
        esc AS (
          SELECT max(cnt) > {max_cell_rows} AS e
          FROM (SELECT count(*) AS cnt FROM fin GROUP BY cell)
        )"""
        bkt_cond = " AND ((NOT (SELECT e FROM esc)) OR a.bkt = b.bkt)"
    else:
        bkt_cond = ""
        guard_cte = ""
    return f"""
        WITH RECURSIVE raw AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
          FROM embeddings WHERE vec_id < 500
        ),
        plant AS (
          SELECT r.vec_id + c.c * 1000000 AS vec_id,
                 list_transform(range(1, len(r.emb) + 1),
                   i -> r.emb[i] + CASE WHEN i - 1 = r.vec_id % 64
                                        THEN 0.1 * c.c ELSE 0.0 END) AS emb
          FROM raw r CROSS JOIN (SELECT unnest(range(1, 4)) AS c) c
          WHERE r.vec_id < 50
        ),
        allv AS (SELECT * FROM raw UNION ALL SELECT * FROM plant),
        v AS (
          SELECT vec_id AS id,
                 list_transform(emb, x -> round(x * {scale})) AS v
          FROM allv
        ),
        c0 AS (
          SELECT cell, c FROM (
            SELECT row_number() OVER (ORDER BY id) - 1 AS cell, v AS c FROM v
          ) WHERE cell < {n_centroids}
        ){"".join(rounds)},
        fin AS (
          SELECT id, v, cell FROM (
            SELECT v.id, v.v, c.cell,
                   row_number() OVER (PARTITION BY v.id
                     ORDER BY {dist('v.v', 'c.c')}, c.cell) AS rn
            FROM v CROSS JOIN c{lloyd_iters} c
          ) WHERE rn = 1
        ),
        e AS (
          SELECT id, v, cell,
                 CAST(list_sum(list_transform(range(1, len(v) + 1),
                      i -> v[i] * v[i])) AS BIGINT) AS n2{bkt_col}
          FROM fin
        ){guard_cte},
        eps AS MATERIALIZED (
          SELECT a.id AS ia, b.id AS ib
          FROM e a JOIN e b ON a.id < b.id AND a.cell = b.cell{bkt_cond}
          WHERE {idot} >= 0
            AND {idot} * {idot} * {tau_den * tau_den}
                >= {tau_num * tau_num} * a.n2 * b.n2
        ),
        e2 AS (SELECT ia AS a, ib AS b FROM eps
               UNION SELECT ib, ia FROM eps),
        reach(a, b) AS (
          SELECT a, b FROM e2
          UNION
          SELECT r.a, e3.b FROM reach r JOIN e2 e3 ON r.b = e3.a
        ),
        comp AS (SELECT a AS id, least(a, min(b)) AS component
                 FROM reach GROUP BY a)
        SELECT f.id AS vec_id,
               CAST(f.cell AS BIGINT) AS cell,
               CAST(COALESCE(c.component, f.id) AS BIGINT) AS component,
               COALESCE(c.component, f.id) = f.id AS keep
        FROM fin f LEFT JOIN comp c ON f.id = c.id
        ORDER BY vec_id
    """


def _semdedup_incr_oracle_sql(
    *,
    n_centroids: int = 8,
    lloyd_iters: int = 2,
    tau_num: int = 95,
    tau_den: int = 100,
    scale: int = 10**3,
) -> str:
    """DuckDB replay of similarity.semdedup_incremental: k-means CTE
    chain over the CORPUS only (vec_id < 400), literal-argmin assignment
    of both frames to the final centroids, the new×corpus ε-link drop,
    and reach-CC over surviving new×new ε-pairs."""

    def dist(a: str, b: str) -> str:
        return (
            f"(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
            f" + list_dot_product({b}, {b}))"
        )

    rounds = []
    for r in range(1, lloyd_iters + 1):
        rounds.append(f""",
        a{r} AS (
          SELECT id, v, cell FROM (
            SELECT v.id, v.v, c.cell,
                   row_number() OVER (PARTITION BY v.id
                     ORDER BY {dist('v.v', 'c.c')}, c.cell) AS rn
            FROM vc v CROSS JOIN c{r - 1} c
          ) WHERE rn = 1
        ),
        c{r} AS (
          SELECT cell, list(d ORDER BY pos) AS c FROM (
            SELECT cell, pos, CAST(CAST(sum(val) AS BIGINT) // count(*) AS DOUBLE) AS d
            FROM (
              SELECT a.cell,
                     generate_subscripts(a.v, 1) AS pos,
                     unnest(a.v) AS val
              FROM a{r} a
            ) GROUP BY cell, pos
          ) GROUP BY cell
        )""")
    idot = (
        "CAST(list_sum(list_transform(range(1, len(a.v) + 1),"
        " i -> a.v[i] * b.v[i])) AS BIGINT)"
    )
    eps = (
        f"{idot} >= 0 AND {idot} * {idot} * {tau_den * tau_den}"
        f" >= {tau_num * tau_num} * a.n2 * b.n2"
    )
    return f"""
        WITH RECURSIVE vc AS (
          SELECT vec_id AS id,
                 list_transform(CAST(embedding AS DOUBLE[]),
                                x -> round(x * {scale})) AS v
          FROM embeddings WHERE vec_id < 400
        ),
        c0 AS (
          SELECT cell, c FROM (
            SELECT row_number() OVER (ORDER BY id) - 1 AS cell, v AS c FROM vc
          ) WHERE cell < {n_centroids}
        ){"".join(rounds)},
        rawn AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
          FROM embeddings WHERE vec_id >= 400 AND vec_id < 500
        ),
        seedr AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
          FROM embeddings WHERE vec_id < 50
        ),
        plant AS (
          SELECT r.vec_id + c.c * 1000000 AS vec_id,
                 list_transform(range(1, len(r.emb) + 1),
                   i -> r.emb[i] + CASE WHEN i - 1 = r.vec_id % 64
                                        THEN 0.1 * c.c ELSE 0.0 END) AS emb
          FROM seedr r CROSS JOIN (SELECT unnest(range(1, 4)) AS c) c
        ),
        vn AS (
          SELECT vec_id AS id, list_transform(emb, x -> round(x * {scale})) AS v
          FROM (SELECT * FROM rawn UNION ALL SELECT * FROM plant)
        ),
        finc AS (
          SELECT id, v, cell,
                 CAST(list_sum(list_transform(range(1, len(v) + 1),
                      i -> v[i] * v[i])) AS BIGINT) AS n2
          FROM (
            SELECT v.id, v.v, c.cell,
                   row_number() OVER (PARTITION BY v.id
                     ORDER BY {dist('v.v', 'c.c')}, c.cell) AS rn
            FROM vc v CROSS JOIN c{lloyd_iters} c
          ) WHERE rn = 1
        ),
        finn AS (
          SELECT id, v, cell,
                 CAST(list_sum(list_transform(range(1, len(v) + 1),
                      i -> v[i] * v[i])) AS BIGINT) AS n2
          FROM (
            SELECT v.id, v.v, c.cell,
                   row_number() OVER (PARTITION BY v.id
                     ORDER BY {dist('v.v', 'c.c')}, c.cell) AS rn
            FROM vn v CROSS JOIN c{lloyd_iters} c
          ) WHERE rn = 1
        ),
        cdup AS MATERIALIZED (
          SELECT DISTINCT a.id FROM finn a JOIN finc b ON a.cell = b.cell
          WHERE {eps}
        ),
        surv AS (SELECT * FROM finn WHERE id NOT IN (SELECT id FROM cdup)),
        epsn AS MATERIALIZED (
          SELECT a.id AS ia, b.id AS ib
          FROM surv a JOIN surv b ON a.id < b.id AND a.cell = b.cell
          WHERE {eps}
        ),
        e2 AS (SELECT ia AS a, ib AS b FROM epsn
               UNION SELECT ib, ia FROM epsn),
        reach(a, b) AS (
          SELECT a, b FROM e2
          UNION
          SELECT r.a, e3.b FROM reach r JOIN e2 e3 ON r.b = e3.a
        ),
        comp AS (SELECT a AS id, least(a, min(b)) AS component
                 FROM reach GROUP BY a)
        SELECT n.id AS vec_id,
               CAST(n.cell AS BIGINT) AS cell,
               CAST(CASE WHEN n.id IN (SELECT id FROM cdup) THEN n.id
                         ELSE COALESCE(c.component, n.id) END AS BIGINT) AS component,
               CASE WHEN n.id IN (SELECT id FROM cdup) THEN 'corpus_dup'
                    WHEN COALESCE(c.component, n.id) = n.id THEN 'kept'
                    ELSE 'batch_dup' END AS status
        FROM finn n LEFT JOIN comp c ON n.id = c.id
        ORDER BY vec_id
    """


def oracle_sql() -> dict[str, str]:
    rev = "l_extendedprice * (1 - l_discount)"
    d = {
        "q_textrank_keywords": _textrank_oracle_sql(),
        "q_zipf_fit": _zipf_oracle_sql(),
        "q_curriculum_schedule": _CURRICULUM_ORACLE_SQL,
        "q_time_window": """
            SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, event_type, user_id, value
            FROM events
            WHERE ts BETWEEN TIMESTAMP '2024-01-05 00:00:00' AND TIMESTAMP '2024-01-15 00:00:00'
        """,
        "q_normalize_events": f"""
            WITH {EVENTS_AS_TRACES_SQL}
            SELECT event_id, source, type, subject,
                   strftime(event_time, '%Y-%m-%d %H:%M:%S') AS event_time_s,
                   status, code, resource_id, region, domain, tenant
            FROM norm
        """,
        "q_enrich_events": f"""
            WITH {EVENTS_AS_TRACES_SQL}
            SELECT event_id, 'eu-nl' AS region, domain, tenant, 'high' AS priority
            FROM norm
        """,
        "q_dedup_events": """
            SELECT event_type, count(*) AS n, round(sum(value), 2) + 0 AS sum_value
            FROM (SELECT DISTINCT * FROM (SELECT * FROM events UNION ALL SELECT * FROM events))
            GROUP BY event_type
        """,
        "q_json_extract": """
            SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod10,
                   count(*) AS n,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
            FROM events GROUP BY 1 ORDER BY 1
        """,
        "q_status_classify": """
            SELECT CASE WHEN value < 100 THEN 'normal' WHEN value < 300 THEN 'warning' ELSE 'incident' END AS status,
                   count(*) AS n, round(avg(value), 2) AS avg_value
            FROM events GROUP BY 1 ORDER BY 1
        """,
        "q_count_per_window": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_s,
                   count(*) AS n, round(sum(value), 2) + 0 AS sum_value
            FROM events GROUP BY 1
        """,
        "q_nodes_resource": f"""
            WITH {EVENTS_AS_TRACES_SQL}
            SELECT DISTINCT resource_id AS id FROM norm
        """,
        "q_nodes_action": f"""
            WITH {EVENTS_AS_TRACES_SQL}
            SELECT event_id AS id, strftime(event_time, '%Y-%m-%d %H:%M:%S') AS ts_s, source, type
            FROM norm
        """,
        "q_edges_applied_on": f"""
            WITH {EVENTS_AS_TRACES_SQL}
            SELECT DISTINCT event_id AS src, resource_id AS dst FROM norm
        """,
        "q_subject_status_sets": f"""
            WITH {EVENTS_AS_TRACES_SQL}
            SELECT subject,
                   array_to_string(list_sort(list(DISTINCT status)), ',') AS statuses,
                   count(DISTINCT status) AS n_statuses
            FROM norm GROUP BY subject
        """,
        "q_subject_reach": f"""
            WITH {EVENTS_AS_TRACES_SQL},
            pb AS (SELECT DISTINCT event_id AS action, subject FROM norm),
            ao AS (SELECT DISTINCT event_id AS action, resource_id AS resource FROM norm),
            mo AS (SELECT DISTINCT resource_id AS resource, tenant FROM norm)
            SELECT subject, count(DISTINCT tenant) AS n_tenants
            FROM pb JOIN ao USING (action) JOIN mo USING (resource)
            GROUP BY subject
        """,
        "q_degree_distribution": f"""
            WITH {EVENTS_AS_TRACES_SQL},
            e AS (SELECT DISTINCT event_id AS src, resource_id AS dst FROM norm),
            deg AS (SELECT dst, count(*) AS degree FROM e GROUP BY dst)
            SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree
        """,
        # q_pagerank: iterative float computation → rows-only (exact values
        # on a closed-form graph asserted in tests/test_graph.py).
        "q_edges_performed_by": f"""
            WITH {EVENTS_AS_TRACES_SQL}
            SELECT DISTINCT event_id AS src, subject AS dst FROM norm
        """,
        "q_nodes_subject": f"""
            WITH {EVENTS_AS_TRACES_SQL}
            SELECT DISTINCT subject AS id FROM norm
        """,
        "q_nodes_tenant": f"""
            WITH {EVENTS_AS_TRACES_SQL}
            SELECT DISTINCT tenant AS tenant_id, domain AS domain_id FROM norm
        """,
        "q_edges_member_of": f"""
            WITH {EVENTS_AS_TRACES_SQL}
            SELECT DISTINCT resource_id AS src, tenant AS dst, domain AS dst_domain FROM norm
        """,
        "q_edges_with_status": f"""
            WITH {EVENTS_AS_TRACES_SQL}
            SELECT DISTINCT event_id AS src, status AS dst FROM norm
        """,
        "q_edges_located_at": f"""
            WITH {EVENTS_AS_TRACES_SQL}
            SELECT DISTINCT tenant AS src, domain AS src_domain, region AS dst FROM norm
        """,
        "q_graph_build_summary": f"""
            WITH {EVENTS_AS_TRACES_SQL}
            SELECT * FROM (
              SELECT 'node:actions' AS "table", count(DISTINCT event_id) AS n FROM norm
              UNION ALL SELECT 'node:regions', count(DISTINCT region) FROM norm
              UNION ALL SELECT 'node:resources', count(DISTINCT resource_id) FROM norm
              UNION ALL SELECT 'node:statuses', count(DISTINCT status) FROM norm
              UNION ALL SELECT 'node:subjects', count(DISTINCT subject) FROM norm
              UNION ALL SELECT 'node:tenants', count(*) FROM (SELECT DISTINCT tenant, domain FROM norm)
              UNION ALL SELECT 'edge:applied_on', count(*) FROM (SELECT DISTINCT event_id, resource_id FROM norm)
              UNION ALL SELECT 'edge:located_at', count(*) FROM (SELECT DISTINCT tenant, domain, region FROM norm)
              UNION ALL SELECT 'edge:member_of', count(*) FROM (SELECT DISTINCT resource_id, tenant, domain FROM norm)
              UNION ALL SELECT 'edge:performed_by', count(*) FROM (SELECT DISTINCT event_id, subject FROM norm)
              UNION ALL SELECT 'edge:with_status', count(*) FROM (SELECT DISTINCT event_id, status FROM norm)
            ) ORDER BY "table"
        """,
        "q_cypher_rows": f"""
            WITH {EVENTS_AS_TRACES_SQL}
            SELECT region, tenant AS "tenantId", domain AS "domainId",
                   resource_id AS "resourceId", event_id AS "actionId",
                   strftime(event_time, '%Y-%m-%dT%H:%M:%SZ') AS "timestamp",
                   source, type, status, subject
            FROM norm
        """,
        "q_graph_walk": f"""
            WITH {EVENTS_AS_TRACES_SQL},
            ws AS (SELECT DISTINCT event_id AS action, status FROM norm),
            pb AS (SELECT DISTINCT event_id AS action, subject FROM norm)
            SELECT status, count(*) AS n_actions, count(DISTINCT subject) AS n_subjects
            FROM ws JOIN pb USING (action)
            GROUP BY status ORDER BY status
        """,
        "q_join_2hop": """
            SELECT c_mktsegment, count(*) AS n_items, round(sum(l_extendedprice), 2) AS gross
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                          JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment ORDER BY c_mktsegment
        """,
        "q_join_star": f"""
            SELECT r_name, count(*) AS n_items, round(sum({rev}), 2) AS revenue,
                   round(avg(l_quantity), 2) AS avg_qty
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                          JOIN customer ON o_custkey = c_custkey
                          JOIN nation ON c_nationkey = n_nationkey
                          JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name ORDER BY r_name
        """,
        "q_semi_join": """
            SELECT o_orderstatus, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
            FROM orders
            WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
            GROUP BY o_orderstatus ORDER BY o_orderstatus
        """,
        "q_anti_join": """
            SELECT o_orderpriority, count(*) AS n_orders
            FROM orders
            WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
            GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "q_left_join_zero_actions": """
            WITH per_cust AS (
              SELECT c_custkey, c_nationkey, count(o_orderkey) AS n_orders
              FROM customer LEFT JOIN orders ON c_custkey = o_custkey
              GROUP BY c_custkey, c_nationkey
            )
            SELECT c_nationkey, count(*) AS n_customers,
                   CAST(sum(CASE WHEN n_orders = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_inactive
            FROM per_cust GROUP BY c_nationkey ORDER BY c_nationkey
        """,
        "q_agg_by_status": f"""
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum({rev}), 2) AS sum_disc_price,
                   round(sum({rev} * (1 + l_tax)), 2) AS sum_charge,
                   round(avg(l_quantity), 2) AS avg_qty,
                   round(avg(l_extendedprice), 2) AS avg_price,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q_count_distinct": """
            SELECT n_regionkey, count(DISTINCT o_custkey) AS n_subjects
            FROM orders JOIN customer ON o_custkey = c_custkey
                        JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_regionkey ORDER BY n_regionkey
        """,
        # q_approx_count_distinct: HLL values are engine-specific → rows-only.
        "q_rollup_region_nation": """
            SELECT r_name, n_name, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) + 0 AS total
            FROM orders JOIN customer ON o_custkey = c_custkey
                        JOIN nation ON c_nationkey = n_nationkey
                        JOIN region ON n_regionkey = r_regionkey
            GROUP BY ROLLUP (r_name, n_name)
            -- Spark emits NO rollup rows over empty input while DuckDB
            -- emits the SQL-standard grand-total row; on nonempty input
            -- every emitted group has >=1 row, so this HAVING pins
            -- Spark's semantics exactly (round-8 fuzz find)
            HAVING count(*) > 0
        """,
        "q_topk_resources": """
            SELECT p_partkey, p_name, n_actions, qty FROM (
              SELECT p_partkey, p_name, count(*) AS n_actions, round(sum(l_quantity), 2) AS qty
              FROM lineitem JOIN part ON l_partkey = p_partkey
              GROUP BY p_partkey, p_name
            ) ORDER BY n_actions DESC, p_partkey ASC LIMIT 10
        """,
        "q_window_rank": """
            SELECT c_nationkey, o_custkey, spend, rnk FROM (
              SELECT c_nationkey, o_custkey, spend,
                     row_number() OVER (PARTITION BY c_nationkey ORDER BY spend DESC, o_custkey ASC) AS rnk
              FROM (
                SELECT o_custkey, round(sum(o_totalprice), 2) AS spend
                FROM orders GROUP BY o_custkey
              ) JOIN customer ON o_custkey = c_custkey
            ) WHERE rnk <= 3 ORDER BY c_nationkey, rnk
        """,
        "q_window_lag_lead": """
            SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
                   lag(event_id) OVER w AS prev_event_id,
                   lead(event_id) OVER w AS next_event_id,
                   CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) AS gap_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "q_running_sum": """
            SELECT event_id, user_id,
                   CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                        OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS errors_so_far,
                   round(sum(value)
                        OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS value_so_far
            FROM events
        """,
        "q_global_sort": """
            SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS odate, o_totalprice
            FROM orders ORDER BY odate ASC, o_orderkey ASC LIMIT 1000
        """,
        "q_union": """
            SELECT o_orderstatus, count(*) AS n FROM (
              SELECT DISTINCT o_orderkey, o_orderstatus FROM (
                SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'
                UNION ALL
                SELECT o_orderkey, o_orderstatus FROM orders WHERE o_totalprice > 100000.0
              )
            ) GROUP BY o_orderstatus ORDER BY o_orderstatus
        """,
        "q_intersect": """
            SELECT count(*) AS n_common FROM (
              SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'
              INTERSECT
              SELECT o_orderkey FROM orders WHERE o_totalprice > 100000.0
            )
        """,
        "q_except": """
            SELECT count(*) AS n_only_f FROM (
              SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'
              EXCEPT ALL
              SELECT o_orderkey FROM orders WHERE o_totalprice > 100000.0
            )
        """,
        "q_asof_join": """
            WITH daily AS (
              SELECT o_orderdate, count(*) AS n_orders, max(o_orderkey) AS last_orderkey
              FROM orders GROUP BY o_orderdate
            ),
            ship AS (SELECT DISTINCT l_shipdate FROM lineitem)
            SELECT strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS ship_s,
                   strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS asof_s,
                   n_orders, last_orderkey
            FROM ship ASOF LEFT JOIN daily ON l_shipdate >= o_orderdate
        """,
        "q_sliding_window_counts": """
            -- each event belongs to the two 30-min windows whose starts are
            -- floor15(ts) and floor15(ts) - 15min
            SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start_s,
                   CAST(count(*) AS BIGINT) AS n,
                   round(sum(value), 2) + 0 AS sum_value
            FROM (
              SELECT unnest([f15, f15 - INTERVAL 15 MINUTE]) AS ws, value FROM (
                SELECT to_timestamp(CAST(floor(epoch(ts) / 900) * 900 AS BIGINT)) AS f15, value
                FROM events
              )
            )
            GROUP BY ws
        """,
        "q_split_assign": """
            SELECT doc_id,
                   CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc' THEN 'train'
                        WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        """,
        "q_asof_join_ranged": """
            WITH daily AS (
              SELECT o_orderdate, count(*) AS n_orders, max(o_orderkey) AS last_orderkey
              FROM orders GROUP BY o_orderdate
            )
            SELECT l_orderkey, l_linenumber,
                   strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS asof_s,
                   n_orders, last_orderkey
            FROM lineitem ASOF LEFT JOIN daily ON l_shipdate >= o_orderdate
        """,
        "q_scalar_funcs": """
            SELECT p_partkey,
                   lower(p_brand) AS brand_lc,
                   trim(concat_ws('/', p_brand, p_type)) AS brand_type,
                   regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowels,
                   substring(p_type, 1, 5) AS type5,
                   round(abs(p_retailprice - 1000.0), 2) AS price_dev,
                   round(ln(p_retailprice + 1.0), 6) AS log_price,
                   round(pow(CAST(p_size AS DOUBLE), 2.0), 2) AS size_sq
            FROM part
        """,
        "q_supplier_volume": f"""
            SELECT r_name, n_name, count(*) AS n_items, round(sum({rev}), 2) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                          JOIN customer ON o_custkey = c_custkey
                          JOIN supplier ON l_suppkey = s_suppkey
                          JOIN nation ON s_nationkey = n_nationkey
                          JOIN region ON n_regionkey = r_regionkey
            WHERE c_nationkey = s_nationkey
            GROUP BY r_name, n_name ORDER BY r_name, n_name
        """,
        "q_sessionize": """
            WITH g AS (
              SELECT user_id, event_id, ts, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30 * 60 * 1000000
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), s AS (
              SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
              FROM g
            )
            SELECT user_id, sess_id, count(*) AS n_events,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_s,
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS end_s,
                   round(sum(value), 2) + 0 AS session_value
            FROM s GROUP BY user_id, sess_id
        """,
        "q_percentiles": """
            SELECT o_orderpriority,
                   round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
                   round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
                   round(quantile_cont(o_totalprice, 0.99), 2) AS p99,
                   round(min(o_totalprice), 2) AS lo,
                   round(max(o_totalprice), 2) AS hi
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "q_cube": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total
            FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "q_date_funcs": """
            SELECT o_orderkey,
                   year(o_orderdate) AS y,
                   quarter(o_orderdate) AS q,
                   month(o_orderdate) AS m,
                   dayofmonth(o_orderdate) AS dom,
                   isodow(o_orderdate) AS isodow,
                   strftime(date_trunc('month', o_orderdate), '%Y-%m-%d %H:%M:%S') AS month_start_s,
                   date_diff('day', CAST(o_orderdate AS DATE), DATE '2024-01-01') AS days_to_2024
            FROM orders
        """,
        "q_map_funcs": """
            SELECT event_id,
                   COALESCE(array_to_string(list_sort(json_keys(props)), ','), '') AS prop_keys,
                   CAST(len(json_keys(props)) AS BIGINT) AS n_props,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
            FROM events
        """,
        "q_salted_agg": """
            SELECT event_type, count(*) AS n, round(sum(value), 2) + 0 AS sum_value
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "q_dup_rate_by_source": r"""
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS BIGINT) AS n_unique,
                   round(1.0 - count(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) / count(*), 6) AS dup_rate
            FROM documents GROUP BY source
        """,
        "q_doc_dedup_exact": f"""
            SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
                   min(doc_id) AS doc_id, count(*) AS n_copies
            FROM documents GROUP BY 1
        """,
        "q_ngram_jaccard": f"""
            WITH t AS (SELECT doc_id, list_distinct({_TOKENS_SQL}) AS tok FROM documents WHERE doc_id < 1000)
            SELECT * FROM (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     round(CASE WHEN len(list_distinct(list_concat(a.tok, b.tok))) > 0
                                THEN CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
                                     / len(list_distinct(list_concat(a.tok, b.tok)))
                                ELSE 0.0 END, 6) AS jaccard
              FROM t a JOIN t b ON a.doc_id < b.doc_id
            ) WHERE jaccard >= 0.95
        """,
        "q_dedup_clusters": _CLUSTERS_SQL.format(tok=_TOKENS_SQL)
        + "SELECT doc_id, component FROM assign",
        # leakage-safe splits: components (recursive CTE) + the same md5
        # interval thresholds as q_split_assign, keyed on the component
        "q_leakage_safe_splits": _CLUSTERS_SQL.format(tok=_TOKENS_SQL)
        + """
            SELECT doc_id, component,
                   CASE WHEN substr(md5(CAST(component AS VARCHAR)), 1, 8) < 'cccccccc' THEN 'train'
                        WHEN substr(md5(CAST(component AS VARCHAR)), 1, 8) < 'e6666666' THEN 'val'
                        ELSE 'test' END AS split
            FROM assign
        """,
        "q_dedup_survivors": _CLUSTERS_SQL.format(tok=_TOKENS_SQL)
        + """
            SELECT component AS survivor_doc_id, count(*) AS n_members
            FROM assign GROUP BY component
        """,
        # round 10: quality-aware keep rule — longest member (token count
        # desc, id asc) wins its cluster; same assignment substrate
        "q_dedup_survivors_quality": _CLUSTERS_SQL.format(tok=_TOKENS_SQL)
        + """
            , nt AS (
              SELECT doc_id,
                     CAST(len(list_filter(string_split(COALESCE(text, ''), ' '),
                                          x -> x <> '')) AS BIGINT) AS n_tok
              FROM documents WHERE doc_id < 1000
            )
            SELECT a.doc_id, a.component, nt.n_tok,
                   row_number() OVER (PARTITION BY a.component
                                      ORDER BY nt.n_tok DESC, a.doc_id ASC) = 1 AS keep
            FROM assign a JOIN nt USING (doc_id)
            ORDER BY a.doc_id
        """,
        # round-6 second session: soft-dedup ppm weights over the same
        # component assignment — integer div, flooring residue reported
        "q_soft_dedup_weights": _CLUSTERS_SQL.format(tok=_TOKENS_SQL)
        + """
            , sz AS (
              SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
              FROM assign GROUP BY component
            )
            SELECT a.doc_id, a.component AS cluster, s.cluster_size,
                   CAST(1000000 // s.cluster_size AS BIGINT) AS weight_e6,
                   CAST(1000000 % s.cluster_size AS BIGINT) AS floor_residue
            FROM assign a JOIN sz s ON a.component = s.component
            ORDER BY a.doc_id
        """,
        # round-5 curation-depth oracles
        "q_normalized_dedup": r"""
            WITH k AS (
              SELECT doc_id,
                     md5(trim(regexp_replace(regexp_replace(regexp_replace(
                         translate(lower(text), 'àáâãäåçèéêëìíîïñòóôõöùúûüýÿ',
                                   'aaaaaaceeeeiiiinooooouuuuyy'),
                         '\p{Nd}+', '0', 'g'),
                         '[^\p{L}0\s]', ' ', 'g'),
                         '\s+', ' ', 'g'))) AS norm_key
              FROM documents
            )
            SELECT doc_id, norm_key,
                   CAST(count(*) OVER (PARTITION BY norm_key) AS BIGINT) AS group_size,
                   doc_id = min(doc_id) OVER (PARTITION BY norm_key) AS keep
            FROM k
        """,
        "q_dup_span_plan": f"""
            WITH tok AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
            ch AS (
              SELECT doc_id,
                     [t[i:i+49] FOR i IN range(1, greatest(len(t), 1) + 1, 50)] AS chunks
              FROM tok WHERE len(t) >= 1
            ),
            fl AS (
              SELECT doc_id,
                     CAST(generate_subscripts(chunks, 1) AS BIGINT) AS chunk_idx,
                     unnest(chunks) AS chunk
              FROM ch
            ),
            fpp AS (
              SELECT doc_id, chunk_idx,
                     CAST(len(chunk) AS BIGINT) AS nct,
                     md5(array_to_string(chunk, ' ')) AS fp
              FROM fl
            ),
            ranked AS (
              SELECT *,
                     row_number() OVER (PARTITION BY fp ORDER BY doc_id, chunk_idx) AS rn,
                     first_value(doc_id) OVER (PARTITION BY fp ORDER BY doc_id, chunk_idx) AS first_doc
              FROM fpp
            )
            SELECT doc_id, chunk_idx,
                   CAST((chunk_idx - 1) * 50 AS BIGINT) AS tok_start,
                   CAST((chunk_idx - 1) * 50 + nct AS BIGINT) AS tok_end,
                   fp AS fingerprint, first_doc
            FROM ranked WHERE rn > 1
        """,
        "q_ring_shard": _ring_shard_oracle_sql(),
        "q_dedup_rewrite": f"""
            WITH tok AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
            ch AS (
              SELECT doc_id,
                     [t[i:i+49] FOR i IN range(1, greatest(len(t), 1) + 1, 50)] AS chunks
              FROM tok WHERE len(t) >= 1
            ),
            fl AS (
              SELECT doc_id,
                     CAST(generate_subscripts(chunks, 1) AS BIGINT) AS chunk_idx,
                     unnest(chunks) AS chunk
              FROM ch
            ),
            fpp AS (
              SELECT doc_id, chunk_idx,
                     CAST(len(chunk) AS BIGINT) AS nct,
                     array_to_string(chunk, ' ') AS chunk_text,
                     md5(array_to_string(chunk, ' ')) AS fp
              FROM fl
            ),
            firsts AS (
              SELECT fp,
                     min(struct_pack(doc_id := doc_id, chunk_idx := chunk_idx)) AS fst,
                     count(*) AS n
              FROM fpp GROUP BY fp HAVING count(*) >= 2
            ),
            flagged AS (
              SELECT p.*,
                     f.fp IS NOT NULL
                     AND NOT (p.doc_id = (f.fst).doc_id
                              AND p.chunk_idx = (f.fst).chunk_idx) AS dropped
              FROM fpp p LEFT JOIN firsts f USING (fp)
            )
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_chunks,
                   CAST(count(CASE WHEN dropped THEN 1 END) AS BIGINT) AS n_chunks_dropped,
                   CAST(COALESCE(sum(CASE WHEN NOT dropped THEN nct END), 0) AS BIGINT) AS n_tokens_kept,
                   COALESCE(array_to_string(
                     list(chunk_text ORDER BY chunk_idx) FILTER (WHERE NOT dropped),
                     ' '), '') AS clean_text
            FROM flagged
            GROUP BY doc_id
        """,
        "q_hard_negatives": """
            WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            q AS (SELECT * FROM v WHERE vec_id < 10),
            scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                     round(list_dot_product(c.e, q.e)
                           / (sqrt(list_dot_product(c.e, c.e)) * sqrt(list_dot_product(q.e, q.e))), 6) AS cosine
              FROM v c JOIN q ON c.vec_id <> q.vec_id
            )
            SELECT query_id, corpus_id, cosine, rnk FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rnk
              FROM scored WHERE cosine < 0.45
            ) WHERE rnk <= 5
        """,
        "q_truncated_dim_recall": _truncated_recall_oracle_sql(),
        # KMV: md5 hash values are engine-identical, so the sketch (and
        # its estimate arithmetic: 63·2^48 is exactly representable —
        # 6 mantissa bits) replays bit-exact
        "q_kmv_distinct": """
            WITH dist AS (
              SELECT DISTINCT event_type AS grp,
                     ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS hv
              FROM events
            ),
            sk AS (
              SELECT grp, count(*) AS n_sketch, max(hv) AS kth FROM (
                SELECT *, row_number() OVER (PARTITION BY grp ORDER BY hv) AS rn FROM dist
              ) WHERE rn <= 64 GROUP BY grp
            ),
            ex AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_exact FROM dist GROUP BY grp)
            SELECT grp AS event_type, n_exact,
                   round(CASE WHEN n_sketch < 64 THEN CAST(n_exact AS DOUBLE)
                              ELSE 63 * 281474976710656.0 / kth END, 1) AS kmv_estimate,
                   round(abs(CASE WHEN n_sketch < 64 THEN CAST(n_exact AS DOUBLE)
                                  ELSE 63 * 281474976710656.0 / kth END - n_exact)
                         / n_exact, 4) AS rel_err
            FROM ex JOIN sk USING (grp)
        """,
        "q_bloom_audit": _bloom_audit_oracle_sql(),
        # pretraining mix: the whole funnel replayed — q_quality_filter's
        # keep expression, the aggressive-norm winners, the closed-form
        # sqrt(min/n) temperature rate (integer sums only)
        "q_pretraining_mix": f"""
            WITH tok AS (
              SELECT doc_id, text, lang, {_TOKENS_SQL} AS t FROM documents
            ), feats AS (
              SELECT doc_id,
                     CAST(len(t) AS BIGINT) AS n_tokens,
                     round(CASE WHEN len(t) > 0 THEN CAST(len(list_distinct(t)) AS DOUBLE) / len(t) ELSE 0.0 END, 6) AS dr,
                     round(CASE WHEN len(t) > 0 THEN CAST(length(text) AS DOUBLE) / len(t) ELSE 0.0 END, 6) AS mwl,
                     round(CASE WHEN length(text) > 0 THEN CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length(text) ELSE 0.0 END, 6) AS pr
              FROM tok
            ), quality AS (
              SELECT d.doc_id, d.text, d.lang, f.n_tokens
              FROM documents d JOIN feats f ON d.doc_id = f.doc_id
              WHERE NOT (f.n_tokens < 10 OR f.dr < 0.3 OR f.pr > 0.1 OR f.mwl < 3.0)
            ), winners AS (
              SELECT min(doc_id) AS doc_id FROM (
                SELECT doc_id,
                       md5(trim(regexp_replace(regexp_replace(regexp_replace(
                           translate(lower(text), 'àáâãäåçèéêëìíîïñòóôõöùúûüýÿ',
                                     'aaaaaaceeeeiiiinooooouuuuyy'),
                           '\\p{{Nd}}+', '0', 'g'),
                           '[^\\p{{L}}0\\s]', ' ', 'g'),
                           '\\s+', ' ', 'g'))) AS nk
                FROM quality
              ) GROUP BY nk
            ), surv AS (
              SELECT q.lang, q.n_tokens FROM quality q JOIN winners w ON q.doc_id = w.doc_id
            ), prof AS (
              SELECT lang AS stratum,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(n_tokens) AS BIGINT) AS n_tokens
              FROM surv GROUP BY 1
            )
            SELECT stratum, n_docs, n_tokens,
                   round(sqrt(CAST(min(n_tokens) OVER () AS DOUBLE) / n_tokens), 6) AS sample_rate,
                   round(sqrt(CAST(min(n_tokens) OVER () AS DOUBLE) / n_tokens) * n_docs, 1) AS expected_docs,
                   round(sqrt(CAST(min(n_tokens) OVER () AS DOUBLE) / n_tokens) * n_tokens, 1) AS expected_tokens
            FROM prof
        """,
        "q_ivf_topk_verified": _ivf_scaled_oracle_sql(),
        "q_ivf_topk": _ivf_scaled_oracle_sql(n_centroids=16),
        "q_ivf_filtered_verified": _ivf_scaled_oracle_sql(allowed_labels=[3, 7, 9]),
        "q_pq_topk_verified": _pq_scaled_oracle_sql(),
        # round-8: two-tier PQ serving twin — integer shortlist + exact
        # cosine rerank, both tiers replayed
        "q_pq_rerank_verified": _pq_rerank_scaled_oracle_sql(),
        # aHash from the closed form of the synthetic gradient: integer
        # block sums (bit i ⟺ 64·block_sum > total over scale-1000 luma),
        # brute-force hamming ≤ 2 pairs (the band join is exact-recall by
        # pigeonhole, so brute force IS its oracle), same final spectrum.
        # Bit 63 lands as the BIGINT sign bit via the -2^63 term.
        "q_phash_dedup_verified": """
            WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 200),
            imgs AS (
              SELECT doc_id AS id, doc_id AS k FROM ids
              UNION ALL
              SELECT doc_id + 1000000, doc_id FROM ids WHERE doc_id < 25
            ),
            px AS (
              SELECT id, (y // 2) * 8 + (x // 2) AS bit_i,
                     299 * ((7 * x + k) % 256)
                     + 587 * ((11 * y + 3 * k) % 256)
                     + 114 * ((x + y + 5 * k) % 256) AS l
              FROM imgs, range(0, 16) tx(x), range(0, 16) ty(y)
            ),
            blocks AS (SELECT id, bit_i, SUM(l) AS bs FROM px GROUP BY id, bit_i),
            tot AS (SELECT id, SUM(bs) AS total FROM blocks GROUP BY id),
            fp AS (
              SELECT b.id,
                     CAST(SUM(CASE WHEN 64 * b.bs > t.total THEN
                       CASE WHEN b.bit_i = 63 THEN -9223372036854775808
                            ELSE (CAST(1 AS BIGINT) << b.bit_i) END
                       ELSE 0 END) AS BIGINT) AS h
              FROM blocks b JOIN tot t USING (id) GROUP BY b.id
            ),
            cand AS (
              SELECT a.id AS ia, b.id AS ib,
                     bit_count(xor(a.h, b.h)) AS hamming
              FROM fp a JOIN fp b ON a.id < b.id
              WHERE bit_count(xor(a.h, b.h)) <= 2
            )
            SELECT CAST(hamming AS BIGINT) AS hamming,
                   CAST(count(*) AS BIGINT) AS n_pairs,
                   CAST(SUM(CASE WHEN ib - ia = 1000000 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_planted_recovered
            FROM cand GROUP BY hamming ORDER BY hamming
        """,
        # BMP/PNG decode stats from the gradient's closed form: integer
        # channel sums + luma-histogram counts (the bin expression is the
        # identical IEEE sum both engines); zero bins materialized via a
        # bins×ids spine so every doc emits all 8 counts
        "q_multimodal_decode_verified": """
            WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 2000),
            px AS (
              SELECT doc_id,
                     (7 * x + doc_id) % 256 AS r,
                     (11 * y + 3 * doc_id) % 256 AS g,
                     (x + y + 5 * doc_id) % 256 AS b
              FROM ids, range(0, 16) tx(x), range(0, 16) ty(y)
            ),
            st AS (
              SELECT doc_id, CAST(SUM(r) AS BIGINT) AS sum_r,
                     CAST(SUM(g) AS BIGINT) AS sum_g,
                     CAST(SUM(b) AS BIGINT) AS sum_b
              FROM px GROUP BY doc_id
            ),
            hb AS (
              -- literals MUST be DOUBLE: DuckDB parses 0.299 as exact
              -- DECIMAL, and at r=g=b the exact luma is an integer while
              -- the IEEE sum (what numpy computes) lands one ulp below
              -- the bin edge — found by this oracle's first run, doc 128
              SELECT doc_id,
                     LEAST(7, CAST(FLOOR((CAST(0.299 AS DOUBLE) * r
                                          + CAST(0.587 AS DOUBLE) * g
                                          + CAST(0.114 AS DOUBLE) * b) / 32)
                                   AS INTEGER)) AS bin
              FROM px
            ),
            hc AS (SELECT doc_id, bin, count(*) AS c FROM hb GROUP BY doc_id, bin),
            hist AS (
              SELECT i.doc_id,
                     string_agg(CAST(COALESCE(hc.c, 0) AS VARCHAR), ','
                                ORDER BY bb.bin) AS hist_counts
              FROM ids i
              CROSS JOIN range(0, 8) bb(bin)
              LEFT JOIN hc ON hc.doc_id = i.doc_id AND hc.bin = bb.bin
              GROUP BY i.doc_id
            )
            SELECT s.doc_id, f.fmt,
                   CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
                   CAST(256 AS BIGINT) AS n_pixels,
                   s.sum_r, s.sum_g, s.sum_b, h.hist_counts
            FROM st s
            JOIN hist h USING (doc_id)
            CROSS JOIN (VALUES ('bmp'), ('png')) f(fmt)
            ORDER BY s.doc_id, f.fmt
        """,
        # energy-delta fingerprint from the closed form of the envelope
        # fixture: frame energies are amp_i²·S with one positive S per
        # doc, so bit i ⟺ amp(i+1) > amp(i) on the raw LCG amplitudes —
        # gain cancels, which is exactly the volume-invariance claim
        "q_audio_fp_dedup_verified": """
            WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 200),
            clips AS (
              SELECT doc_id AS id, doc_id AS k FROM ids
              UNION ALL
              SELECT doc_id + 1000000, doc_id FROM ids WHERE doc_id < 25
            ),
            amps AS (
              SELECT id, i,
                     2000 + ((1103515245 * (k * 67 + i) + 12345) % 2147483648)
                            % 16000 AS amp
              FROM clips, range(0, 65) t(i)
            ),
            fp AS (
              SELECT a.id,
                     CAST(SUM(CASE WHEN b.amp > a.amp THEN
                       CASE WHEN a.i = 63 THEN -9223372036854775808
                            ELSE (CAST(1 AS BIGINT) << a.i) END
                       ELSE 0 END) AS BIGINT) AS h
              FROM amps a JOIN amps b ON b.id = a.id AND b.i = a.i + 1
              WHERE a.i < 64
              GROUP BY a.id
            ),
            cand AS (
              SELECT a.id AS ia, b.id AS ib,
                     bit_count(xor(a.h, b.h)) AS hamming
              FROM fp a JOIN fp b ON a.id < b.id
              WHERE bit_count(xor(a.h, b.h)) <= 2
            )
            SELECT CAST(hamming AS BIGINT) AS hamming,
                   CAST(count(*) AS BIGINT) AS n_pairs,
                   CAST(SUM(CASE WHEN ib - ia = 1000000 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_planted_recovered
            FROM cand GROUP BY hamming ORDER BY hamming
        """,
        "q_corpus_datacard": f"""
            WITH tok AS (
              SELECT doc_id, text, lang, source, {_TOKENS_SQL} AS t FROM documents
            ), feats AS (
              SELECT *,
                     CAST(len(t) AS BIGINT) AS n_tok,
                     round(CASE WHEN len(t) > 0 THEN CAST(len(list_distinct(t)) AS DOUBLE) / len(t) ELSE 0.0 END, 6) AS dr,
                     round(CASE WHEN len(t) > 0 THEN CAST(length(text) AS DOUBLE) / len(t) ELSE 0.0 END, 6) AS mwl,
                     round(CASE WHEN length(text) > 0 THEN CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length(text) ELSE 0.0 END, 6) AS pr
              FROM tok
            )
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                   CAST(sum(length(text)) AS BIGINT) AS n_chars,
                   CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                   CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                   round(CAST(sum(n_tok) AS DOUBLE) / count(*), 4) AS mean_doc_tokens,
                   round(1.0 - CAST(count(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS DOUBLE) / count(*), 6) AS dup_rate,
                   round(CAST(count(CASE WHEN NOT (n_tok < 10 OR dr < 0.3 OR pr > 0.1 OR mwl < 3.0) THEN 1 END) AS DOUBLE) / count(*), 6) AS quality_pass_rate
            FROM feats
        """,
        "q_autocorr_lag7": """
            WITH daily AS (
              SELECT event_type AS series, date_trunc('day', ts) AS day,
                     round(sum(value), 4) AS y,
                     CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS x
              FROM events GROUP BY 1, 2, 4
            ),
            lagged AS (
              SELECT series, y, x,
                     lag(y, 7) OVER (PARTITION BY series ORDER BY x) AS y_prev,
                     lag(x, 7) OVER (PARTITION BY series ORDER BY x) AS x_prev
              FROM daily
            )
            SELECT series,
                   CAST(count(*) AS BIGINT) AS n_pairs,
                   round(corr(y, y_prev), 4) AS autocorr_lag7
            FROM lagged WHERE x_prev = x - 7
            GROUP BY series
        """,
        "q_source_novelty": f"""
            WITH tok AS (SELECT source, {_TOKENS_SQL} AS t FROM documents),
            grams AS (
              SELECT DISTINCT source,
                     unnest(list_transform(range(1, len(t) - 18),
                            i -> md5(array_to_string(t[i:i+19], ' ')))) AS fp
              FROM tok WHERE len(t) >= 20
            ),
            per_gram AS (SELECT fp, count(*) AS n_sources FROM grams GROUP BY fp)
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_grams,
                   CAST(count(CASE WHEN n_sources = 1 THEN 1 END) AS BIGINT) AS n_unique_grams,
                   round(CAST(count(CASE WHEN n_sources = 1 THEN 1 END) AS DOUBLE) / count(*), 6) AS novelty
            FROM grams JOIN per_gram USING (fp)
            GROUP BY source
        """,
        # CMS: identical md5 cell arithmetic to the Spark side
        "q_cms_frequency": """
            WITH cells AS (
              SELECT i AS row,
                     ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#' || i), 1, 12))::BIGINT % 1024 AS col
              FROM events, range(0, 4) t(i)
            ),
            tbl AS (SELECT row, col, CAST(count(*) AS BIGINT) AS cnt FROM cells GROUP BY 1, 2),
            probes AS (SELECT user_id AS key, CAST(count(*) AS BIGINT) AS n_exact FROM events GROUP BY 1),
            pc AS (
              SELECT key, n_exact, i AS row,
                     ('0x' || substr(md5(CAST(key AS VARCHAR) || '#' || i), 1, 12))::BIGINT % 1024 AS col
              FROM probes, range(0, 4) t(i)
            )
            SELECT key, n_exact,
                   min(cnt) AS cms_estimate,
                   min(cnt) - n_exact AS overestimate
            FROM pc JOIN tbl USING (row, col)
            GROUP BY key, n_exact
        """,
        "q_sql_api_report": """
            WITH rev AS (
              SELECT r.r_name AS region,
                     year(o.o_orderdate) AS yr,
                     l.l_extendedprice * (1 - l.l_discount) AS v
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN nation n ON c.c_nationkey = n.n_nationkey
              JOIN region r ON n.n_regionkey = r.r_regionkey
            )
            SELECT region, yr,
                   CAST(count(*) AS BIGINT) AS n_lines,
                   round(sum(v), 2) AS revenue,
                   rank() OVER (PARTITION BY yr ORDER BY round(sum(v), 2) DESC) AS rnk
            FROM rev
            GROUP BY region, yr
        """,
        "q_ngram_dup_census": f"""
            WITH tok AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
            grams AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(t) - 18),
                            i -> md5(array_to_string(t[i:i+19], ' ')))) AS fp
              FROM tok WHERE len(t) >= 20
            )
            SELECT fp AS fingerprint,
                   CAST(count(*) AS BIGINT) AS n_occurrences,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   min(doc_id) AS first_doc
            FROM grams GROUP BY fp HAVING count(DISTINCT doc_id) >= 2
        """,
        # keyword percolator: the rule strings run verbatim (Java∩RE2
        # common dialect)
        "q_keyword_percolate": """
            WITH rules(rule_id, pat) AS (VALUES
              (1, 'hash join'),
              (2, 'window [a-z]+ stream'),
              (3, 'error|failure|denied'),
              (4, 'customer [a-z]+ order'))
            SELECT d.doc_id, r.rule_id
            FROM documents d JOIN rules r ON regexp_matches(d.text, r.pat)
        """,
        # histogram percentiles: integer bins + a handful of single
        # float ops over integer counts — raw emission, bit-exact
        "q_histogram_percentiles": """
            WITH bounds AS (
              SELECT o_orderpriority AS grp, min(o_totalprice) AS mn, max(o_totalprice) AS mx
              FROM orders GROUP BY 1
            ),
            binned AS (
              SELECT grp, mn, mx,
                     CAST(CASE WHEN mx > mn
                          THEN least(255, floor((o_totalprice - mn) / (mx - mn) * 256))
                          ELSE 0 END AS BIGINT) AS bin,
                     CAST(count(*) AS BIGINT) AS cnt
              FROM orders JOIN bounds ON o_orderpriority = grp
              GROUP BY 1, 2, 3, 4
            ),
            cum AS (
              SELECT *,
                     sum(cnt) OVER (PARTITION BY grp ORDER BY bin
                                    ROWS UNBOUNDED PRECEDING) AS cum,
                     sum(cnt) OVER (PARTITION BY grp) AS total
              FROM binned
            )
            SELECT grp AS o_orderpriority,
                   min(CASE WHEN cum >= 0.5 * total THEN
                       mn + (bin + least(greatest((0.5 * total - (cum - cnt)) / cnt, 0.0), 1.0))
                            * ((mx - mn) / 256) END) AS p50_hist,
                   min(CASE WHEN cum >= 0.99 * total THEN
                       mn + (bin + least(greatest((0.99 * total - (cum - cnt)) / cnt, 0.0), 1.0))
                            * ((mx - mn) / 256) END) AS p99_hist
            FROM cum GROUP BY grp
        """,
        # KMV rollup: the daily→weekly merge is re-selection of k-min —
        # pure md5 integer arithmetic, replayable end to end
        "q_kmv_rollup": """
            WITH keyed AS (
              SELECT DISTINCT
                     CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
                     CAST(floor(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7) AS BIGINT) AS week,
                     ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS hv
              FROM events
            ),
            ds AS (
              SELECT day, week, hv FROM (
                SELECT *, row_number() OVER (PARTITION BY day ORDER BY hv) AS rn FROM keyed
              ) WHERE rn <= 64
            ),
            ws AS (
              SELECT week, hv FROM (
                SELECT *, row_number() OVER (PARTITION BY week ORDER BY hv) AS rn
                FROM (SELECT DISTINCT week, hv FROM ds)
              ) WHERE rn <= 64
            ),
            sk AS (SELECT week, count(*) AS n_sketch, max(hv) AS kth FROM ws GROUP BY week),
            ex AS (
              SELECT week, CAST(count(*) AS BIGINT) AS n_exact
              FROM (SELECT DISTINCT week, hv FROM keyed) GROUP BY week
            )
            SELECT week, n_exact,
                   round(CASE WHEN n_sketch < 64 THEN CAST(n_exact AS DOUBLE)
                              ELSE 63 * 281474976710656.0 / kth END, 1) AS kmv_estimate,
                   round(abs(CASE WHEN n_sketch < 64 THEN CAST(n_exact AS DOUBLE)
                                  ELSE 63 * 281474976710656.0 / kth END - n_exact)
                         / n_exact, 4) AS rel_err
            FROM ex JOIN sk USING (week)
        """,
        # CDC: the oracle recomputes the maintained view FROM SCRATCH —
        # certifying incremental merge == full recompute
        "q_cdc_apply": """
            WITH base AS (SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-20'),
            ins AS (SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-20'),
            kept AS (SELECT * FROM base WHERE NOT (value >= 450.0)),
            unioned AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
            SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   round(sum(value), 4) AS sum_value
            FROM unioned GROUP BY event_type
        """,
        "q_temperature_mixture": f"""
            WITH prof AS (
              SELECT lang AS stratum,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(len({_TOKENS_SQL})) AS BIGINT) AS n_tokens
              FROM documents GROUP BY 1
            )
            SELECT stratum, n_docs, n_tokens,
                   round(CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER (), 6) AS p,
                   round(sqrt(CAST(min(n_tokens) OVER () AS DOUBLE) / n_tokens), 6) AS sample_rate,
                   round(sqrt(CAST(min(n_tokens) OVER () AS DOUBLE) / n_tokens) * n_tokens, 1) AS expected_tokens
            FROM prof
        """,
        "q_tokenizer_fertility": _tokenizer_fertility_oracle_sql(),
        "q_lm_quality_buckets": f"""
            WITH tok AS (
              SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents
            ),
            freq AS (SELECT token, count(*) AS tf FROM tok GROUP BY token),
            tot AS (SELECT count(*) AS n FROM tok),
            scored AS (
              SELECT doc_id, round(avg(log10(tf / n)), 4) AS avg_logp
              FROM tok JOIN freq USING (token) CROSS JOIN tot
              GROUP BY doc_id
            ),
            ltok AS (
              SELECT doc_id,
                     list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
              FROM documents
            ), lhits AS (
              SELECT doc_id, {_LANG_HITS_SQL}
              FROM ltok
            ), pred AS (
              SELECT doc_id,
                CASE WHEN greatest(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'unknown'
                     WHEN h_de >= greatest(h_en, h_es, h_fr, h_zh) THEN 'de'
                     WHEN h_en >= greatest(h_es, h_fr, h_zh) THEN 'en'
                     WHEN h_es >= greatest(h_fr, h_zh) THEN 'es'
                     WHEN h_fr >= h_zh THEN 'fr'
                     ELSE 'zh' END AS lang_pred
              FROM lhits
            ),
            tiled AS (
              SELECT s.doc_id, p.lang_pred, s.avg_logp,
                     CAST(ntile(3) OVER (PARTITION BY p.lang_pred
                                         ORDER BY s.avg_logp DESC, s.doc_id) AS BIGINT) AS bucket
              FROM scored s JOIN pred p USING (doc_id)
            )
            SELECT doc_id, lang_pred, avg_logp, bucket,
                   CASE WHEN bucket = 1 THEN 'head'
                        WHEN bucket = 3 THEN 'tail'
                        ELSE 'middle' END AS tier
            FROM tiled
        """,
        "q_neighbor_jaccard": """
            WITH e AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS d FROM lineitem),
            deg AS (SELECT s, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY s),
            shared AS (
              SELECT a.s AS src_a, b.s AS src_b, CAST(count(*) AS BIGINT) AS shared
              FROM e a JOIN e b ON a.d = b.d AND a.s < b.s
              GROUP BY 1, 2 HAVING count(*) >= 5
            )
            SELECT src_a, src_b, shared, da.deg AS deg_a, db.deg AS deg_b,
                   round(CAST(shared AS DOUBLE) / (da.deg + db.deg - shared), 6) AS jaccard
            FROM shared JOIN deg da ON da.s = shared.src_a
                        JOIN deg db ON db.s = shared.src_b
        """,
        # STL-lite: every stage reads the 4-rounded output of the
        # previous (daily → fit → detrend → deseason), so the doubles
        # are engine-identical at each boundary; quantile_cont matches
        # F.percentile (the mad_outliers precedent)
        "q_seasonal_outliers": """
            WITH daily AS (
              SELECT event_type AS series,
                     date_trunc('day', ts) AS day,
                     round(sum(value), 4) AS y,
                     CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS xi,
                     -- ((x % 7) + 7) % 7 = Spark's pmod: DuckDB's bare %
                     -- goes negative for pre-epoch timestamps, which would
                     -- split the engines on any pre-2024 fixture row
                     ((date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7) + 7) % 7 AS dow
              FROM events GROUP BY 1, 2, 4, 5
            ),
            dailyi AS (
              SELECT *, CAST(round(y * 10000) AS BIGINT) AS yi FROM daily
            ),
            -- OLS over INTEGER sufficient stats (1e-4 fixed point): the
            -- only floats are one division per coefficient — bit-exact
            -- across engines
            stats AS (
              SELECT series, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(xi) AS BIGINT) AS sx, CAST(sum(yi) AS BIGINT) AS syi,
                     CAST(sum(xi * yi) AS BIGINT) AS sxyi, CAST(sum(xi * xi) AS BIGINT) AS sxx
              FROM dailyi GROUP BY series
            ),
            fit AS (
              SELECT series,
                     CAST(CASE WHEN n * sxx - sx * sx <> 0
                          THEN round(CAST(n * sxyi - sx * syi AS DOUBLE) / (n * sxx - sx * sx))
                          ELSE 0 END AS BIGINT) AS si
              FROM stats
            ),
            fit2 AS (
              SELECT f.series, f.si,
                     CAST(round(CAST(s.syi - f.si * s.sx AS DOUBLE) / s.n) AS BIGINT) AS ii
              FROM fit f JOIN stats s USING (series)
            ),
            det AS (
              SELECT d.*, d.yi - (f.ii + f.si * d.xi) AS r1i
              FROM dailyi d JOIN fit2 f USING (series)
            ),
            dow_eff AS (
              -- MEDIAN dow effect (robust: a spike must not shift its
              -- weekday's baseline), quantile_cont == F.percentile
              SELECT series, dow,
                     quantile_cont(CAST(r1i AS DOUBLE), 0.5) AS dow_med_i
              FROM det GROUP BY 1, 2
            ),
            resid AS (
              SELECT det.*, (det.r1i - e.dow_med_i) / 10000.0 AS resid_d
              FROM det JOIN dow_eff e USING (series, dow)
            ),
            med AS (SELECT series, quantile_cont(resid_d, 0.5) AS med FROM resid GROUP BY series),
            mad AS (
              SELECT r.series, quantile_cont(abs(r.resid_d - m.med), 0.5) AS mad
              FROM resid r JOIN med m USING (series) GROUP BY r.series
            )
            -- resid/score RAW: bit-identical doubles; rounding would
            -- break the fixed-point grid's exact decimal ties
            -- differently per engine
            SELECT r.series, strftime(r.day, '%Y-%m-%d') AS day_s, r.y,
                   r.resid_d AS resid,
                   CASE WHEN mad.mad > 0 THEN abs(r.resid_d - med.med) / mad.mad ELSE 0.0 END AS mad_score,
                   (CASE WHEN mad.mad > 0 THEN abs(r.resid_d - med.med) / mad.mad ELSE 0.0 END) > 3.0 AS is_outlier
            FROM resid r JOIN med USING (series) JOIN mad USING (series)
        """,
        # q_pagerank_verified: integer-scaled 10-round power method,
        # unrolled CTE chain — BIGINT floor arithmetic end to end, so
        # the trajectory is bit-exact across engines
        "q_pagerank_verified": _pagerank_scaled_oracle_sql(),
        # q_kcore: iterative 2-core peel replayed as a recursive CTE —
        # standard working-table semantics make each recursive step see
        # only the previous round's edge set, i.e. exactly one peel round
        # (degree via count() windows, both endpoints must survive), run
        # to the same 50-round bound as graph.kcore (idempotent past the
        # fixpoint; if the core empties, recursion dies and round-50 is
        # empty too — also the fixpoint).
        "q_kcore": f"""
            WITH RECURSIVE t AS (
              SELECT doc_id, list_distinct({_TOKENS_SQL}) AS tok FROM documents WHERE doc_id < 1000
            ),
            p AS (
              SELECT a.doc_id AS a, b.doc_id AS b FROM t a JOIN t b ON a.doc_id < b.doc_id
              WHERE round(CASE WHEN len(list_distinct(list_concat(a.tok, b.tok))) > 0
                          THEN CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
                               / len(list_distinct(list_concat(a.tok, b.tok)))
                          ELSE 0.0 END, 6) >= 0.9
            ),
            und AS (SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p),
            peel(round, a, b) AS (
              SELECT 0, a, b FROM und
              UNION ALL
              SELECT round + 1, a, b FROM (
                SELECT round, a, b,
                       count(*) OVER (PARTITION BY a) AS da,
                       count(*) OVER (PARTITION BY b) AS db
                FROM peel
              ) WHERE round < 50 AND da >= 2 AND db >= 2
            )
            SELECT a AS id, CAST(count(*) AS BIGINT) AS core_degree
            FROM peel WHERE round = 50
            GROUP BY a HAVING count(*) >= 2
        """,
        # q_simhash_near_dup: xxhash64-seeded signatures are
        # engine-specific → rows-only (recall vs the exact ground-truth
        # queries is asserted in tests/test_llm_ops.py).
        # q_lsh_topk (and its alias q_lsh_topk_verified): the hyperplane
        # family is seed-deterministic, so DuckDB CAN replay it — the one
        # ANN scale path with a full oracle.
        "q_lsh_topk_verified": _lsh_oracle_sql(),
        "q_lsh_topk": _lsh_oracle_sql(),
        # q_minhash_dedup_verified (and its alias q_minhash_dedup): the
        # md5 + linear-congruential MinHash family — the LSH dedup
        # pipeline itself is integer-exact replayable in DuckDB; likewise
        # q_incremental_near_dedup_verified and its alias.
        "q_minhash_dedup_verified": _minhash_portable_oracle_sql(),
        "q_minhash_dedup": _minhash_portable_oracle_sql(),
        "q_minhash_jaccard_diag": _minhash_diag_oracle_sql(),
        "q_incremental_near_dedup_verified": _incremental_minhash_oracle_sql(),
        "q_incremental_near_dedup": _incremental_minhash_oracle_sql(),
        "q_winnow_dedup_verified": _winnow_portable_oracle_sql(),
        "q_simhash_near_dup_verified": _simhash_portable_oracle_sql(),
        "q_dsir_importance": f"""
            WITH tok AS (SELECT doc_id, lang, {_TOKENS_SQL} AS t FROM documents),
            g AS (
              SELECT doc_id, lang,
                     substr(md5(unnest(list_filter(
                       list_transform(t, (x, i) -> CASE WHEN i < len(t) THEN x || ' ' || t[i+1] END),
                       b -> b IS NOT NULL))), 1, 2) AS bucket
              FROM tok
            ),
            ct AS (SELECT bucket, count(*) AS c FROM g WHERE lang = 'en' GROUP BY bucket),
            nt AS (SELECT count(*) AS n FROM g WHERE lang = 'en'),
            cr AS (SELECT bucket, count(*) AS c FROM g GROUP BY bucket),
            nr AS (SELECT count(*) AS n FROM g),
            merged AS (
              SELECT COALESCE(ct.bucket, cr.bucket) AS bucket,
                     COALESCE(ln((ct.c + 1.0) / (nt.n + 256.0)), ln(1.0 / (nt.n + 256.0)))
                   - COALESCE(ln((cr.c + 1.0) / (nr.n + 256.0)), ln(1.0 / (nr.n + 256.0))) AS log_ratio
              FROM ct FULL OUTER JOIN cr ON ct.bucket = cr.bucket, nt, nr
            ),
            scored AS (
              SELECT g.doc_id, count(*) AS n_grams, round(sum(m.log_ratio), 6) AS log_weight
              FROM g JOIN merged m USING (bucket) GROUP BY g.doc_id
            )
            SELECT d.doc_id, CAST(COALESCE(s.n_grams, 0) AS BIGINT) AS n_grams,
                   COALESCE(s.log_weight, 0.0) AS log_weight
            FROM documents d LEFT JOIN scored s USING (doc_id)
        """,
        "q_mixture_resample": """
            WITH counts AS (
              SELECT lang, count(*) AS n_g,
                     CASE lang WHEN 'en' THEN CAST(0.3 AS DOUBLE)
                               WHEN 'zh' THEN CAST(0.2 AS DOUBLE)
                               WHEN 'es' THEN CAST(0.2 AS DOUBLE)
                               WHEN 'de' THEN CAST(0.15 AS DOUBLE)
                               WHEN 'fr' THEN CAST(0.15 AS DOUBLE) END AS frac
              FROM documents GROUP BY lang
            ),
            t AS (SELECT min(n_g / frac) AS t FROM counts WHERE frac IS NOT NULL),
            thr AS (
              SELECT lang,
                     CASE WHEN frac * t.t / n_g >= 1.0 THEN 'g'
                          ELSE lower(lpad(to_hex(CAST(floor(frac * t.t / n_g * 4294967296.0) AS BIGINT)), 8, '0'))
                     END AS thr
              FROM counts, t WHERE frac IS NOT NULL
            )
            SELECT d.doc_id, d.lang FROM documents d JOIN thr USING (lang)
            WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < thr.thr
        """,
        "q_semantic_dedup": _semantic_dedup_oracle_sql(),
        # q_intra_doc_dedup: replay the boilerplate injection (first-20-
        # token header) and the chunk → first-occurrence → ordered-
        # reassembly pipeline; md5 fingerprints keep the compare narrow
        "q_intra_doc_dedup": f"""
            WITH tok0 AS (SELECT doc_id, {_TOKENS_SQL} AS t0 FROM documents),
            boiler AS (
              SELECT doc_id,
                     concat_ws(' ', array_to_string(t0[1:20], ' '), array_to_string(t0, ' ')) AS text2
              FROM tok0 WHERE len(t0) >= 1
            ),
            tok AS (
              SELECT doc_id, list_filter(string_split(text2, ' '), x -> x <> '') AS t FROM boiler
            ),
            ch AS (
              SELECT doc_id,
                     [array_to_string(t[i:i+19], ' ') FOR i IN range(1, greatest(len(t), 1) + 1, 20)] AS chunks
              FROM tok WHERE len(t) >= 1
            ),
            flat AS (
              SELECT doc_id, CAST(generate_subscripts(chunks, 1) AS BIGINT) AS pos,
                     unnest(chunks) AS chunk
              FROM ch
            ),
            firsts AS (
              SELECT doc_id, chunk, min(pos) AS pos, count(*) AS cnt
              FROM flat GROUP BY doc_id, chunk
            )
            SELECT doc_id,
                   CAST(sum(cnt) AS BIGINT) AS n_chunks,
                   CAST(count(*) AS BIGINT) AS n_kept,
                   md5(string_agg(chunk, ' ' ORDER BY pos)) AS clean_fp
            FROM firsts GROUP BY doc_id
        """,
        # q_classifier_quality: int8-quantized hashed-feature weights make
        # the logit integer arithmetic — fold-order-independent, so DuckDB
        # replays it exactly; the logit is the RAW w_sum/n_tokens double
        # (exact integer ratios tie under Spark HALF_UP vs DuckDB HALF_EVEN)
        "q_classifier_quality": _classifier_oracle_sql(),
        "q_token_budget_sample": f"""
            WITH sized AS (
              SELECT doc_id, source,
                     CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens,
                     md5(CAST(doc_id AS VARCHAR)) AS pri
              FROM documents
            ),
            c AS (
              SELECT doc_id, source, n_tokens,
                     CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY pri ASC, doc_id ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
              FROM sized
            )
            SELECT doc_id, source, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 600
        """,
        "q_embed_near_dup": """
            WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id < 1000)
            SELECT * FROM (
              SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                     round(list_dot_product(a.e, b.e)
                           / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
              FROM v a JOIN v b ON a.vec_id < b.vec_id
            ) WHERE cosine >= 0.4
        """,
        "q_cosine_topk": _COSINE_TOPK_SQL,
        # the chunked variant is exact by construction (a query lives in
        # exactly one chunk), so it shares the brute-force oracle verbatim
        "q_cosine_topk_chunked": _COSINE_TOPK_SQL,
        "q_mad_outliers": """
            WITH med AS (
              SELECT event_type, quantile_cont(value, 0.5) AS med
              FROM events GROUP BY event_type
            ),
            mad AS (
              SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
              FROM events e JOIN med m USING (event_type) GROUP BY e.event_type
            )
            SELECT event_id, event_type, round(value, 2) AS value,
                   round(abs(value - med) / mad, 4) AS mad_score
            FROM events JOIN med USING (event_type) JOIN mad USING (event_type)
            WHERE abs(value - med) > 3.0 * mad
        """,
        "q_scd2_intervals": """
            WITH ordered AS (
              SELECT user_id, event_type, ts, event_id,
                     lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
              FROM events
            ),
            changes AS (
              SELECT user_id, event_type, ts AS vf, event_id FROM ordered
              WHERE prev IS NULL OR prev <> event_type
            )
            SELECT user_id, event_type,
                   strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
                   strftime(lead(vf) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to,
                   CAST(row_number() OVER w AS BIGINT) AS version
            FROM changes
            WINDOW w AS (PARTITION BY user_id ORDER BY vf, event_id)
        """,
        "q_range_join_binned": """
            SELECT e.event_id AS error_id, CAST(count(*) AS BIGINT) AS n_purchases
            FROM events e JOIN events p
              ON p.ts >= e.ts - INTERVAL 5 MINUTE AND p.ts <= e.ts + INTERVAL 5 MINUTE
            WHERE e.event_type = 'error' AND p.event_type = 'purchase'
            GROUP BY e.event_id
        """,
        "q_price_deciles": """
            WITH ranked AS (
              SELECT o_totalprice,
                     row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn,
                     count(*) OVER () AS n_total
              FROM orders
            )
            SELECT CAST(floor((rn - 1) * 10 / n_total) + 1 AS INTEGER) AS decile,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   round(min(o_totalprice), 2) AS min_price,
                   round(max(o_totalprice), 2) AS max_price,
                   round(avg(o_totalprice), 2) AS avg_price
            FROM ranked
            GROUP BY 1
        """,
        "q_type_cooccurrence": """
            WITH u AS (
              SELECT user_id, list_sort(list(DISTINCT event_type)) AS ts
              FROM events GROUP BY user_id
            )
            SELECT a AS type_a, b AS type_b, CAST(count(*) AS BIGINT) AS n_users
            FROM u, unnest(u.ts) AS t1(a), unnest(u.ts) AS t2(b)
            WHERE a < b
            GROUP BY 1, 2
        """,
        "q_hierarchy_shares": """
            WITH agg AS (
              SELECT r_name, n_name, sum(o_totalprice) AS rev
              FROM orders
              JOIN customer ON o_custkey = c_custkey
              JOIN nation   ON c_nationkey = n_nationkey
              JOIN region   ON n_regionkey = r_regionkey
              GROUP BY r_name, n_name
            )
            SELECT r_name, n_name, round(rev, 2) AS revenue,
                   round(rev / sum(rev) OVER (PARTITION BY r_name), 6) AS share_of_region,
                   round(sum(rev) OVER (PARTITION BY r_name) / sum(rev) OVER (), 6)
                     AS region_share_of_total
            FROM agg
        """,
        "q_new_vs_returning": """
            WITH daily AS (
              SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
            ),
            fd AS (SELECT user_id, min(day) AS first_day FROM daily GROUP BY user_id)
            SELECT strftime(day, '%Y-%m-%d') AS day,
                   CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
                   CAST(sum(CASE WHEN day <> first_day THEN 1 ELSE 0 END) AS BIGINT) AS returning_users
            FROM daily JOIN fd USING (user_id)
            GROUP BY 1
        """,
        "q_session_paths": """
            WITH ordered AS (
              SELECT user_id, ts, event_id, event_type,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            sess AS (
              SELECT *, sum(new_sess) OVER (
                PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
              ) AS sess_id
              FROM ordered
            ),
            paths AS (
              SELECT user_id, sess_id,
                     string_agg(event_type, '>' ORDER BY ts, event_id) AS path
              FROM sess GROUP BY user_id, sess_id
            )
            SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
            FROM paths GROUP BY path
            ORDER BY n_sessions DESC, path
            LIMIT 20
        """,
        "q_distribution_drift": """
            WITH per_bucket AS (
              SELECT event_type, floor(value / 50.0) AS bucket,
                     sum(CASE WHEN ts >= TIMESTAMP '2024-01-15' THEN 0 ELSE 1 END) AS n_ref,
                     sum(CASE WHEN ts >= TIMESTAMP '2024-01-15' THEN 1 ELSE 0 END) AS n_cur
              FROM events GROUP BY 1, 2
            ),
            shares AS (
              SELECT event_type,
                     CAST(n_ref AS DOUBLE) / sum(n_ref) OVER (PARTITION BY event_type) AS p,
                     CAST(n_cur AS DOUBLE) / sum(n_cur) OVER (PARTITION BY event_type) AS q
              FROM per_bucket
            )
            SELECT event_type,
                   round(sum((p - q) * ln((p + 1e-6) / (q + 1e-6))), 4) AS psi
            FROM shares GROUP BY event_type
        """,
        "q_nation_trade_flow": """
            SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                   CAST(year(o_orderdate) AS INTEGER) AS o_year,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders    ON l_orderkey = o_orderkey
            JOIN customer  ON o_custkey = c_custkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            JOIN supplier  ON l_suppkey = s_suppkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            WHERE sn.n_name IN ('NATION_3', 'NATION_7')
              AND cn.n_name IN ('NATION_3', 'NATION_7')
              AND sn.n_name <> cn.n_name
            GROUP BY 1, 2, 3
        """,
        "q_weighted_sample": """
            SELECT doc_id, n_chars, es_key FROM (
              SELECT doc_id, n_chars,
                     round(pow((CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS UBIGINT) + 1.0)
                               / power(16, 8),
                               1.0 / n_chars), 10) AS es_key
              FROM documents
            )
            ORDER BY es_key DESC, doc_id
            LIMIT 100
        """,
        "q_triangle_count": f"""
            WITH t AS (
              SELECT doc_id, list_distinct({_TOKENS_SQL}) AS tok
              FROM documents WHERE doc_id < 1000
            ),
            p AS (
              SELECT doc_a, doc_b FROM (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       round(CASE WHEN len(list_distinct(list_concat(a.tok, b.tok))) > 0
                                  THEN CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
                                       / len(list_distinct(list_concat(a.tok, b.tok)))
                                  ELSE 0.0 END, 6) AS jaccard
                FROM t a JOIN t b ON a.doc_id < b.doc_id
              ) WHERE jaccard >= 0.95
            )
            SELECT CAST(count(*) AS BIGINT) AS n_triangles
            FROM p e1
            JOIN p e2 ON e1.doc_b = e2.doc_a
            JOIN p e3 ON e1.doc_a = e3.doc_a AND e2.doc_b = e3.doc_b
        """,
        "q_time_to_convert": """
            WITH s AS (
              SELECT user_id, min(ts) AS s_ts FROM events
              WHERE event_type = 'signup' GROUP BY user_id
            ),
            p AS (
              SELECT e.user_id, min(s.s_ts) AS s_ts, min(e.ts) AS p_ts
              FROM events e JOIN s USING (user_id)
              WHERE e.event_type = 'purchase' AND e.ts >= s.s_ts
              GROUP BY e.user_id
            )
            SELECT user_id,
                   (epoch_us(p_ts) - epoch_us(s_ts)) // 60000000 AS minutes_to_convert
            FROM p
        """,
        "q_lone_returner": """
            WITH per_order AS (
              SELECT l_orderkey,
                     count(DISTINCT l_suppkey) AS n_supp,
                     count(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS n_ret_supp,
                     max(CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS offender
              FROM lineitem GROUP BY l_orderkey
            )
            SELECT s_name, offender AS s_suppkey,
                   CAST(count(*) AS BIGINT) AS n_lone_faults
            FROM per_order JOIN supplier ON offender = s_suppkey
            WHERE n_supp >= 2 AND n_ret_supp = 1
            GROUP BY s_name, offender
            ORDER BY n_lone_faults DESC, s_suppkey
            LIMIT 10
        """,
        "q_rolling_wau": """
            WITH du AS (
              SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
            ),
            mx AS (SELECT max(day) AS mxd FROM du),
            ex AS (
              SELECT unnest(generate_series(day, day + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS wday,
                     user_id
              FROM du
            )
            SELECT strftime(wday, '%Y-%m-%d') AS wday,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS wau
            FROM ex, mx
            WHERE wday <= mxd
            GROUP BY 1
        """,
        "q_variant_props": """
            SELECT event_type,
                   CAST(count(k) AS BIGINT) AS n_with_k,
                   round(avg(k), 2) AS avg_k,
                   max(k) AS max_k
            FROM (
              SELECT event_type,
                     CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
              FROM events
            )
            GROUP BY event_type
        """,
        "q_shipping_priority": """
            SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                   o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND l_shipdate > TIMESTAMP '1998-06-01'
              AND o_orderdate < TIMESTAMP '1998-06-01'
            GROUP BY 1, 2, 3
            ORDER BY revenue DESC, l_orderkey
            LIMIT 10
        """,
        "q_above_customer_avg": """
            SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
            FROM (
              SELECT o_orderkey, o_custkey, o_totalprice,
                     avg(o_totalprice) OVER (PARTITION BY o_custkey) AS cust_avg
              FROM orders
            )
            WHERE o_totalprice > cust_avg
        """,
        "q_order_priority": """
            SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
            FROM orders o
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
              AND EXISTS (
                SELECT 1 FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey
                  AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
              )
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """,
        "q_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
                   round(avg(l_quantity), 6) AS avg_qty,
                   round(avg(l_extendedprice), 6) AS avg_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   CAST(count(*) AS BIGINT) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2001-09-01'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q_min_cost_supplier": """
            WITH supply AS (
              SELECT DISTINCT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
                     floor(l_extendedprice * 100.0 / l_quantity + 0.5) / 100.0 AS unit_price
              FROM lineitem
              JOIN part ON l_partkey = p_partkey AND p_type = 'LARGE'
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
            )
            SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name AS nation,
                   p_partkey, p_name, unit_price
            FROM supply s
            WHERE unit_price = (
              SELECT min(unit_price) FROM supply m WHERE m.p_partkey = s.p_partkey
            )
            ORDER BY s_acctbal DESC, p_partkey, s_name
        """,
        "q_local_supplier_volume": """
            SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n_name
            ORDER BY revenue DESC, n_name
        """,
        "q_forecast_revenue": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount BETWEEN 0.02 AND 0.04
              AND l_quantity < 24
        """,
        "q_product_profit": """
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS INT) AS o_year,
                   round(sum(l_extendedprice * (1 - l_discount)
                             - 0.6 * p_retailprice * l_quantity), 2) AS sum_profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            GROUP BY n_name, year(o_orderdate)
            ORDER BY nation, o_year DESC
        """,
        "q_important_parts": """
            WITH per_part AS (
              SELECT l_partkey,
                     round(sum(l_extendedprice * (1 - l_discount)), 2) AS part_value
              FROM lineitem GROUP BY l_partkey
            )
            SELECT p_partkey, p_name, part_value
            FROM per_part
            JOIN part ON l_partkey = p_partkey
            WHERE part_value > 1.5 * (SELECT avg(part_value) FROM per_part)
            ORDER BY part_value DESC, p_partkey
        """,
        "q_late_shipment_priority": """
            SELECT l_linestatus,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
              AND l_shipdate > o_orderdate + INTERVAL 90 DAY
            GROUP BY l_linestatus
            ORDER BY l_linestatus
        """,
        "q_supplier_part_counts": """
            SELECT p_brand, p_type, p_size,
                   CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
            FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
            JOIN part ON l_partkey = p_partkey AND p_brand <> 'Brand#5'
            WHERE l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000.0
            )
            GROUP BY p_brand, p_type, p_size
            ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        """,
        "q_promo_suppliers": """
            SELECT s_suppkey, s_name, n_name AS nation, total_qty
            FROM (
              SELECT l_suppkey, round(sum(l_quantity), 2) AS total_qty
              FROM lineitem
              JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1997-01-01'
              GROUP BY l_suppkey
              HAVING round(sum(l_quantity), 2) > 50.0
            )
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            ORDER BY s_suppkey
        """,
        "q_customer_distribution": """
            SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
            FROM (
              SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer LEFT JOIN orders ON o_custkey = c_custkey
              GROUP BY c_custkey
            )
            GROUP BY c_count
            ORDER BY custdist DESC, c_count DESC
        """,
        "q_promo_revenue": """
            SELECT round(
                     100.0
                     * sum(CASE WHEN p_type = 'PROMO'
                                THEN l_extendedprice * (1 - l_discount)
                                ELSE 0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue_pct
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
        """,
        "q_top_supplier": """
            WITH r AS (
              SELECT l_suppkey,
                     round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1996-04-01'
              GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name, total_revenue
            FROM r JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_revenue = (SELECT max(total_revenue) FROM r)
            ORDER BY s_suppkey
        """,
        "q_small_qty_revenue": """
            SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
            WHERE p.p_brand = 'Brand#1'
              AND l.l_quantity < 0.5 * (
                SELECT avg(l2.l_quantity) FROM lineitem l2
                WHERE l2.l_partkey = l.l_partkey
              )
        """,
        "q_large_orders": """
            SELECT c_name, c_custkey, o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                   round(o_totalprice, 2) AS o_totalprice,
                   round(total_qty, 2) AS total_qty
            FROM orders
            JOIN (
              SELECT l_orderkey, sum(l_quantity) AS total_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING sum(l_quantity) > 150.0
            ) ON o_orderkey = l_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY round(o_totalprice, 2) DESC, o_orderkey
            LIMIT 20
        """,
        "q_disjunctive_join": """
            SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_quantity BETWEEN 1 AND 30
              AND ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                    AND l_quantity BETWEEN 1 AND 11)
                OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
                    AND l_quantity BETWEEN 10 AND 20)
                OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
                    AND l_quantity BETWEEN 20 AND 30))
        """,
        "q_rich_inactive": """
            SELECT c_mktsegment,
                   CAST(count(*) AS BIGINT) AS numcust,
                   round(sum(c_acctbal), 2) AS totacctbal
            FROM customer c
            WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
              AND NOT EXISTS (
                SELECT 1 FROM orders o
                WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
              )
            GROUP BY c_mktsegment
            ORDER BY c_mktsegment
        """,
        "q_bfs_distances": """
            WITH RECURSIVE v AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id < 1000
            ),
            pairs AS (
              SELECT a.vec_id AS s1, b.vec_id AS s2
              FROM v a JOIN v b ON a.vec_id < b.vec_id
              WHERE round(list_dot_product(a.e, b.e)
                    / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) >= 0.3
            ),
            sym AS (SELECT s1 AS src, s2 AS dst FROM pairs UNION ALL SELECT s2, s1 FROM pairs),
            source AS (
              SELECT src AS s FROM sym GROUP BY src ORDER BY count(*) DESC, src LIMIT 1
            ),
            reach(node, d) AS (
              SELECT s, 0 FROM source
              UNION
              SELECT sym.dst, reach.d + 1
              FROM reach JOIN sym ON reach.node = sym.src
              WHERE reach.d < 10
            )
            SELECT node AS vec_id, CAST(min(d) AS INTEGER) AS dist
            FROM reach GROUP BY node ORDER BY vec_id
        """,
        "q_returned_items": """
            WITH agg AS (
              SELECT o_custkey,
                     round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              WHERE l_returnflag = 'R'
                AND o_orderdate >= TIMESTAMP '1996-01-01'
                AND o_orderdate < TIMESTAMP '1996-07-01'
              GROUP BY o_custkey
            )
            SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal,
                   n_name AS nation, revenue
            FROM agg
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            ORDER BY revenue DESC, c_custkey
            LIMIT 20
        """,
        "q_incremental_dedup": """
            WITH fp AS (
              SELECT doc_id,
                     md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
              FROM documents
            ),
            corpus AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id < 250),
            batch AS (SELECT * FROM fp WHERE doc_id >= 250)
            SELECT doc_id, fingerprint FROM batch b
            WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fingerprint = b.fingerprint)
              AND doc_id = (SELECT min(doc_id) FROM batch b2 WHERE b2.fingerprint = b.fingerprint)
        """,
        "q_repetition_ratio": f"""
            WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS tok FROM documents),
            g AS (
              SELECT doc_id,
                     CASE WHEN len(tok) >= 3
                          THEN [array_to_string(tok[i:i+2], ' ') FOR i IN range(1, len(tok) - 1)]
                          ELSE []::VARCHAR[] END AS grams
              FROM t
            )
            SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
                   CASE WHEN len(grams) > 0
                        THEN round(1 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 4)
                        ELSE 0.0 END AS rep_ratio
            FROM g
        """,
        "q_global_row_number": """
            SELECT doc_id, n_chars,
                   CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rn
            FROM documents
        """,
        "q_lm_unigram_score": f"""
            WITH tok AS (
              SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents
            ),
            freq AS (SELECT token, count(*) AS tf FROM tok GROUP BY token),
            tot AS (SELECT count(*) AS n FROM tok)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                   round(avg(log10(tf / n)), 4) AS avg_logp
            FROM tok JOIN freq USING (token) CROSS JOIN tot
            GROUP BY doc_id
        """,
        "q_lm_bigram_score": f"""
            WITH tok AS (
              SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
            ),
            tokpos AS (
              SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS token FROM tok
            ),
            pairs AS (
              SELECT doc_id, prev, token AS cur FROM (
                SELECT doc_id, token,
                       lag(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
                FROM tokpos
              ) WHERE prev IS NOT NULL
            ),
            flat AS (SELECT doc_id, token FROM tokpos),
            uni AS (SELECT token, count(*) AS tf FROM flat GROUP BY token),
            tot AS (SELECT count(*) AS n FROM flat),
            bi AS (SELECT prev, cur, count(*) AS c_big FROM pairs GROUP BY prev, cur),
            ctx AS (SELECT prev, sum(c_big) AS c_ctx FROM bi GROUP BY prev)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                   round(avg(log10(0.7 * (c_big / c_ctx) + 0.3 * (tf / n))), 4) AS avg_logp
            FROM pairs
            JOIN bi USING (prev, cur)
            JOIN ctx USING (prev)
            JOIN uni ON pairs.cur = uni.token
            CROSS JOIN tot
            GROUP BY doc_id
        """,
        "q_market_share": """
            SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                   round(sum(CASE WHEN sn.n_name = 'NATION_7'
                                  THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                         / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_volume
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            JOIN region   ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            GROUP BY 1
        """,
        "q_profile_orders": """
            SELECT 'o_totalprice' AS column,
                   CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
                   count(DISTINCT o_totalprice) AS n_distinct,
                   round(min(o_totalprice), 2) AS min_val, round(max(o_totalprice), 2) AS max_val
            FROM orders
            UNION ALL SELECT 'o_orderkey',
                   CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   count(DISTINCT o_orderkey), NULL, NULL FROM orders
            UNION ALL SELECT 'o_custkey',
                   CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   count(DISTINCT o_custkey), NULL, NULL FROM orders
            UNION ALL SELECT 'o_orderstatus',
                   CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   count(DISTINCT o_orderstatus), NULL, NULL FROM orders
            UNION ALL SELECT 'o_orderpriority',
                   CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   count(DISTINCT o_orderpriority), NULL, NULL FROM orders
        """,
        "q_window_first_last": """
            SELECT o_orderkey, o_orderpriority,
                   first_value(o_orderkey) OVER w AS first_key,
                   last_value(o_orderkey) OVER w AS last_key,
                   nth_value(o_orderkey, 2) OVER w AS second_key
            FROM orders
            WINDOW w AS (
              PARTITION BY o_orderpriority ORDER BY o_orderdate ASC, o_orderkey ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
            )
        """,
        "q_grouping_sets": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total
            FROM orders
            GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        """,
        "q_window_distribution": """
            SELECT c_nationkey, c_custkey, round(c_acctbal, 2) AS acctbal,
                   percent_rank() OVER w AS pct_rank,
                   cume_dist() OVER w AS cume,
                   CAST(ntile(4) OVER w AS BIGINT) AS quartile
            FROM customer
            WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal ASC, c_custkey ASC)
        """,
        "q_cohort_retention": """
            WITH first AS (
              SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
              FROM events GROUP BY user_id
            ),
            active AS (
              SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
            )
            SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
                   date_diff('day', cohort_day, day) AS day_offset,
                   count(DISTINCT a.user_id) AS n_users
            FROM active a JOIN first f ON a.user_id = f.user_id
            GROUP BY 1, 2
        """,
        "q_funnel": """
            WITH mins AS (
              SELECT user_id,
                     min(CASE WHEN event_type = 'view' THEN ts END) AS t0,
                     min(CASE WHEN event_type = 'click' THEN ts END) AS t1,
                     min(CASE WHEN event_type = 'purchase' THEN ts END) AS t2
              FROM events GROUP BY user_id
            ),
            wide AS (
              SELECT
                CAST(sum(CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS s0,
                CAST(sum(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t0 <= t1
                         THEN 1 ELSE 0 END) AS BIGINT) AS s1,
                CAST(sum(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t0 <= t1
                          AND t2 IS NOT NULL AND t1 <= t2
                         THEN 1 ELSE 0 END) AS BIGINT) AS s2
              FROM mins
            )
            SELECT '1_view' AS step, s0 AS n_users FROM wide
            UNION ALL SELECT '2_click', s1 FROM wide
            UNION ALL SELECT '3_purchase', s2 FROM wide
        """,
        "q_latest_by_key": """
            SELECT user_id, event_type, event_id,
                   strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
                   round(value, 2) AS value
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY user_id, event_type
                ORDER BY ts DESC, event_id DESC
              ) AS rn FROM events
            ) WHERE rn = 1
        """,
        "q_rolling_7d": """
            SELECT event_id, user_id,
                   strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
                   count(*) OVER w AS n_trailing,
                   round(sum(value) OVER w, 2) + 0 AS sum_trailing
            FROM events
            WINDOW w AS (
              -- floor to whole seconds: Spark's unix_timestamp truncates,
              -- DuckDB's epoch() keeps fractional seconds — frames must
              -- agree on the order-key value
              PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
              RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW
            )
        """,
        "q_event_transitions": """
            WITH seq AS (
              SELECT user_id,
                     lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
                     event_type AS next_type
              FROM events
            )
            SELECT prev_type, next_type, count(*) AS n_transitions
            FROM seq WHERE prev_type IS NOT NULL
            GROUP BY prev_type, next_type
        """,
        "q_value_histogram": """
            WITH b AS (
              SELECT floor(value / 50.0) * 50.0 AS bin_lo, count(*) AS n
              FROM events GROUP BY 1
            )
            SELECT round(bin_lo, 2) AS bin_lo, n,
                   round(CAST(n AS DOUBLE) / sum(n) OVER (), 6) AS share
            FROM b
        """,
        # q_approx_percentiles: t-digest sketch values are engine-specific →
        # rows-only (tolerance vs exact percentiles asserted in tests).
        "q_char_entropy": r"""
            WITH cnt AS (
              SELECT doc_id, c, count(*) AS n FROM (
                SELECT doc_id, unnest(regexp_extract_all(text, '[\s\S]')) AS c
                FROM documents
              ) GROUP BY doc_id, c
            ),
            tot AS (SELECT doc_id, sum(n) AS tot FROM cnt GROUP BY doc_id)
            SELECT cnt.doc_id,
                   round(-sum((CAST(n AS DOUBLE) / tot) * ln(CAST(n AS DOUBLE) / tot)), 6) AS char_entropy
            FROM cnt JOIN tot USING (doc_id) GROUP BY cnt.doc_id
        """,
        "q_unpivot": """
            SELECT l_orderkey, l_linenumber, measure, round(value, 2) AS value FROM (
              SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
              UNION ALL
              SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
              UNION ALL
              SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
            )
        """,
        "q_top_user_per_type": """
            WITH totals AS (
              SELECT user_id, event_type, round(sum(value), 2) + 0 AS total
              FROM events GROUP BY user_id, event_type
            ),
            m AS (
              SELECT event_type, max({'total': total, 'user_id': user_id}) AS s
              FROM totals GROUP BY event_type
            )
            SELECT event_type, s.total AS total, s.user_id AS user_id FROM m
        """,
        "q_daily_spine": """
            WITH RECURSIVE bounds AS (
              SELECT date_trunc('day', min(ts)) AS lo, date_trunc('day', max(ts)) AS hi FROM events
            ),
            days(day) AS (
              SELECT lo FROM bounds
              UNION ALL
              SELECT day + INTERVAL 1 DAY FROM days WHERE day < (SELECT hi FROM bounds)
            ),
            daily AS (
              SELECT date_trunc('day', ts) AS day, count(*) AS n,
                     round(sum(value), 2) + 0 AS sum_value
              FROM events GROUP BY 1
            )
            SELECT strftime(d.day, '%Y-%m-%d') AS day_s,
                   coalesce(daily.n, 0) AS n,
                   round(coalesce(daily.sum_value, 0.0), 2) AS sum_value
            FROM days d LEFT JOIN daily ON d.day = daily.day
        """,
        "q_interpolate_gaps": """
            WITH RECURSIVE bounds AS (
              SELECT CAST(date_trunc('day', min(ts)) AS DATE) AS lo,
                     CAST(date_trunc('day', max(ts)) AS DATE) AS hi FROM events
            ),
            days(day) AS (
              SELECT lo FROM bounds
              UNION ALL
              SELECT CAST(day + INTERVAL 1 DAY AS DATE) FROM days
              WHERE day < (SELECT hi FROM bounds)
            ),
            daily AS (
              SELECT series, day,
                     CASE WHEN day(day) % 7 IN (0, 1) THEN NULL ELSE obs END AS obs
              FROM (
                SELECT event_type AS series, CAST(date_trunc('day', ts) AS DATE) AS day,
                       round(avg(value), 6) AS obs
                FROM events GROUP BY 1, 2)
            ),
            g AS (
              SELECT s.series, d.day, daily.obs
              FROM (SELECT DISTINCT series FROM daily) s
              CROSS JOIN days d
              LEFT JOIN daily ON s.series = daily.series AND d.day = daily.day
            ),
            w AS (
              SELECT series, day, obs,
                     last_value(obs IGNORE NULLS) OVER pw AS prev_v,
                     last_value(CASE WHEN obs IS NOT NULL THEN day END IGNORE NULLS) OVER pw AS prev_d,
                     first_value(obs IGNORE NULLS) OVER nw AS next_v,
                     first_value(CASE WHEN obs IS NOT NULL THEN day END IGNORE NULLS) OVER nw AS next_d
              FROM g
              WINDOW pw AS (PARTITION BY series ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     nw AS (PARTITION BY series ORDER BY day
                            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
            )
            SELECT series, strftime(day, '%Y-%m-%d') AS day_s,
                   obs IS NOT NULL AS observed,
                   CASE WHEN obs IS NOT NULL THEN obs
                        WHEN prev_v IS NULL THEN next_v
                        WHEN next_v IS NULL THEN prev_v
                        ELSE prev_v + (next_v - prev_v) * ((day - prev_d) / (next_d - prev_d))
                   END AS filled
            FROM w
        """,
        "q_pii_redact": r"""
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(text,
                     'https?://\S+', '<URL>', 'g'),
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                     '[0-9]{6,}', '<NUM>', 'g') AS redacted
            FROM documents
        """,
        # round-6: pseudo-relevance feedback — both BM25 passes + the
        # term harvest replayed; shared frames MATERIALIZED
        "q_bm25_prf": _bm25_prf_oracle_sql(),
        # round-6: snippets — ranking chain + hit-anchored span search
        "q_bm25_snippets": _bm25_snippets_oracle_sql(),
        # round-6: LSH tuning — per-config collision from signatures,
        # midpoint S-curve by repeated multiplication
        "q_lsh_tuning": _lsh_tuning_oracle_sql(),
        # round-6: LSH eval — exact shingle ground truth vs the portable
        # banded candidates, one-row P/R/F1
        "q_lsh_eval": _lsh_eval_oracle_sql(),
        # round-6: survival curve — censoring-aware integer counts over
        # the bounded lifetime histogram
        "q_survival_curve": """
            WITH pu AS (
              SELECT user_id AS u, min(CAST(ts AS DATE)) AS first_d,
                     max(CAST(ts AS DATE)) AS last_d
              FROM events GROUP BY user_id
            ),
            gl AS (SELECT max(last_d) AS corpus_end FROM pu),
            u AS (
              SELECT date_diff('day', first_d, last_d) AS lifetime,
                     date_diff('day', last_d, corpus_end) < 7 AS censored
              FROM pu CROSS JOIN gl
            ),
            hist AS (
              SELECT lifetime, CAST(count(*) AS BIGINT) AS n_total,
                     CAST(sum(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
                     CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT) AS n_censored
              FROM u GROUP BY lifetime
            )
            SELECT CAST(lifetime AS BIGINT) AS t_days,
                   CAST(sum(n_total) OVER (ORDER BY lifetime
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_at_risk,
                   n_churned AS n_churn_at_t,
                   n_censored AS n_censored_at_t,
                   CASE WHEN sum(n_churned) OVER () > 0 THEN
                     CAST(sum(n_churned) OVER (ORDER BY lifetime
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
                       / CAST(sum(n_churned) OVER () AS BIGINT)
                   END AS churned_survival
            FROM hist ORDER BY t_days
        """,
        # round-6: corpus diff — full outer on id, md5 content hashes,
        # all-integer per-source accounting
        "q_corpus_diff": f"""
            WITH oldd AS (SELECT * FROM documents WHERE doc_id % 7 <> 0),
            newd AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 3 = 0 THEN text || ' rev2' ELSE text END AS text,
                     source
              FROM documents WHERE doc_id % 5 <> 0
            ),
            po AS (
              SELECT doc_id, source AS old_source,
                     md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS old_fp,
                     CAST(len({_TOKENS_SQL}) AS BIGINT) AS old_tok
              FROM oldd
            ),
            pn AS (
              SELECT doc_id, source AS new_source,
                     md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS new_fp,
                     CAST(len({_TOKENS_SQL}) AS BIGINT) AS new_tok
              FROM newd
            ),
            j AS (
              SELECT COALESCE(pn.doc_id, po.doc_id) AS doc_id,
                     COALESCE(pn.new_source, po.old_source) AS source,
                     CASE WHEN po.old_fp IS NULL THEN 'added'
                          WHEN pn.new_fp IS NULL THEN 'removed'
                          WHEN po.old_fp <> pn.new_fp THEN 'changed'
                          ELSE 'unchanged' END AS status,
                     COALESCE(pn.new_tok, 0) - COALESCE(po.old_tok, 0) AS tok_d
              FROM po FULL OUTER JOIN pn ON po.doc_id = pn.doc_id
            )
            SELECT source,
                   CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
                   CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
                   CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
                   CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
                   CAST(sum(tok_d) AS BIGINT) AS token_delta
            FROM j GROUP BY source ORDER BY source
        """,
        # round-6: class-separation matrix — integer centroids/dots, the
        # embedding_outliers quantization recipe applied pairwise
        "q_label_separation": """
            WITH v AS (
              SELECT label,
                     list_transform(CAST(embedding AS DOUBLE[]),
                                    x -> CAST(round(x * 10000) AS BIGINT)) AS v
              FROM embeddings
            ),
            s AS (
              SELECT label, generate_subscripts(v, 1) AS pos, unnest(v) AS val FROM v
            ),
            c AS (
              SELECT label, pos, CAST(sum(val) AS BIGINT) // count(*) AS cd,
                     count(*) AS n
              FROM s GROUP BY 1, 2
            ),
            cent AS (
              SELECT label, CAST(max(n) AS BIGINT) AS n_vectors,
                     list(cd ORDER BY pos) AS c
              FROM c GROUP BY label
            ),
            cd2 AS (
              SELECT *, CAST(list_sum(list_transform(range(1, len(c) + 1),
                             i -> c[i] * c[i])) AS BIGINT) AS n2
              FROM cent
            )
            SELECT a.label AS label_a, b.label AS label_b,
                   a.n_vectors AS n_a, b.n_vectors AS n_b,
                   round(CAST(list_sum(list_transform(range(1, len(a.c) + 1),
                         i -> a.c[i] * b.c[i])) AS BIGINT)
                         / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))), 6)
                     AS centroid_cosine
            FROM cd2 a JOIN cd2 b ON a.label <= b.label
            ORDER BY label_a, label_b
        """,
        # round-6: quantile normalization — exact-element global lookup,
        # all index math integer; (v, doc_id) total order on both sides
        "q_quantile_normalize": """
            WITH vals AS (
              SELECT doc_id, source AS grp, CAST(n_chars AS DOUBLE) AS v
              FROM documents
            ),
            ranked AS (
              SELECT v AS ref_v, row_number() OVER (ORDER BY v, doc_id) AS gi
              FROM vals
            ),
            nn AS (SELECT CAST(count(*) AS BIGINT) AS N FROM vals),
            per AS (
              SELECT doc_id, grp, v,
                     row_number() OVER (PARTITION BY grp ORDER BY v, doc_id) AS r,
                     count(*) OVER (PARTITION BY grp) AS ns
              FROM vals
            ),
            j AS (
              SELECT p.doc_id, p.grp, p.v,
                     CASE WHEN p.ns > 1
                          THEN CAST(floor((p.r - 1) * (nn.N - 1) / (p.ns - 1)) AS BIGINT) + 1
                          ELSE CAST(floor((nn.N + 1) / 2) AS BIGINT)
                     END AS gi
              FROM per p CROSS JOIN nn
            )
            SELECT j.doc_id, j.grp AS source, j.v AS raw_value,
                   rk.ref_v AS normalized_value
            FROM j JOIN ranked rk ON rk.gi = j.gi
            ORDER BY j.doc_id
        """,
        # round-6: FD audit — per-lhs argmax with count-desc/rhs-asc
        # tie-break (the label-propagation idiom)
        "q_fd_audit": """
            WITH c AS (
              SELECT source AS lhs_value,
                     COALESCE(CAST(lang AS VARCHAR), '<null>') AS rhs_value,
                     CAST(count(*) AS BIGINT) AS cnt
              FROM documents GROUP BY 1, 2
            )
            SELECT lhs_value, CAST(n_rows AS BIGINT) AS n_rows,
                   CAST(n_distinct_rhs AS BIGINT) AS n_distinct_rhs,
                   rhs_value AS majority_rhs,
                   cnt AS majority_n,
                   CAST(n_rows - cnt AS BIGINT) AS n_violations,
                   n_distinct_rhs = 1 AS fd_holds
            FROM (
              SELECT lhs_value, rhs_value, cnt,
                     sum(cnt) OVER (PARTITION BY lhs_value) AS n_rows,
                     count(*) OVER (PARTITION BY lhs_value) AS n_distinct_rhs,
                     row_number() OVER (PARTITION BY lhs_value
                       ORDER BY cnt DESC, rhs_value ASC) AS rn
              FROM c
            ) WHERE rn = 1
            ORDER BY lhs_value
        """,
        # round-6 second session: PassJoin ground truth — the oracle IS the
        # quadratic brute-force form the Spark operator provably equals
        "q_passjoin_exact": """
            WITH p AS (
              -- non-ASCII folded to '#' so byte-based levenshtein ==
              -- Spark's codepoint levenshtein (round-8 fuzz find)
              SELECT doc_id,
                     regexp_replace(substr(text, 1, 20),
                                    '[^\\x00-\\x7F]', '#', 'g') AS pfx
              FROM documents
              WHERE length(substr(text, 1, 20)) >= 8
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS dist
            FROM p a JOIN p b
              ON a.doc_id < b.doc_id
             AND abs(length(a.pfx) - length(b.pfx)) <= 3
            WHERE levenshtein(a.pfx, b.pfx) <= 3
            ORDER BY doc_a, doc_b
        """,
        # round 10: TRUE-codepoint distance on a non-ASCII corpus. DuckDB's
        # levenshtein counts BYTES; re-encoding every codepoint through a
        # corpus-wide 1-ASCII-byte dictionary (alphabet here ~29 « 94
        # printable slots) makes byte distance ≡ Spark's codepoint distance
        # — the codepoint-exploded formulation, folded back into one string
        # so the O(n²) verify stays a native levenshtein call.
        "q_passjoin_codepoint": """
            WITH p0 AS (SELECT doc_id, substr(text, 1, 20) AS pfx0 FROM documents),
            p AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0 THEN '中' ELSE '' END ||
                     CASE WHEN doc_id % 3 = 1 THEN translate(pfx0, 'aeo', 'áéö')
                          ELSE pfx0 END AS pfx
              FROM p0
            ),
            pf AS (SELECT doc_id, pfx FROM p WHERE length(pfx) >= 8),
            alpha AS (
              SELECT c, row_number() OVER (ORDER BY c) AS i
              FROM (SELECT DISTINCT unnest(regexp_extract_all(pfx, '.')) AS c FROM pf)
            ),
            m AS (SELECT map(list(c ORDER BY c),
                             list(chr(CAST(32 + i AS INTEGER)) ORDER BY c)) AS mp
                  FROM alpha),
            -- guard (round-11 advisor fix): chr(32+i) is a single UTF-8
            -- byte only while the alphabet has <= 94 distinct codepoints;
            -- a richer corpus must fail LOUDLY, not falsify the
            -- byte-distance == codepoint-distance equivalence
            guard AS (
              SELECT CASE WHEN count(*) > 94 THEN error(
                       'q_passjoin_codepoint oracle: prefix alphabet > 94 distinct codepoints — single-byte dictionary overflow')
                     ELSE 1 END AS ok
              FROM alpha
            ),
            enc AS (
              SELECT doc_id,
                     list_aggregate(list_transform(regexp_extract_all(pfx, '.'),
                                                   c -> mp[c][1]),
                                    'string_agg', '') AS s
              FROM pf, m, guard
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
            FROM enc a JOIN enc b
              ON a.doc_id < b.doc_id
             AND abs(length(a.s) - length(b.s)) <= 3
            WHERE levenshtein(a.s, b.s) <= 3
            ORDER BY doc_a, doc_b
        """,
        # round-6 second session: CUSUM — integer closed form, running
        # extrema over per-series deviation cumsums
        "q_cusum_drift": """
            WITH daily AS (
              SELECT event_type AS series, date_trunc('day', ts) AS day,
                     CAST(count(*) AS BIGINT) AS x
              FROM events GROUP BY 1, 2
            ),
            med AS (
              SELECT series, x AS target FROM (
                SELECT series, x,
                       row_number() OVER (PARTITION BY series ORDER BY x, day) AS rn,
                       count(*) OVER (PARTITION BY series) AS n
                FROM daily
              ) WHERE rn = CAST(floor((n + 1) / 2) AS BIGINT)
            ),
            g AS (
              SELECT d.series, d.day, d.x, m.target,
                     sum(d.x - m.target) OVER (PARTITION BY d.series ORDER BY d.day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
              FROM daily d JOIN med m ON d.series = m.series
            )
            SELECT series, CAST(day AS TIMESTAMP) AS day, x,
                   CAST(target AS BIGINT) AS target,
                   CAST(c - least(0, min(c) OVER w) AS BIGINT) AS cusum_up,
                   CAST(greatest(0, max(c) OVER w) - c AS BIGINT) AS cusum_down,
                   (c - least(0, min(c) OVER w)) > 4 * greatest(target, 1) AS alarm_up,
                   (greatest(0, max(c) OVER w) - c) > 4 * greatest(target, 1) AS alarm_down
            FROM g
            WINDOW w AS (PARTITION BY series ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ORDER BY series, day
        """,
        # round-6 second session: inter-arrival gaps — (ts, id) total order,
        # floor-µs integer gaps, exact rank selections, pinned-order
        # burstiness float tail
        "q_interarrival_stats": """
            WITH g0 AS (
              SELECT event_type AS series, ts, event_id,
                     lag(epoch_us(ts)) OVER
                       (PARTITION BY event_type ORDER BY ts, event_id) AS prev
              FROM events
            ),
            g AS (
              SELECT series,
                     CAST(floor((epoch_us(ts) - prev) / 1000000.0) AS BIGINT) AS gap_s,
                     row_number() OVER (PARTITION BY series ORDER BY ts, event_id) AS i
              FROM g0 WHERE prev IS NOT NULL
            ),
            r AS (
              SELECT series, gap_s, i,
                     row_number() OVER (PARTITION BY series ORDER BY gap_s, i) AS rn,
                     count(*) OVER (PARTITION BY series) AS n
              FROM g
            ),
            agg AS (
              SELECT series,
                     CAST(count(*) AS BIGINT) AS n_gaps,
                     min(gap_s) AS min_gap_s,
                     max(gap_s) AS max_gap_s,
                     CAST(sum(gap_s) AS BIGINT) AS sum_gap_s,
                     CAST(sum(gap_s * gap_s) AS BIGINT) AS sumsq_gap_s,
                     max(CASE WHEN rn = CAST(floor((n + 1) / 2) AS BIGINT)
                              THEN gap_s END) AS median_gap_s,
                     max(CASE WHEN rn = CAST(floor((n * 9 + 9) / 10) AS BIGINT)
                              THEN gap_s END) AS p90_gap_s
              FROM r GROUP BY series
            )
            SELECT series, n_gaps, min_gap_s, max_gap_s, sum_gap_s, sumsq_gap_s,
                   median_gap_s, p90_gap_s,
                   CASE WHEN s + m > 0 THEN round((s - m) / (s + m), 6) END AS burstiness
            FROM (
              SELECT *,
                     sum_gap_s / n_gaps AS m,
                     sqrt(greatest(sumsq_gap_s / n_gaps
                                   - (sum_gap_s / n_gaps) * (sum_gap_s / n_gaps),
                                   0.0)) AS s
              FROM agg
            )
            ORDER BY series
        """,
        # round-6 second session: k-anonymity class-size spectrum — one
        # quasi-identifier aggregation, integer counts end to end
        "q_k_anonymity": """
            WITH cls AS (
              SELECT c_nationkey, c_mktsegment,
                     CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
                     CAST(count(*) AS BIGINT) AS sz,
                     CAST(count(DISTINCT c_acctbal) AS BIGINT) AS l
              FROM customer GROUP BY 1, 2, 3
            )
            SELECT sz AS class_size,
                   CAST(count(*) AS BIGINT) AS n_classes,
                   CAST(sz * count(*) AS BIGINT) AS n_rows,
                   min(l) AS min_l_diversity,
                   sz < 5 AS violates_k
            FROM cls GROUP BY sz ORDER BY class_size
        """,
        # round-6 second session: key-skew audit — three fact keys,
        # rank-weighted exact Gini, generated per table
        "q_key_skew_audit": " UNION ALL ".join(
            [
                _key_skew_oracle_one("orders", "o_custkey", "orders.o_custkey"),
                _key_skew_oracle_one("events", "user_id", "events.user_id"),
                _key_skew_oracle_one("lineitem", "l_suppkey", "lineitem.l_suppkey"),
            ]
        )
        + " ORDER BY audited",
        # round-6 second session: MMR — unrolled greedy-round CTE chain
        # over integer dots (the LPA trajectory-replay technique)
        "q_mmr_rerank": _mmr_oracle_sql(),
        # round-6 second session: LOO target encoding — integer numerator/
        # denominator (prior cleared of its denominator), one division
        "q_target_encoding": """
            WITH g AS (
              SELECT event_id, event_type AS cat, value,
                     row_number() OVER (ORDER BY value, event_id) AS rn,
                     count(*) OVER () AS n
              FROM events
              WHERE value IS NOT NULL AND event_type IS NOT NULL
            ),
            t AS (
              SELECT *, max(CASE WHEN rn = CAST(floor((n + 1) / 2) AS BIGINT)
                                 THEN value END) OVER () AS thr
              FROM g
            ),
            y AS (SELECT event_id, cat, CAST(value > thr AS BIGINT) AS y FROM t),
            c AS (
              SELECT cat, CAST(count(*) AS BIGINT) AS n_cat,
                     CAST(sum(y) AS BIGINT) AS succ_cat
              FROM y GROUP BY cat
            ),
            tot AS (
              SELECT CAST(sum(n_cat) AS BIGINT) AS n_tot,
                     CAST(sum(succ_cat) AS BIGINT) AS succ_tot
              FROM c
            )
            SELECT y.event_id, y.cat, y.y, c.n_cat,
                   round(((c.succ_cat - y.y) * tot.n_tot + 10 * tot.succ_tot)
                         / ((c.n_cat - 1 + 10) * tot.n_tot), 6) AS enc_loo
            FROM y JOIN c ON y.cat = c.cat CROSS JOIN tot
            ORDER BY y.event_id
        """,
        # round-6 second session: Mann-Kendall — integer S over the daily
        # pairwise grid, tie-corrected variance, continuity-corrected z
        "q_mann_kendall": """
            WITH daily AS (
              SELECT event_type AS series, date_trunc('day', ts) AS day,
                     round(sum(value), 4) AS y
              FROM events GROUP BY 1, 2
            ),
            s_frame AS (
              SELECT a.series, CAST(sum(sign(b.y - a.y)) AS BIGINT) AS s
              FROM daily a JOIN daily b
                ON a.series = b.series AND a.day < b.day
              GROUP BY a.series
            ),
            ties AS (
              SELECT series, CAST(sum(t) AS BIGINT) AS n_days,
                     CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
              FROM (
                SELECT series, y, CAST(count(*) AS BIGINT) AS t
                FROM daily GROUP BY 1, 2
              ) GROUP BY series
            )
            SELECT series, n_days, s,
                   round(z, 6) AS z,
                   z * z > 3.841458820694124 AS significant_05,
                   CASE WHEN s > 0 THEN 'increasing'
                        WHEN s < 0 THEN 'decreasing'
                        ELSE 'none' END AS direction
            FROM (
              SELECT *,
                     CASE WHEN n_days * (n_days - 1) * (2 * n_days + 5) - tie_term > 0
                          THEN CAST(CASE WHEN s > 0 THEN s - 1
                                         WHEN s < 0 THEN s + 1
                                         ELSE 0 END AS DOUBLE)
                               / sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5)
                                           - tie_term AS DOUBLE) / 18.0) END AS z
              FROM s_frame JOIN ties USING (series)
            )
            ORDER BY series
        """,
        # round-6 second session: CUPED — integer sufficient stats over
        # quantized per-unit pre/post totals, pinned theta/means tail
        "q_cuped": """
            WITH unit AS (
              SELECT event_type AS series, user_id AS unit,
                     CAST(user_id % 2 AS INTEGER) AS variant,
                     CAST(round(round(sum(CASE WHEN ts < TIMESTAMP '2024-01-15'
                                              THEN value ELSE 0.0 END), 4) * 100)
                          AS BIGINT) AS x,
                     CAST(round(round(sum(CASE WHEN ts >= TIMESTAMP '2024-01-15'
                                              THEN value ELSE 0.0 END), 4) * 100)
                          AS BIGINT) AS y
              FROM events GROUP BY 1, 2, 3
            ),
            per AS (
              SELECT series,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(x) AS BIGINT) AS sx,
                     CAST(sum(y) AS BIGINT) AS sy,
                     CAST(sum(x * y) AS BIGINT) AS sxy,
                     CAST(sum(x * x) AS BIGINT) AS sxx,
                     CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                     CAST(sum(CASE WHEN variant = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_a,
                     CAST(sum(CASE WHEN variant = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_b,
                     CAST(sum(CASE WHEN variant = 0 THEN x ELSE 0 END) AS BIGINT) AS sx_a,
                     CAST(sum(CASE WHEN variant = 1 THEN x ELSE 0 END) AS BIGINT) AS sx_b
              FROM unit GROUP BY series
            )
            SELECT series, n_a, CAST(n - n_a AS BIGINT) AS n_b,
                   round(theta, 6) AS theta,
                   round(raw, 6) AS raw_diff,
                   round(raw - theta * (sx_a / n_a / 100 - sx_b / (n - n_a) / 100), 6)
                     AS cuped_diff
            FROM (
              SELECT *,
                     CASE WHEN n * sxx - sx * sx > 0
                          THEN CAST(n * sxy - sx * sy AS DOUBLE)
                               / CAST(n * sxx - sx * sx AS DOUBLE) END AS theta,
                     CASE WHEN n_a > 0 AND n - n_a > 0
                          THEN sy_a / n_a / 100 - sy_b / (n - n_a) / 100 END AS raw
              FROM per
            )
            ORDER BY series
        """,
        # round-6 second session: WoE/IV — one log of an exact integer
        # cross-ratio per category, NULL on degenerate categories
        "q_woe_iv": """
            WITH g AS (
              SELECT event_id, event_type AS cat, value,
                     row_number() OVER (ORDER BY value, event_id) AS rn,
                     count(*) OVER () AS n
              FROM events
              WHERE value IS NOT NULL
            ),
            t AS (
              SELECT *, max(CASE WHEN rn = CAST(floor((n + 1) / 2) AS BIGINT)
                                 THEN value END) OVER () AS thr
              FROM g
            ),
            y AS (SELECT cat, CAST(value > thr AS BIGINT) AS y FROM t),
            c AS (
              SELECT cat, CAST(count(*) AS BIGINT) AS n_cat,
                     CAST(sum(y) AS BIGINT) AS succ_cat,
                     CAST(count(*) - sum(y) AS BIGINT) AS fail_cat
              FROM y GROUP BY cat
            ),
            e AS (
              SELECT *, sum(succ_cat) OVER () AS succ_tot,
                     sum(fail_cat) OVER () AS fail_tot
              FROM c
            )
            SELECT cat, n_cat, succ_cat, fail_cat,
                   CASE WHEN succ_cat > 0 AND fail_cat > 0
                        THEN round(ln(CAST(succ_cat * fail_tot AS DOUBLE)
                                      / CAST(fail_cat * succ_tot AS DOUBLE)), 6)
                   END AS woe,
                   CASE WHEN succ_cat > 0 AND fail_cat > 0
                        THEN round((succ_cat / succ_tot - fail_cat / fail_tot)
                             * ln(CAST(succ_cat * fail_tot AS DOUBLE)
                                  / CAST(fail_cat * succ_tot AS DOUBLE)), 6)
                   END AS iv_term
            FROM e ORDER BY cat
        """,
        # round-6 second session: DBSCAN — sqrt-free integer ε-test,
        # recursive reachability CC, planted dense groups
        "q_dbscan_clusters": _dbscan_oracle_sql(block=False),
        # injected-pair-source twin: identical CTE chain, the eps join
        # additionally requires sign-block bucket equality (the integer
        # axis-aligned hyperplane replay of similarity.sign_block_pairs)
        "q_dbscan_lsh": _dbscan_oracle_sql(block=True),
        # round 10: SemDeDup — kmeans + same-cell eps-pairs + reach CC
        "q_semdedup": _semdedup_oracle_sql(),
        "q_semdedup_blocked": _semdedup_oracle_sql(block_bits=8),
        "q_semdedup_auto": _semdedup_oracle_sql(max_cell_rows=60, guard_block_bits=12),
        "q_semdedup_incremental": _semdedup_incr_oracle_sql(),
        # round 11: MinHash steady-state statuses + semantic decontamination
        "q_minhash_incremental": _minhash_incr_status_oracle_sql(),
        "q_semantic_contamination": _semantic_contam_oracle_sql(),
        # round 11: visual steady-state dedup — oracle brute-forces the
        # pair search, certifying the pigeonhole banding cross-engine
        "q_phash_incremental_verified": _phash_incr_oracle_sql(),
        # round 11: DoReMi-shaped excess-loss mixture tilt
        "q_domain_reweight": _domain_reweight_oracle_sql(),
        # round-7: packing layout — exclusive integer prefix sum over the
        # doc_id total order; bin/pos by floor-div/mod at L=2048
        "q_pack_layout": f"""
            WITH t AS (
              SELECT doc_id, CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens
              FROM documents
            ),
            p AS (
              SELECT doc_id, n_tokens,
                     CAST(COALESCE(sum(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS BIGINT) AS tok_offset
              FROM t
            )
            SELECT doc_id, n_tokens, tok_offset,
                   CAST(tok_offset // 2048 AS BIGINT) AS bin,
                   CAST(tok_offset % 2048 AS BIGINT) AS pos_in_bin,
                   n_tokens > 0 AND
                     (tok_offset + n_tokens - 1) // 2048 > tok_offset // 2048
                     AS straddles
            FROM p ORDER BY doc_id
        """,
        # round-7: per-source trigram novelty — min-doc-id first-seen
        # owner over the distinct per-doc shingle sets (the banded-CTE
        # shingle expression), integer counts, raw-ratio rate
        "q_ngram_novelty": f"""
            WITH tok AS (SELECT doc_id, source, {_TOKENS_SQL} AS t FROM documents),
            sh AS (
              SELECT doc_id, source,
                     unnest(CASE WHEN len(t) >= 3 THEN
                       list_distinct(list_filter(list_transform(t, (x, i) ->
                         CASE WHEN i + 2 <= len(t)
                              THEN x || ' ' || t[i+1] || ' ' || t[i+2] END),
                         g -> g IS NOT NULL))
                       ELSE [COALESCE(array_to_string(t, ' '), '')] END) AS g
              FROM tok
            ),
            fl AS (
              SELECT *, min(doc_id) OVER (PARTITION BY g) AS first_doc FROM sh
            )
            SELECT source,
                   count(DISTINCT doc_id) AS n_docs,
                   CAST(count(*) AS BIGINT) AS n_grams,
                   CAST(sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_novel,
                   CAST(sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
                        AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty_rate
            FROM fl GROUP BY source ORDER BY source
        """,
        # round-7: Poisson bootstrap — shared integer thresholds, exact
        # rank selection, raw integer-ratio doubles
        "q_bootstrap_ci": _bootstrap_ci_oracle_sql(),
        # round-7: HHI concentration — BIGINT token sums, raw divisions
        "q_source_hhi": f"""
            WITH t AS (
              SELECT lang AS stratum, source AS grp,
                     CAST(sum(len({_TOKENS_SQL})) AS BIGINT) AS t_s
              FROM documents GROUP BY 1, 2
            ),
            per AS (
              SELECT stratum, CAST(count(*) AS BIGINT) AS n_sources,
                     CAST(sum(t_s) AS BIGINT) AS n_tokens,
                     CAST(sum(t_s * t_s) AS BIGINT) AS sq,
                     CAST(max(t_s) AS BIGINT) AS top
              FROM t GROUP BY stratum
            )
            SELECT stratum, n_sources, n_tokens,
                   CASE WHEN n_tokens > 0 THEN
                     CAST(sq AS DOUBLE) / CAST(n_tokens * n_tokens AS DOUBLE)
                   END AS hhi,
                   CASE WHEN n_tokens > 0 THEN
                     round(1.0 / (CAST(sq AS DOUBLE)
                                  / CAST(n_tokens * n_tokens AS DOUBLE)), 6)
                   END AS effective_sources,
                   CASE WHEN n_tokens > 0 THEN
                     CAST(top AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                   END AS top_share
            FROM per ORDER BY stratum
        """,
        # round-7: Pareto skyline — per-cost max-gain grid + lag-exclusive
        # running max; parquet-native doubles only
        "q_pareto_front": """
            WITH grid AS (
              SELECT l_returnflag AS grp, l_extendedprice AS cost,
                     max(l_quantity) AS gain
              FROM lineitem GROUP BY 1, 2
            ),
            s AS (
              SELECT *, max(gain) OVER (
                PARTITION BY grp ORDER BY cost
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
              FROM grid
            )
            SELECT grp, cost, gain FROM s
            WHERE prev IS NULL OR gain > prev
            ORDER BY grp, cost
        """,
        # round-7: AMOC changepoint — denominator-cleared integer CUSUM
        # argmax, smallest-k tie-break; floor(+0.5) quantization
        "q_changepoint": """
            WITH daily AS (
              SELECT event_type AS series, date_trunc('day', ts) AS day,
                     CAST(floor(round(sum(value), 4) * 10000 + 0.5) AS BIGINT) AS yq
              FROM events GROUP BY 1, 2
            ),
            g AS (
              SELECT series, day, yq,
                     CAST(row_number() OVER (PARTITION BY series ORDER BY day)
                          AS BIGINT) AS k,
                     CAST(sum(yq) OVER (PARTITION BY series ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS BIGINT) AS p,
                     CAST(count(*) OVER (PARTITION BY series) AS BIGINT) AS n,
                     CAST(sum(yq) OVER (PARTITION BY series) AS BIGINT) AS s
              FROM daily
            ),
            cand AS (
              SELECT *, abs(n * p - k * s) AS stat FROM g WHERE k < n
            ),
            best AS (
              SELECT *, row_number() OVER (
                PARTITION BY series ORDER BY stat DESC, k ASC) AS rk
              FROM cand
            ),
            sel AS (
              -- RAW divisions (percent_rank rule): round(,6) was a latent
              -- tie-splitter for odd p (see changepoint_amoc docstring)
              SELECT series, n AS n_days, CAST(day AS TIMESTAMP) AS cp_day,
                     k AS cp_k, stat,
                     CAST(p AS DOUBLE) / CAST(k * 10000 AS DOUBLE)
                       AS mean_before,
                     CAST(s - p AS DOUBLE)
                           / CAST((n - k) * 10000 AS DOUBLE) AS mean_after
              FROM best WHERE rk = 1
            ),
            all_series AS (SELECT DISTINCT series FROM daily)
            SELECT a.series, sel.n_days, sel.cp_day, sel.cp_k, sel.stat,
                   sel.mean_before, sel.mean_after
            FROM all_series a LEFT JOIN sel USING (series)
            ORDER BY series
        """,
        # round-7: power iteration unrolled (LPA/MMR/PageRank precedent)
        "q_dominant_direction": _dominant_direction_oracle_sql(),
        "q_anisotropy": _anisotropy_oracle_sql(),
        # round-7: Newman assortativity over the banded pair graph — the
        # sqrt cancels by edge symmetry; agreement >= 16/32 = est >= 0.5
        "q_assortativity": _portable_banded_cte() + """,
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     a.sig AS sig_a, b.sig AS sig_b
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.bucket = b.bucket
                   AND a.doc_id < b.doc_id
            ),
            prs AS (
              SELECT doc_a AS a, doc_b AS b FROM cand
              WHERE len(list_filter(range(1, 33), i -> sig_a[i] = sig_b[i])) >= 16
            ),
            und AS (SELECT a, b FROM prs UNION ALL SELECT b, a FROM prs),
            deg AS (SELECT a, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY a),
            p AS (
              SELECT dx.d AS dx, dy.d AS dy
              FROM und JOIN deg dx ON und.a = dx.a
                       JOIN deg dy ON und.b = dy.a
            ),
            s AS (
              SELECT CAST(count(*) AS BIGINT) AS m2,
                     CAST(sum(dx) AS BIGINT) AS sx,
                     CAST(sum(dx * dy) AS BIGINT) AS sxy,
                     CAST(sum(dx * dx) AS BIGINT) AS sxx
              FROM p
            ),
            n AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
            SELECT CAST(m2 / 2 AS BIGINT) AS n_edges, n_nodes,
                   CASE WHEN CAST(m2 * sxx - sx * sx AS DOUBLE) > 0 THEN
                     round(CAST(m2 * sxy - sx * sx AS DOUBLE)
                           / CAST(m2 * sxx - sx * sx AS DOUBLE), 6)
                   END AS assortativity
            FROM s CROSS JOIN n
        """,
        # round-7: Gini rank form — all-BIGINT sums, one raw division;
        # top decile by the integer ceil(n/10) rank rule
        "q_activity_gini": """
            WITH cnt AS (
              SELECT event_type AS series, user_id AS u,
                     CAST(count(*) AS BIGINT) AS x
              FROM events GROUP BY 1, 2
            ),
            g AS (
              SELECT series, x,
                     CAST(row_number() OVER (PARTITION BY series ORDER BY x, u)
                          AS BIGINT) AS i,
                     CAST(count(*) OVER (PARTITION BY series) AS BIGINT) AS n,
                     CAST(sum(x) OVER (PARTITION BY series) AS BIGINT) AS sx
              FROM cnt
            ),
            per AS (
              SELECT series, max(n) AS n_users, max(sx) AS n_events,
                     CAST(sum(i * x) AS BIGINT) AS ix,
                     CAST(sum(CASE WHEN i > n - ((n + 9) // 10) THEN x
                                   ELSE 0 END) AS BIGINT) AS top
              FROM g GROUP BY series
            )
            SELECT series, n_users, n_events,
                   CASE WHEN n_users > 0 AND n_events > 0 THEN
                     CAST(2 * ix - (n_users + 1) * n_events AS DOUBLE)
                       / CAST(n_users * n_events AS DOUBLE) END AS gini,
                   CASE WHEN n_users > 0 AND n_events > 0 THEN
                     CAST(top AS DOUBLE) / CAST(n_events AS DOUBLE)
                   END AS top_decile_share
            FROM per ORDER BY series
        """,
        # round-7: trailing exact median — bounded-frame list window,
        # element selection at floor((n+1)/2), never interpolation
        "q_rolling_median": """
            WITH daily AS (
              SELECT event_type AS series, date_trunc('day', ts) AS day,
                     round(sum(value), 4) AS y
              FROM events GROUP BY 1, 2
            ),
            g AS (
              -- list() keeps NULL daily totals where Spark's collect_list
              -- drops them: filter NULLs so both engines take the median
              -- over the frame's non-null totals (NULL med if none)
              SELECT series, day, y,
                     list_sort(list_filter(list(y) OVER (
                       PARTITION BY series ORDER BY day
                       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
                       x -> x IS NOT NULL)) AS a
              FROM daily
            )
            SELECT series, CAST(day AS TIMESTAMP) AS day, y,
                   CASE WHEN len(a) > 0
                        THEN a[CAST((len(a) + 1) // 2 AS INTEGER)] END AS med,
                   CAST(len(a) AS BIGINT) AS n_window
            FROM g ORDER BY series, day
        """,
        # round-7: per-node triangles over the banded LSH pair graph —
        # agreement >= 16/32 is the integer form of est_jaccard >= 0.5
        "q_triangle_degree": _portable_banded_cte() + """,
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     a.sig AS sig_a, b.sig AS sig_b
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.bucket = b.bucket
                   AND a.doc_id < b.doc_id
            ),
            prs AS (
              SELECT doc_a, doc_b FROM cand
              WHERE len(list_filter(range(1, 33), i -> sig_a[i] = sig_b[i])) >= 16
            ),
            tri AS (
              SELECT ab.doc_a AS a, ab.doc_b AS b, bc.doc_b AS c
              FROM prs ab
              JOIN prs bc ON ab.doc_b = bc.doc_a
              JOIN prs ac ON ac.doc_a = ab.doc_a AND ac.doc_b = bc.doc_b
            ),
            nodes AS (
              SELECT a AS doc_id FROM tri
              UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri
            )
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles
            FROM nodes GROUP BY doc_id ORDER BY doc_id
        """,
        # round-7: calibration bins — BIGINT sums, one pinned division
        # per emitted float, ECE summand left per-row (no float summation)
        "q_calibration_bins": """
            WITH b AS (
              SELECT (CAST(json_extract_string(props, '$.k') AS BIGINT) * 10)
                       // 100 AS bin,
                     CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                     CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
              FROM events
            ),
            g AS (
              SELECT bin, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(k) AS BIGINT) AS sk,
                     CAST(sum(y) AS BIGINT) AS sy
              FROM b WHERE bin IS NOT NULL GROUP BY bin
            ),
            t AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM b WHERE bin IS NOT NULL)
            SELECT bin, n,
                   round(CAST(sk AS DOUBLE) / CAST(n * 100 AS DOUBLE), 6) AS mean_pred,
                   round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate,
                   round(abs(CAST(sk AS DOUBLE) / CAST(n * 100 AS DOUBLE)
                             - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS gap,
                   round(CAST(n AS DOUBLE)
                         * abs(CAST(sk AS DOUBLE) / CAST(n * 100 AS DOUBLE)
                               - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                         / CAST(n_tot AS DOUBLE), 6) AS ece_term
            FROM g CROSS JOIN t ORDER BY bin
        """,
        # round-7: strict-sequence funnel — integer window-min recurrence
        # over one user partitioning; strictly-after cursor semantics
        "q_funnel_strict": """
            WITH e AS (
              SELECT user_id, event_type AS t, epoch_us(ts) AS us FROM events
            ),
            w0 AS (SELECT *, min(CASE WHEN t = 'view' THEN us END)
                     OVER (PARTITION BY user_id) AS s0 FROM e),
            w1 AS (SELECT *, min(CASE WHEN t = 'click' AND us > s0 THEN us END)
                     OVER (PARTITION BY user_id) AS s1 FROM w0),
            w2 AS (SELECT *, min(CASE WHEN t = 'purchase' AND us > s1 THEN us END)
                     OVER (PARTITION BY user_id) AS s2 FROM w1),
            pu AS (
              SELECT user_id, max(s0) AS s0, max(s1) AS s1, max(s2) AS s2
              FROM w2 GROUP BY user_id
            ),
            c AS (
              SELECT CAST(count(*) AS BIGINT) AS n_users,
                     CAST(sum(CASE WHEN s0 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n0,
                     CAST(sum(CASE WHEN s1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                     CAST(sum(CASE WHEN s2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n2
              FROM pu
            )
            SELECT * FROM (
              SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step, n0 AS n_reached,
                     CASE WHEN n_users > 0
                          THEN CAST(n0 AS DOUBLE) / CAST(n_users AS DOUBLE) END
                       AS conv_from_prev,
                     CASE WHEN n0 > 0
                          THEN CAST(n0 AS DOUBLE) / CAST(n0 AS DOUBLE) END
                       AS conv_from_first
              FROM c
              UNION ALL
              SELECT CAST(2 AS BIGINT), 'click', n1,
                     CASE WHEN n0 > 0 THEN CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE) END,
                     CASE WHEN n0 > 0 THEN CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE) END
              FROM c
              UNION ALL
              SELECT CAST(3 AS BIGINT), 'purchase', n2,
                     CASE WHEN n1 > 0 THEN CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE) END,
                     CASE WHEN n0 > 0 THEN CAST(n2 AS DOUBLE) / CAST(n0 AS DOUBLE) END
              FROM c
            ) ORDER BY step_idx
        """,
        # round-7: exact midrank AUC — 2·midrank stays BIGINT over the
        # (series, score) grid; one final integer-ratio division
        "q_auc_scores": """
            WITH g AS (
              SELECT event_type AS series, value AS score,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN CAST(json_extract_string(props, '$.k')
                                        AS BIGINT) >= 50
                                   THEN 1 ELSE 0 END) AS BIGINT) AS p
              FROM events
              WHERE value IS NOT NULL
                AND json_extract_string(props, '$.k') IS NOT NULL
              GROUP BY 1, 2
            ),
            m AS (
              SELECT *, CAST(2 * COALESCE(sum(n) OVER (
                       PARTITION BY series ORDER BY score
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       + n + 1 AS BIGINT) AS mid2
              FROM g
            ),
            per AS (
              SELECT series, CAST(sum(p) AS BIGINT) AS n_pos,
                     CAST(sum(n) - sum(p) AS BIGINT) AS n_neg,
                     CAST(sum(p * mid2) AS BIGINT) AS r2_pos
              FROM m GROUP BY series
            )
            SELECT series, n_pos, n_neg,
                   CASE WHEN n_pos > 0 AND n_neg > 0 THEN
                     CAST(r2_pos - n_pos * (n_pos + 1) AS DOUBLE)
                       / CAST(2 * n_pos * n_neg AS DOUBLE) END AS auc,
                   CASE WHEN n_pos > 0 AND n_neg > 0 THEN
                     2 * (CAST(r2_pos - n_pos * (n_pos + 1) AS DOUBLE)
                       / CAST(2 * n_pos * n_neg AS DOUBLE)) - 1 END AS gini
            FROM per ORDER BY series
        """,
        # round-7: chi-square residual cells — E and the contribution are
        # the only float ops, replayed in identical order; chi2_series
        # sums the two ROUNDED cell terms (commutative, order-safe)
        "q_chi_square": """
            WITH cells AS (
              SELECT event_type AS series,
                     CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
                       AS label,
                     CAST(count(*) AS BIGINT) AS o
              FROM events
              WHERE json_extract_string(props, '$.k') IS NOT NULL
                AND event_type IS NOT NULL
              GROUP BY 1, 2
            ),
            rowm AS (SELECT series, CAST(sum(o) AS BIGINT) AS r
                     FROM cells GROUP BY series),
            colm AS (SELECT label, CAST(sum(o) AS BIGINT) AS c
                     FROM cells GROUP BY label),
            tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
            base AS (
              SELECT series, label, o,
                     round(CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE), 6) AS e,
                     round((CAST(o AS DOUBLE)
                            - CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE))
                           * (CAST(o AS DOUBLE)
                              - CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE))
                           / (CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE)), 6)
                       AS chi2_term
              FROM cells JOIN rowm USING (series) JOIN colm USING (label)
                   CROSS JOIN tot
            )
            SELECT series, label, o, e, chi2_term,
                   round(sum(chi2_term) OVER (PARTITION BY series), 6)
                     AS chi2_series
            FROM base ORDER BY series, label
        """,
        # round-7: Hamilton apportionment split — all-integer seats,
        # md5-priority fill within stratum
        "q_quota_split": """
            WITH s AS (
              SELECT lang AS stratum, CAST(count(*) AS BIGINT) AS n_s
              FROM documents GROUP BY lang
            ),
            t AS (SELECT CAST(sum(n_s) AS BIGINT) AS n,
                         CAST(sum(n_s // 10) AS BIGINT) AS base_sum FROM s),
            q AS (
              SELECT stratum, n_s // 10 AS base, n_s % 10 AS rem,
                     row_number() OVER (ORDER BY n_s % 10 DESC, stratum) AS seat
              FROM s
            ),
            qq AS (
              SELECT q.stratum,
                     CAST(q.base + CASE WHEN q.seat <= (t.n // 10 - t.base_sum)
                                        THEN 1 ELSE 0 END AS BIGINT) AS quota
              FROM q CROSS JOIN t
            ),
            r AS (
              SELECT doc_id, lang AS stratum,
                     CAST(row_number() OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                     AS BIGINT) AS rk
              FROM documents
            )
            SELECT r.doc_id, r.stratum,
                   CASE WHEN r.rk <= qq.quota THEN 'val' ELSE 'train' END AS split
            FROM r JOIN qq USING (stratum)
            ORDER BY doc_id
        """,
        # round-7: cohort retention — integer distinct counts, raw
        # integer-ratio retention (the percent_rank no-round precedent)
        "q_retention_cohorts": """
            WITH active AS (
              SELECT DISTINCT user_id AS u, date_trunc('day', ts) AS day
              FROM events
            ),
            firstd AS (SELECT u, min(day) AS cohort_day FROM active GROUP BY u),
            sizes AS (
              SELECT cohort_day, count(DISTINCT u) AS cohort_size
              FROM firstd GROUP BY cohort_day
            ),
            cells AS (
              SELECT f.cohort_day,
                     CAST(date_diff('day', CAST(f.cohort_day AS DATE),
                                    CAST(a.day AS DATE)) // 7 AS BIGINT)
                       AS week_offset,
                     count(DISTINCT a.u) AS n_active
              FROM active a JOIN firstd f ON a.u = f.u
              GROUP BY 1, 2
            )
            SELECT CAST(c.cohort_day AS TIMESTAMP) AS cohort_day,
                   c.week_offset, s.cohort_size, c.n_active,
                   CAST(c.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
                     AS retention
            FROM cells c JOIN sizes s USING (cohort_day)
            ORDER BY cohort_day, week_offset
        """,
        # round-6 second session: split conformal — exact element selection
        # at the conformal rank, seasonal-naive base via day-index grid join
        "q_conformal_intervals": """
            WITH dailyraw AS (
              SELECT event_type AS series, date_trunc('day', ts) AS day,
                     round(sum(value), 4) AS y,
                     date_diff('day', DATE '2024-01-01',
                               CAST(date_trunc('day', ts) AS DATE)) AS d
              FROM events GROUP BY 1, 2
            ),
            -- NULL daily totals are not observations (see holt_forecast)
            daily AS (SELECT * FROM dailyraw WHERE y IS NOT NULL),
            base AS (
              SELECT t.series, t.day, t.d, t.y, p.y AS yhat
              FROM daily t JOIN daily p ON t.series = p.series AND t.d = p.d + 7
            ),
            pos AS (
              SELECT *, row_number() OVER (PARTITION BY series ORDER BY d) AS rn,
                     count(*) OVER (PARTITION BY series) AS n,
                     round(abs(y - yhat), 4) AS r
              FROM base
            ),
            cal AS (
              SELECT *, row_number() OVER (PARTITION BY series ORDER BY r, day) AS cr,
                     count(*) OVER (PARTITION BY series) AS nc
              FROM pos WHERE rn <= CAST(floor(n * 80 / 100) AS BIGINT)
            ),
            qh AS (
              SELECT series, r AS qhat FROM cal
              WHERE cr = least(CAST(ceil((nc + 1) * 90 / 100) AS BIGINT), nc)
            )
            SELECT p.series, CAST(p.day AS TIMESTAMP) AS day, p.y, p.yhat,
                   round(p.yhat - q.qhat, 4) AS lo,
                   round(p.yhat + q.qhat, 4) AS hi,
                   p.y >= round(p.yhat - q.qhat, 4)
                     AND p.y <= round(p.yhat + q.qhat, 4) AS covered
            FROM pos p JOIN qh q ON p.series = q.series
            WHERE p.rn > CAST(floor(p.n * 80 / 100) AS BIGINT)
            ORDER BY p.series, p.day
        """,
        # round-6 second session: KS test — integer D numerator via
        # cross-multiplied ECDF counts over the (series, value) grid
        "q_ks_test": """
            WITH g AS (
              SELECT event_type AS series, value AS v,
                     CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
                     CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b
              FROM events
              WHERE value IS NOT NULL AND user_id IS NOT NULL
              GROUP BY 1, 2
            ),
            e AS (
              SELECT series,
                     sum(a) OVER (PARTITION BY series ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
                     sum(b) OVER (PARTITION BY series ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
                     sum(a) OVER (PARTITION BY series) AS na,
                     sum(b) OVER (PARTITION BY series) AS nb
              FROM g
            ),
            per AS (
              SELECT series,
                     CAST(max(na) AS BIGINT) AS n_a,
                     CAST(max(nb) AS BIGINT) AS n_b,
                     CAST(max(abs(ca * nb - cb * na)) AS BIGINT) AS d_num
              FROM e GROUP BY series
            )
            SELECT series, n_a, n_b, d_num,
                   CASE WHEN n_a > 0 AND n_b > 0
                        THEN round(d_num / (n_a * n_b), 6) END AS d,
                   CASE WHEN n_a > 0 AND n_b > 0
                        THEN CAST(d_num AS DOUBLE) > 1.3581015157406195
                          * sqrt(CAST((n_a + n_b) * n_a * n_b AS DOUBLE)) END AS significant_05
            FROM per ORDER BY series
        """,
        # round-6 second session: lead-lag CCF — integer sufficient stats
        # per lag over the shifted-grid equi-join, pinned Pearson tail
        "q_lead_lag_ccf": """
            WITH daily AS (
              SELECT event_type AS series,
                     date_diff('day', DATE '2024-01-01',
                               CAST(date_trunc('day', ts) AS DATE)) AS d,
                     CAST(count(*) AS BIGINT) AS x
              FROM events GROUP BY 1, 2
            ),
            gx AS (SELECT d, x AS xv FROM daily WHERE series = 'view'),
            gy AS (SELECT d AS dy, x AS yv FROM daily WHERE series = 'purchase'),
            lags AS (
              SELECT gx.*, l.lag
              FROM gx CROSS JOIN (SELECT unnest(range(-7, 8)) AS lag) l
            ),
            j AS (SELECT * FROM lags JOIN gy ON d + lag = dy),
            per AS (
              SELECT lag,
                     CAST(count(*) AS BIGINT) AS n_obs,
                     CAST(sum(xv) AS BIGINT) AS sx,
                     CAST(sum(yv) AS BIGINT) AS sy,
                     CAST(sum(xv * yv) AS BIGINT) AS sxy,
                     CAST(sum(xv * xv) AS BIGINT) AS sxx,
                     CAST(sum(yv * yv) AS BIGINT) AS syy
              FROM j GROUP BY lag
            )
            SELECT CAST(lag AS BIGINT) AS lag, n_obs, sxy,
                   CASE WHEN n_obs * sxx - sx * sx > 0
                         AND n_obs * syy - sy * sy > 0
                        THEN round(CAST(n_obs * sxy - sx * sy AS DOUBLE)
                             / (sqrt(CAST(n_obs * sxx - sx * sx AS DOUBLE))
                                * sqrt(CAST(n_obs * syy - sy * sy AS DOUBLE))), 6)
                   END AS pearson_r
            FROM per ORDER BY lag
        """,
        # round-6 second session: isotonic PAV — closed minimax form over
        # the bounded bin frame, prefix-sum averages
        "q_isotonic_calibration": """
            WITH b AS (
              SELECT CAST(floor(value / 50.0) AS BIGINT) AS bin,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                          AS BIGINT) AS pos
              FROM events
              WHERE floor(value / 50.0) BETWEEN 0 AND 19
              GROUP BY 1
            ),
            pref AS (
              SELECT *,
                     sum(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cn,
                     sum(pos) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cp
              FROM b
            ),
            jk AS (
              SELECT j.bin AS jb, k.bin AS kb,
                     (k.cp - j.cp + j.pos) / (k.cn - j.cn + j.n) AS avg
              FROM pref j JOIN pref k ON j.bin <= k.bin
            ),
            mji AS (
              SELECT i.bin AS i, jk.jb, min(jk.avg) AS m
              FROM jk JOIN b i ON jk.jb <= i.bin AND jk.kb >= i.bin
              GROUP BY 1, 2
            ),
            fit AS (SELECT i, max(m) AS fitted FROM mji GROUP BY 1)
            SELECT b.bin, b.n, b.pos,
                   round(b.pos / b.n, 6) AS raw_rate,
                   round(fitted, 6) AS isotonic_rate
            FROM b JOIN fit ON b.bin = fit.i
            ORDER BY bin
        """,
        # round-6 second session: Mann-Whitney — doubled midranks keep the
        # U statistic integer; tie term summed per row as t^2-1
        "q_mann_whitney": """
            WITH g AS (
              SELECT event_type AS series, value,
                     CAST(user_id % 2 AS INTEGER) AS variant,
                     CAST(count(*) OVER (PARTITION BY event_type, value) AS BIGINT) AS t,
                     CAST(rank() OVER (PARTITION BY event_type ORDER BY value) AS BIGINT) AS r
              FROM events
              WHERE value IS NOT NULL AND user_id IS NOT NULL
            ),
            per AS (
              SELECT series,
                CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                CAST(sum(CASE WHEN variant = 0 THEN 2 * r + t - 1 ELSE 0 END) AS BIGINT) AS r2a,
                CAST(sum(t * t - 1) AS BIGINT) AS ties
              FROM g GROUP BY series
            )
            SELECT series, n_a, n_b,
                   CAST(r2a - n_a * (n_a + 1) AS BIGINT) AS u2_a,
                   round(z, 6) AS z,
                   z * z > 3.841458820694124 AS significant_05
            FROM (
              SELECT *,
                     CASE WHEN n_a > 0 AND n_b > 0 AND
                          (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
                           * (CAST(n_a + n_b + 1 AS DOUBLE)
                              - CAST(ties AS DOUBLE)
                                / CAST((n_a + n_b) * (n_a + n_b - 1) AS DOUBLE))) > 0
                     THEN CAST(r2a - n_a * (n_a + 1) - n_a * n_b AS DOUBLE)
                       / (2.0 * sqrt(
                           CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
                           * (CAST(n_a + n_b + 1 AS DOUBLE)
                              - CAST(ties AS DOUBLE)
                                / CAST((n_a + n_b) * (n_a + n_b - 1) AS DOUBLE)))) END AS z
              FROM per
            )
            ORDER BY series
        """,
        # round-6 second session: mutual NN — the label_separation
        # integer-dot recipe, argmax by (−cos, id) total order on both sides
        "q_mutual_nn": """
            WITH v AS (
              SELECT vec_id AS id, label,
                     list_transform(CAST(embedding AS DOUBLE[]),
                                    x -> CAST(round(x * 10000) AS BIGINT)) AS v
              FROM embeddings WHERE label IN (0, 1)
            ),
            e AS (
              SELECT id, label, v,
                     CAST(list_sum(list_transform(range(1, len(v) + 1),
                          i -> v[i] * v[i])) AS BIGINT) AS n2
              FROM v
            ),
            scored AS (
              SELECT a.id AS id_a, b.id AS id_b,
                     CAST(list_sum(list_transform(range(1, len(a.v) + 1),
                          i -> a.v[i] * b.v[i])) AS BIGINT)
                       / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cos
              FROM e a JOIN e b ON a.label = 0 AND b.label = 1
              -- zero-norm rows have no defined neighbor (Spark filters
              -- NULL cos before its argmax; round-8 fuzz find)
              WHERE a.n2 > 0 AND b.n2 > 0
            ),
            ab AS (
              SELECT id_a, id_b, cos FROM (
                SELECT *, row_number() OVER (PARTITION BY id_a
                           ORDER BY cos DESC, id_b ASC) AS rn
                FROM scored) WHERE rn = 1
            ),
            ba AS (
              SELECT id_b, id_a AS back_a FROM (
                SELECT *, row_number() OVER (PARTITION BY id_b
                           ORDER BY cos DESC, id_a ASC) AS rn
                FROM scored) WHERE rn = 1
            )
            SELECT ab.id_a, ab.id_b, round(ab.cos, 6) AS cos
            FROM ab JOIN ba ON ab.id_b = ba.id_b AND ab.id_a = ba.back_a
            ORDER BY id_a
        """,
        # round-6 second session: A/B z-test — exact counts, pinned IEEE z
        "q_ab_ztest": """
            WITH g AS (
              SELECT event_type AS series, value, event_id,
                     CAST(user_id % 2 AS INTEGER) AS variant
              FROM events
              WHERE value IS NOT NULL AND user_id IS NOT NULL
            ),
            r AS (
              SELECT *, row_number() OVER (PARTITION BY series
                          ORDER BY value, event_id) AS rn,
                     count(*) OVER (PARTITION BY series) AS n
              FROM g
            ),
            t AS (
              SELECT *, max(CASE WHEN rn = CAST(floor((n + 1) / 2) AS BIGINT)
                                 THEN value END)
                          OVER (PARTITION BY series) AS thr
              FROM r
            ),
            agg AS (
              SELECT series,
                CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                CAST(sum(CASE WHEN variant = 0 AND value > thr THEN 1 ELSE 0 END) AS BIGINT) AS succ_a,
                CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                CAST(sum(CASE WHEN variant = 1 AND value > thr THEN 1 ELSE 0 END) AS BIGINT) AS succ_b
              FROM t GROUP BY series
            )
            SELECT series, n_a, succ_a, n_b, succ_b,
                   CASE WHEN n_a > 0 THEN round(succ_a / n_a, 6) END AS rate_a,
                   CASE WHEN n_b > 0 THEN round(succ_b / n_b, 6) END AS rate_b,
                   round(z, 6) AS z,
                   z * z > 3.841458820694124 AS significant_05
            FROM (
              SELECT *,
                     CASE WHEN n_a > 0 AND n_b > 0
                           AND (succ_a + succ_b) > 0
                           AND (succ_a + succ_b) < (n_a + n_b)
                     THEN (succ_a / n_a - succ_b / n_b)
                       / sqrt(((succ_a + succ_b) / (n_a + n_b))
                              * (1 - (succ_a + succ_b) / (n_a + n_b))
                              * (1 / n_a + 1 / n_b)) END AS z
              FROM agg
            )
            ORDER BY series
        """,
        # round-6 second session: purged walk-forward folds — integer
        # date/rank arithmetic over the bounded daily grid
        "q_purged_folds": """
            WITH daily AS (
              SELECT date_trunc('day', ts) AS day,
                     CAST(count(*) AS BIGINT) AS n_events
              FROM events GROUP BY 1
            ),
            r AS (
              SELECT day, n_events,
                     row_number() OVER (ORDER BY day) - 1 AS day_idx,
                     count(*) OVER () AS n
              FROM daily
            ),
            ev AS (
              SELECT r.*, f.eval_fold
              FROM r CROSS JOIN (SELECT unnest(range(5)) AS eval_fold) f
            )
            SELECT CAST(eval_fold AS BIGINT) AS eval_fold,
                   CAST(day AS TIMESTAMP) AS day,
                   CAST(day_idx AS BIGINT) AS day_idx,
                   CAST(floor(day_idx * 5 / n) AS BIGINT) AS fold,
                   CASE WHEN floor(day_idx * 5 / n) = eval_fold THEN 'test'
                        WHEN floor(day_idx * 5 / n) > eval_fold THEN 'future'
                        WHEN day_idx >= CAST(ceil(eval_fold * n / 5) AS BIGINT) - 3
                          THEN 'embargo'
                        ELSE 'train' END AS role,
                   n_events
            FROM ev ORDER BY eval_fold, day
        """,
        # round-6: Theil-Sen — lower-median element selection (never an
        # interpolated midpoint), IEEE slope arithmetic over rounded dailies
        "q_theilsen_trend": """
            WITH daily AS (
              SELECT event_type AS series, date_trunc('day', ts) AS day,
                     round(sum(value), 4) AS y
              FROM events GROUP BY 1, 2
            ),
            grid AS (
              -- NULL daily totals are not observations (see holt_forecast)
              SELECT series, y, date_diff('day', DATE '2024-01-01', CAST(day AS DATE)) AS d
              FROM daily WHERE y IS NOT NULL
            ),
            slopes AS (
              SELECT a.series, (b.y - a.y) / CAST(b.d - a.d AS DOUBLE) AS slope
              FROM grid a JOIN grid b ON a.series = b.series AND a.d < b.d
            ),
            sel AS (
              SELECT series, slope, m AS n_pairs FROM (
                SELECT series, slope,
                       row_number() OVER (PARTITION BY series ORDER BY slope) AS rn,
                       count(*) OVER (PARTITION BY series) AS m
                FROM slopes
              ) WHERE rn = CAST(floor((m + 1) / 2) AS BIGINT)
            ),
            resid AS (
              SELECT g.series, s.n_pairs, s.slope, g.y - s.slope * g.d AS r
              FROM grid g JOIN sel s ON g.series = s.series
            )
            SELECT series, CAST(k AS BIGINT) AS n_days,
                   CAST(n_pairs AS BIGINT) AS n_pairs,
                   round(slope, 6) AS ts_slope, round(r, 6) AS ts_intercept
            FROM (
              SELECT series, n_pairs, slope, r,
                     row_number() OVER (PARTITION BY series ORDER BY r) AS rn,
                     count(*) OVER (PARTITION BY series) AS k
              FROM resid
            ) WHERE rn = CAST(floor((k + 1) / 2) AS BIGINT)
            ORDER BY series
        """,
        # round-6: label propagation — unrolled argmax chain, total-order
        # tie-break makes the trajectory engine-portable
        "q_label_propagation": _label_propagation_oracle_sql(),
        # round-6: damped Holt — same fold with the φ=0.5 trend damp
        # inlined in the exact operand order (pb computed once in Spark,
        # repeated verbatim here — IEEE multiplication is deterministic)
        "q_holt_damped": """
            WITH RECURSIVE daily AS (
              SELECT event_type AS series, date_trunc('day', ts) AS day,
                     round(sum(value), 4) AS y
              FROM events GROUP BY 1, 2
            ),
            idxd AS (
              -- NULL daily totals are not observations (Spark filters them
              -- before its fold; see holt_forecast round-8 fuzz note)
              SELECT series, y,
                     row_number() OVER (PARTITION BY series ORDER BY day) AS idx,
                     count(*) OVER (PARTITION BY series) AS n
              FROM daily WHERE y IS NOT NULL
            ),
            it AS (
              SELECT series, idx, n, y AS l, CAST(0.0 AS DOUBLE) AS b
              FROM idxd WHERE idx = 1
              UNION ALL
              SELECT d.series, d.idx, d.n,
                     0.5e0 * d.y + 0.5e0 * (it.l + 0.5e0 * it.b) AS l,
                     0.25e0 * ((0.5e0 * d.y + 0.5e0 * (it.l + 0.5e0 * it.b)) - it.l)
                       + 0.75e0 * (0.5e0 * it.b) AS b
              FROM it JOIN idxd d ON d.series IS NOT DISTINCT FROM it.series
                             AND d.idx = it.idx + 1
            )
            SELECT series, CAST(n AS BIGINT) AS n_days,
                   l AS level, b AS trend,
                   l + 0.5e0 * b AS forecast_1,
                   l + 0.9921875e0 * b AS forecast_7
            FROM it WHERE idx = n ORDER BY series
        """,
        # round-6: Holt level+trend fold — the recursive CTE replays the
        # exact IEEE recurrence (0.5/0.25 constants are exact doubles)
        "q_holt_forecast": """
            WITH RECURSIVE daily AS (
              SELECT event_type AS series, date_trunc('day', ts) AS day,
                     round(sum(value), 4) AS y
              FROM events GROUP BY 1, 2
            ),
            idxd AS (
              -- NULL daily totals are not observations (Spark filters them
              -- before its fold; see holt_forecast round-8 fuzz note)
              SELECT series, y,
                     row_number() OVER (PARTITION BY series ORDER BY day) AS idx,
                     count(*) OVER (PARTITION BY series) AS n
              FROM daily WHERE y IS NOT NULL
            ),
            it AS (
              SELECT series, idx, n, y AS l, CAST(0.0 AS DOUBLE) AS b
              FROM idxd WHERE idx = 1
              UNION ALL
              SELECT d.series, d.idx, d.n,
                     0.5e0 * d.y + 0.5e0 * (it.l + it.b) AS l,
                     0.25e0 * ((0.5e0 * d.y + 0.5e0 * (it.l + it.b)) - it.l)
                       + 0.75e0 * it.b AS b
              FROM it JOIN idxd d ON d.series IS NOT DISTINCT FROM it.series
                             AND d.idx = it.idx + 1
            )
            SELECT series, CAST(n AS BIGINT) AS n_days,
                   l AS level, b AS trend,
                   l + 1.0e0 * b AS forecast_1,
                   l + 7.0e0 * b AS forecast_7
            FROM it WHERE idx = n ORDER BY series
        """,
        # round-6: KMV join-size estimate — inclusion-exclusion over the
        # merged union sketch vs the exact pair overlap
        "q_kmv_join_estimate": """
            WITH dist AS (
              SELECT DISTINCT event_type AS grp, user_id AS key,
                     ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS hv
              FROM events
            ),
            st AS (
              SELECT grp, hv FROM (
                SELECT grp, hv, row_number() OVER (PARTITION BY grp ORDER BY hv) AS rn
                FROM (SELECT DISTINCT grp, hv FROM dist)
              ) WHERE rn <= 64
            ),
            est AS (
              SELECT grp,
                     round(CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
                                ELSE 63 * 281474976710656.0 / max(hv) END, 1) AS kmv_estimate
              FROM st GROUP BY grp
            ),
            tp AS (
              SELECT a.grp AS type_a, b.grp AS type_b
              FROM (SELECT DISTINCT grp FROM st) a, (SELECT DISTINCT grp FROM st) b
              WHERE a.grp < b.grp
            ),
            merged AS (
              SELECT DISTINCT tp.type_a, tp.type_b, st.hv
              FROM tp JOIN st ON st.grp = tp.type_a OR st.grp = tp.type_b
            ),
            usk AS (
              SELECT type_a, type_b, count(*) AS n_u, max(hv) AS kth_u FROM (
                SELECT *, row_number() OVER (PARTITION BY type_a, type_b ORDER BY hv) AS rn
                FROM merged
              ) WHERE rn <= 64 GROUP BY type_a, type_b
            ),
            exact AS (
              SELECT a.grp AS type_a, b.grp AS type_b, CAST(count(*) AS BIGINT) AS exact_overlap
              FROM (SELECT DISTINCT grp, key FROM dist) a
              JOIN (SELECT DISTINCT grp, key FROM dist) b
                ON a.key = b.key AND a.grp < b.grp
              GROUP BY 1, 2
            )
            SELECT u.type_a, u.type_b,
                   COALESCE(x.exact_overlap, 0) AS exact_overlap,
                   ea.kmv_estimate AS est_a, eb.kmv_estimate AS est_b,
                   round(CASE WHEN u.n_u < 64 THEN CAST(u.n_u AS DOUBLE)
                              ELSE 63 * 281474976710656.0 / u.kth_u END, 1) AS est_union,
                   round(greatest(0.0, ea.kmv_estimate + eb.kmv_estimate
                         - round(CASE WHEN u.n_u < 64 THEN CAST(u.n_u AS DOUBLE)
                                      ELSE 63 * 281474976710656.0 / u.kth_u END, 1)), 1) AS est_overlap
            FROM usk u
            JOIN est ea ON ea.grp = u.type_a
            JOIN est eb ON eb.grp = u.type_b
            LEFT JOIN exact x ON x.type_a = u.type_a AND x.type_b = u.type_b
            ORDER BY u.type_a, u.type_b
        """,
        # round-6: Heaps'-law vocabulary growth — first-seen bucket per
        # type, cumulative over the bounded curve
        "q_vocab_growth": f"""
            WITH mx AS (SELECT max(doc_id) AS m FROM documents),
            b AS (
              SELECT d.doc_id, d.text,
                     CAST(floor(d.doc_id / (floor(m / 16) + 1)) AS BIGINT) AS bucket
              FROM documents d, mx
            ),
            firsts AS (
              SELECT bucket, CAST(count(*) AS BIGINT) AS new_types FROM (
                SELECT tok, min(bucket) AS bucket
                FROM (SELECT bucket, unnest({_TOKENS_SQL}) AS tok FROM b)
                GROUP BY tok
              ) GROUP BY bucket
            ),
            pb AS (
              SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(len({_TOKENS_SQL})) AS BIGINT) AS n_tokens
              FROM b GROUP BY bucket
            ),
            c AS (
              SELECT pb.bucket, pb.n_docs, pb.n_tokens,
                     CAST(COALESCE(f.new_types, 0) AS BIGINT) AS new_types,
                     CAST(sum(pb.n_tokens) OVER (ORDER BY pb.bucket) AS BIGINT) AS cum_tokens,
                     CAST(sum(COALESCE(f.new_types, 0)) OVER (ORDER BY pb.bucket) AS BIGINT) AS cum_types
              FROM pb LEFT JOIN firsts f ON pb.bucket = f.bucket
            )
            SELECT *, round(CAST(cum_types AS DOUBLE) / cum_tokens, 6) AS type_token_ratio
            FROM c ORDER BY bucket
        """,
        # round-6: water-filling token caps — all-integer closed form
        # replayed stage by stage (profile → sorted scan → first
        # feasible cap → remainder distribution by source order)
        "q_water_fill_caps": f"""
            WITH prof AS (
              -- all-NULL-text source = ZERO capacity, not NULL (see
              -- curate.water_fill_caps, round-8 fuzz find)
              SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(COALESCE(sum(len({_TOKENS_SQL})), 0) AS BIGINT) AS capacity
              FROM documents GROUP BY source
            ),
            s1 AS (
              SELECT *,
                CAST(floor(sum(capacity) OVER () * 60 / 100) AS BIGINT) AS budget,
                COALESCE(sum(capacity) OVER (ORDER BY capacity, source
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix_prev,
                row_number() OVER (ORDER BY capacity, source) AS rn,
                count(*) OVER () AS n
              FROM prof
            ),
            s2 AS (
              SELECT *, budget - prefix_prev AS need, n - rn + 1 AS remaining
              FROM s1
            ),
            capt AS (
              SELECT rn AS cap_rn,
                     CAST(floor(CAST(need AS DOUBLE) / remaining) AS BIGINT) AS t,
                     need % remaining AS rem
              FROM s2 WHERE capacity * remaining >= need
              ORDER BY rn LIMIT 1
            ),
            s3 AS (
              SELECT s2.*, capt.cap_rn, capt.t, capt.rem,
                (capt.cap_rn IS NOT NULL AND s2.rn >= capt.cap_rn) AS capped
              FROM s2 LEFT JOIN capt ON TRUE
            ),
            s4 AS (
              SELECT *, sum(CASE WHEN capped THEN 1 ELSE 0 END) OVER (
                ORDER BY source ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
              ) AS rank_capped
              FROM s3
            )
            SELECT source, n_docs, capacity,
              CAST(CASE WHEN NOT capped THEN capacity
                   ELSE t + CASE WHEN rank_capped <= rem THEN 1 ELSE 0 END
              END AS BIGINT) AS allocated,
              capped,
              round(CAST(CASE WHEN NOT capped THEN capacity
                         ELSE t + CASE WHEN rank_capped <= rem THEN 1 ELSE 0 END
                    END AS DOUBLE) / capacity, 6) AS fill_rate
            FROM s4
        """,
        # round-6: PII incidence audit — progressive redaction mirrors
        # PII_PATTERNS policy order; integer counts only
        "q_pii_report": r"""
            WITH c AS (
              SELECT source,
                     len(regexp_extract_all(text, 'https?://\S+')) AS c_url,
                     len(regexp_extract_all(
                       regexp_replace(text, 'https?://\S+', '<URL>', 'g'),
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS c_email,
                     len(regexp_extract_all(
                       regexp_replace(regexp_replace(text, 'https?://\S+', '<URL>', 'g'),
                         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                       '[0-9]{6,}')) AS c_num
              FROM documents
            ),
            w AS (
              SELECT source, CAST(count(*) AS BIGINT) AS total_docs,
                     CAST(sum(CASE WHEN c_url > 0 THEN 1 ELSE 0 END) AS BIGINT) AS d_url,
                     CAST(sum(c_url) AS BIGINT) AS m_url,
                     CAST(sum(CASE WHEN c_email > 0 THEN 1 ELSE 0 END) AS BIGINT) AS d_email,
                     CAST(sum(c_email) AS BIGINT) AS m_email,
                     CAST(sum(CASE WHEN c_num > 0 THEN 1 ELSE 0 END) AS BIGINT) AS d_num,
                     CAST(sum(c_num) AS BIGINT) AS m_num
              FROM c GROUP BY source
            )
            SELECT source, 'url' AS pii_type, d_url AS docs_hit, m_url AS matches, total_docs FROM w
            UNION ALL SELECT source, 'email', d_email, m_email, total_docs FROM w
            UNION ALL SELECT source, 'num', d_num, m_num, total_docs FROM w
        """,
        "q_pivot_status": """
            SELECT o_orderpriority,
                   count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
                   count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
                   count(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending
            FROM orders GROUP BY o_orderpriority
        """,
        "q_corr_stats": """
            SELECT l_returnflag,
                   round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
                   round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
                   round(stddev_samp(l_quantity), 4) AS sd_qty,
                   round(stddev_samp(l_extendedprice), 4) AS sd_price
            FROM lineitem GROUP BY l_returnflag
        """,
        "q_hash_sample": """
            SELECT doc_id, lang, n_chars FROM documents
            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '33333333'
        """,
        "q_stratified_sample": """
            SELECT doc_id, lang FROM documents
            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                  < CASE WHEN lang = 'en' THEN '40000000' ELSE 'g' END
        """,
        "q_tfidf_top_terms": f"""
            WITH tok AS (
              SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents
            ),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
            dfreq AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY term),
            n AS (SELECT count(*) AS n_docs FROM documents)
            SELECT doc_id, term, tfidf, rnk FROM (
              SELECT tf.doc_id, tf.term,
                     round(tf * ln(CAST(n_docs AS DOUBLE) / dfreq), 6) AS tfidf,
                     row_number() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY tf * ln(CAST(n_docs AS DOUBLE) / dfreq) DESC, tf.term ASC
                     ) AS rnk
              FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
            ) WHERE rnk <= 5
        """,
        # BM25: the VALUES clause replays the fixed query batch; the idf
        # and term-score expression trees mirror text.bm25_topk node for
        # node (same operand order) so the doubles agree bit-for-bit up
        # to the final 4-decimal rounding; ranking is over the ROUNDED
        # score (both engines), doc_id ties deterministic
        "q_bm25_topk": _bm25_oracle_sql(),
        "q_bm25_percolate": _bm25_percolate_oracle_sql(),
        # hybrid RRF: both retriever oracles as subqueries, fused with the
        # identical two-term reciprocal-rank expression (raw doubles)
        "q_hybrid_rrf": f"""
            WITH bm AS ({_bm25_oracle_sql()}),
            cs AS ({_COSINE_TOPK_SQL}),
            cd AS (SELECT query_id, corpus_id AS doc_id, rnk FROM cs),
            fused AS (
              SELECT COALESCE(bm.query_id, cd.query_id) AS query_id,
                     COALESCE(bm.doc_id, cd.doc_id) AS item,
                     COALESCE(1.0 / (60 + bm.rnk), 0.0) + COALESCE(1.0 / (60 + cd.rnk), 0.0) AS rrf
              FROM bm FULL OUTER JOIN cd
                ON bm.query_id = cd.query_id AND bm.doc_id = cd.doc_id
            )
            SELECT query_id, item AS doc_id, rrf,
                   row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, item ASC) AS fused_rnk
            FROM fused
        """,
        # BPE: round-zero census + the 6-round trainer unrolled as CTEs
        "q_bpe_pair_stats": _bpe_pair_stats_oracle_sql(),
        "q_bpe_merges": _bpe_merges_oracle_sql(),
        "q_bpe_encode": _bpe_encode_oracle_sql(),
        "q_ewma_chart": _ewma_oracle_sql(),
        "q_token_share_by_source": f"""
            WITH g AS (
              SELECT source,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(len({_TOKENS_SQL})) AS BIGINT) AS n_tokens
              FROM documents GROUP BY source
            )
            SELECT source, n_docs, n_tokens,
                   round(CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER (), 6) AS token_share
            FROM g
        """,
        # month-over-month deltas off the monthly rollup grid
        "q_mom_change": """
            WITH daily AS (
              SELECT event_type AS series, date_trunc('day', ts) AS day,
                     CAST(count(*) AS BIGINT) AS n,
                     round(sum(value), 4) AS s
              FROM events GROUP BY 1, 2
            ),
            monthly AS (
              SELECT series, CAST(date_trunc('month', day) AS DATE) AS month,
                     round(sum(s), 4) AS sum_value
              FROM daily GROUP BY 1, 2
            )
            SELECT series, month, sum_value,
                   round(lag(sum_value) OVER w, 4) AS prev_sum,
                   round(sum_value - lag(sum_value) OVER w, 4) AS abs_change,
                   round(CASE WHEN lag(sum_value) OVER w <> 0
                              THEN (sum_value - lag(sum_value) OVER w) / lag(sum_value) OVER w
                         END, 6) AS pct_change
            FROM monthly
            WINDOW w AS (PARTITION BY series ORDER BY month)
        """,
        # lang-ID confusion: the q_lang_id pipeline re-aggregated to the
        # (declared, predicted) grid with per-declared shares
        "q_lang_confusion": f"""
            WITH tok AS (
              SELECT doc_id, lang,
                     list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
              FROM documents
            ), hits AS (
              SELECT doc_id, lang,
                {_LANG_HITS_SQL}
              FROM tok
            ), pred AS (
              SELECT lang,
                CASE WHEN greatest(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'unknown'
                     WHEN h_de >= greatest(h_en, h_es, h_fr, h_zh) THEN 'de'
                     WHEN h_en >= greatest(h_es, h_fr, h_zh) THEN 'en'
                     WHEN h_es >= greatest(h_fr, h_zh) THEN 'es'
                     WHEN h_fr >= h_zh THEN 'fr'
                     ELSE 'zh' END AS lang_pred
              FROM hits
            ), g AS (
              SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
              FROM pred GROUP BY 1, 2
            )
            SELECT lang, lang_pred, n,
                   round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY lang), 6) AS share
            FROM g
        """,
        # near-dup rate by source: portable banded pipeline + per-source
        # participation aggregate
        "q_near_dup_rate_by_source": f"""
            WITH p AS ({_minhash_portable_oracle_sql()}),
            involved AS (
              SELECT DISTINCT doc_id FROM (
                SELECT doc_a AS doc_id FROM p
                UNION ALL SELECT doc_b AS doc_id FROM p
              )
            )
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(i.doc_id) AS BIGINT) AS n_near_dup,
                   round(CAST(count(i.doc_id) AS DOUBLE) / count(*), 6) AS near_dup_rate
            FROM documents d LEFT JOIN involved i USING (doc_id)
            GROUP BY source
        """,
        "q_modality_coverage": """
            SELECT 'both_modalities' AS bucket,
                   (SELECT CAST(count(*) AS BIGINT) FROM documents
                    WHERE doc_id IN (SELECT vec_id FROM embeddings)) AS n
            UNION ALL
            SELECT 'text_only',
                   (SELECT count(*) FROM documents
                    WHERE doc_id NOT IN (SELECT vec_id FROM embeddings))
            UNION ALL
            SELECT 'embedding_only',
                   (SELECT count(*) FROM embeddings
                    WHERE vec_id NOT IN (SELECT doc_id FROM documents))
        """,
        "q_winsorized_stats": """
            WITH fences AS (
              SELECT event_type AS series,
                     quantile_cont(value, 0.05) AS f_lo,
                     quantile_cont(value, 0.95) AS f_hi
              FROM events GROUP BY 1
            )
            SELECT series,
                   CAST(count(*) AS BIGINT) AS n,
                   round(avg(least(greatest(value, f_lo), f_hi)), 4) AS wins_mean,
                   round(stddev_pop(least(greatest(value, f_lo), f_hi)), 4) AS wins_std,
                   round(min(f_lo), 4) AS fence_lo,
                   round(max(f_hi), 4) AS fence_hi
            FROM events e JOIN fences ON e.event_type = fences.series
            GROUP BY series
        """,
        "q_retrieval_ndcg": _ndcg_oracle_sql(),
        "q_retrieval_metrics": f"""
            WITH sys AS ({_lsh_oracle_sql()}),
            truth AS ({_COSINE_TOPK_SQL}),
            hits AS (
              SELECT s.query_id, s.rnk, t.corpus_id IS NOT NULL AS rel
              FROM sys s LEFT JOIN (SELECT query_id, corpus_id FROM truth) t
                ON s.query_id = t.query_id AND s.corpus_id = t.corpus_id
              WHERE s.rnk <= 5  -- rank-bounded, in lockstep with retrieval_metrics_at_k
            )
            SELECT query_id,
                   round(CAST(count(CASE WHEN rel THEN 1 END) AS DOUBLE) / 5.0, 6) AS recall,
                   round(COALESCE(1.0 / min(CASE WHEN rel THEN rnk END), 0.0), 6) AS mrr
            FROM hits GROUP BY query_id
        """,
        # gaps-and-islands: day-index minus row-number grouping key
        "q_activity_streaks": """
            WITH days AS (
              SELECT DISTINCT user_id,
                     date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
              FROM events
            ),
            islands AS (
              SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len FROM (
                SELECT user_id, d,
                       d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp
                FROM days
              ) GROUP BY user_id, grp
            )
            SELECT user_id,
                   CAST(sum(len) AS BIGINT) AS n_active_days,
                   CAST(count(*) AS BIGINT) AS n_streaks,
                   max(len) AS longest_streak
            FROM islands GROUP BY user_id
        """,
        # association rules: per-user distinct baskets, directed pairs,
        # mirrored metric expressions
        "q_association_rules": """
            WITH baskets AS (
              SELECT user_id, list_sort(list_distinct(list(event_type))) AS ts
              FROM events GROUP BY user_id
            ),
            pairs AS (
              SELECT p['x'] AS x, p['y'] AS y, CAST(count(*) AS BIGINT) AS n_xy FROM (
                SELECT unnest(flatten(list_transform(ts, (a, i) ->
                         list_transform(ts[i+1:], b -> {'x': a, 'y': b})))) AS p
                FROM baskets
              ) WHERE p['x'] < p['y']
              GROUP BY 1, 2
            ),
            items AS (
              SELECT t, CAST(count(*) AS BIGINT) AS n_t
              FROM (SELECT unnest(ts) AS t FROM baskets) GROUP BY t
            ),
            total AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM baskets),
            directed AS (
              SELECT x AS ante, y AS cons, n_xy FROM pairs
              UNION ALL SELECT y AS ante, x AS cons, n_xy FROM pairs
            )
            SELECT ante, cons, n_xy,
                   round(CAST(n_xy AS DOUBLE) / n_users, 4) AS support,
                   round(CAST(n_xy AS DOUBLE) / n_a, 4) AS confidence,
                   round((CAST(n_xy AS DOUBLE) / n_users)
                         / ((CAST(n_a AS DOUBLE) / n_users) * (CAST(n_c AS DOUBLE) / n_users)), 4) AS lift
            FROM directed
            JOIN (SELECT t AS ante, n_t AS n_a FROM items) USING (ante)
            JOIN (SELECT t AS cons, n_t AS n_c FROM items) USING (cons)
            CROSS JOIN total
            WHERE CAST(n_xy AS DOUBLE) / n_users >= 0.05
        """,
        # asymmetric containment: smaller set is the inner side, equal
        # sizes tie to the lower id
        "q_containment_pairs": f"""
            WITH t AS (
              SELECT doc_id, list_distinct({_TOKENS_SQL}) AS tok
              FROM documents WHERE doc_id < 1000
            ),
            pairs AS (
            SELECT inner_id, host_id, containment FROM (
              SELECT CASE WHEN len(a.tok) < len(b.tok)
                            OR (len(a.tok) = len(b.tok) AND a.doc_id < b.doc_id)
                          THEN a.doc_id ELSE b.doc_id END AS inner_id,
                     CASE WHEN len(a.tok) < len(b.tok)
                            OR (len(a.tok) = len(b.tok) AND a.doc_id < b.doc_id)
                          THEN b.doc_id ELSE a.doc_id END AS host_id,
                     round(CASE WHEN least(len(a.tok), len(b.tok)) > 0
                                THEN CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
                                     / (CASE WHEN len(a.tok) < len(b.tok)
                                               OR (len(a.tok) = len(b.tok) AND a.doc_id < b.doc_id)
                                             THEN len(a.tok) ELSE len(b.tok) END)
                                ELSE 0.0 END, 6) AS containment
              FROM t a JOIN t b ON a.doc_id < b.doc_id
            ) WHERE containment >= 0.98
        ),
        ranked AS (
          SELECT *, row_number() OVER (
            PARTITION BY inner_id ORDER BY containment DESC, host_id ASC
          ) AS rn
          FROM pairs
        )
        SELECT inner_id,
               CAST(count(*) AS BIGINT) AS n_hosts,
               max(CASE WHEN rn = 1 THEN host_id END) AS best_host,
               max(CASE WHEN rn = 1 THEN containment END) AS best_containment
        FROM ranked GROUP BY inner_id
        """,
        "q_rollup_partials": """
            WITH daily AS (
              SELECT event_type AS series, date_trunc('day', ts) AS day,
                     CAST(count(*) AS BIGINT) AS n,
                     round(sum(value), 4) AS s,
                     round(min(value), 4) AS mn,
                     round(max(value), 4) AS mx
              FROM events GROUP BY 1, 2
            )
            SELECT series, CAST(date_trunc('month', day) AS DATE) AS month,
                   CAST(sum(n) AS BIGINT) AS n_events,
                   round(sum(s), 4) AS sum_value,
                   min(mn) AS min_value,
                   max(mx) AS max_value,
                   round(round(sum(s), 4) / sum(n), 4) AS mean_value
            FROM daily GROUP BY 1, 2
        """,
        # Benford: portable string-based first digit — round-before-floor
        # absorbs binary-float boundary artifacts (0.3*100 ==
        # 29.999999999999996) so decimal boundary values land on their
        # true first significant digit; in lockstep with
        # analytics.benford_audit
        "q_benford_audit": """
            WITH g AS (
              SELECT event_type AS series,
                     CAST(substr(CAST(CAST(floor(round(value * 100, 6)) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
                     CAST(count(*) AS BIGINT) AS n
              FROM events WHERE value >= 0.01
              GROUP BY 1, 2
            )
            SELECT series, digit, n,
                   round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY series), 4) AS share,
                   round(log10(1.0 + 1.0 / digit), 4) AS benford,
                   round(abs(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY series)
                             - log10(1.0 + 1.0 / digit)), 4) AS abs_dev
            FROM g
        """,
        # NOT EXISTS, not NOT IN: the operator's left_anti contract counts
        # NULL child fks as orphans (and survives a NULL parent pk); NOT IN
        # would silently zero those under SQL three-valued logic
        "q_referential_audit": """
            SELECT 'lineitem.orderkey' AS relation,
                   (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_rows,
                   (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
                    WHERE NOT EXISTS (SELECT 1 FROM orders o
                                      WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
            UNION ALL
            SELECT 'orders.custkey',
                   (SELECT count(*) FROM orders),
                   (SELECT count(*) FROM orders o
                    WHERE NOT EXISTS (SELECT 1 FROM customer c
                                      WHERE c.c_custkey = o.o_custkey))
            UNION ALL
            SELECT 'customer.nationkey',
                   (SELECT count(*) FROM customer),
                   (SELECT count(*) FROM customer c
                    WHERE NOT EXISTS (SELECT 1 FROM nation n
                                      WHERE n.n_nationkey = c.c_nationkey))
            UNION ALL
            SELECT 'supplier.nationkey',
                   (SELECT count(*) FROM supplier),
                   (SELECT count(*) FROM supplier s
                    WHERE NOT EXISTS (SELECT 1 FROM nation n
                                      WHERE n.n_nationkey = s.s_nationkey))
            UNION ALL
            SELECT 'nation.regionkey',
                   (SELECT count(*) FROM nation),
                   (SELECT count(*) FROM nation na
                    WHERE NOT EXISTS (SELECT 1 FROM region r
                                      WHERE r.r_regionkey = na.n_regionkey))
        """,
        # seasonal profile: integer ISO-dow arithmetic, window over the
        # (series, dow) grid
        "q_seasonal_profile": """
            WITH g AS (
              SELECT event_type AS series,
                     (date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 3) % 7 + 1 AS dow,
                     CAST(count(*) AS BIGINT) AS n_events,
                     sum(value) AS sv
              FROM events GROUP BY 1, 2
            )
            SELECT series, dow, n_events,
                   round(sv / n_events, 4) AS avg_value,
                   round((sv / n_events)
                         / (sum(sv) OVER (PARTITION BY series)
                            / sum(n_events) OVER (PARTITION BY series)), 4) AS ratio_to_mean
            FROM g
        """,
        # contrastive pairs, LSH default: portable MinHash-LSH positives
        # (shared banded CTE, est_jaccard >= 0.5) + linear indexed-pick
        # negatives (fixed 1024-doc smallest-md5 pool, 12 hash picks per
        # anchor) — replays curate.contrastive_pairs exactly
        "q_contrastive_pairs": _portable_banded_cte() + f""",
            lshcand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     a.sig AS sig_a, b.sig AS sig_b
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
            ),
            p AS (
              SELECT doc_a AS a, doc_b AS b FROM lshcand
              WHERE round(CAST(len(list_filter(range(1, 33), i -> sig_a[i] = sig_b[i])) AS DOUBLE) / 32, 6) >= 0.5
            ),
            bidir AS (
              SELECT a AS anchor_id, b AS partner_id FROM p
              UNION ALL SELECT b AS anchor_id, a AS partner_id FROM p
            ),
            pos AS (
              SELECT anchor_id, partner_id, 'pos' AS role, rn AS rnk FROM (
                SELECT anchor_id, partner_id,
                       row_number() OVER (PARTITION BY anchor_id ORDER BY partner_id) AS rn
                FROM bidir
              ) WHERE rn <= 2
            ),
            anchors AS (SELECT DISTINCT anchor_id FROM bidir),
            pool AS (
              SELECT cand, row_number() OVER (ORDER BY h, cand) - 1 AS idx FROM (
                SELECT doc_id AS cand, md5(CAST(doc_id AS VARCHAR)) AS h
                FROM documents ORDER BY h, cand LIMIT 1024
              )
            ),
            picks AS (
              SELECT DISTINCT anchors.anchor_id, pool.cand
              FROM anchors
              CROSS JOIN range(0, 12) AS r(j)
              JOIN pool ON pool.idx =
                ('0x' || substr(md5(CAST(anchors.anchor_id AS VARCHAR) || ':' || CAST(r.j AS VARCHAR)), 1, 8))::BIGINT
                % (SELECT count(*) FROM pool)
              WHERE pool.cand <> anchors.anchor_id
            ),
            negs AS (
              SELECT anchor_id, cand AS partner_id, 'neg' AS role, rn AS rnk FROM (
                SELECT picks.anchor_id, picks.cand,
                       row_number() OVER (
                         PARTITION BY picks.anchor_id
                         ORDER BY md5(CAST(picks.anchor_id AS VARCHAR) || ':' || CAST(picks.cand AS VARCHAR)),
                                  picks.cand
                       ) AS rn
                FROM picks
                WHERE NOT EXISTS (
                  SELECT 1 FROM bidir
                  WHERE bidir.anchor_id = picks.anchor_id AND bidir.partner_id = picks.cand
                )
              ) WHERE rn <= 3
            )
            SELECT * FROM pos UNION ALL SELECT * FROM negs
        """,
        # contrastive pairs, exact twin: exact-Jaccard positives (capped
        # 2/anchor) on the bounded slice + the same negative machinery
        "q_contrastive_pairs_exact": f"""
            WITH t AS (
              SELECT doc_id, list_distinct({_TOKENS_SQL}) AS tok
              FROM documents WHERE doc_id < 1000
            ),
            p AS (
              SELECT a.doc_id AS a, b.doc_id AS b FROM t a JOIN t b ON a.doc_id < b.doc_id
              WHERE round(CASE WHEN len(list_distinct(list_concat(a.tok, b.tok))) > 0
                               THEN CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
                                    / len(list_distinct(list_concat(a.tok, b.tok)))
                               ELSE 0.0 END, 6) >= 0.95
            ),
            bidir AS (
              SELECT a AS anchor_id, b AS partner_id FROM p
              UNION ALL SELECT b AS anchor_id, a AS partner_id FROM p
            ),
            pos AS (
              SELECT anchor_id, partner_id, 'pos' AS role, rn AS rnk FROM (
                SELECT anchor_id, partner_id,
                       row_number() OVER (PARTITION BY anchor_id ORDER BY partner_id) AS rn
                FROM bidir
              ) WHERE rn <= 2
            ),
            anchors AS (SELECT DISTINCT anchor_id FROM bidir),
            pool AS (
              SELECT cand, row_number() OVER (ORDER BY h, cand) - 1 AS idx FROM (
                SELECT doc_id AS cand, md5(CAST(doc_id AS VARCHAR)) AS h
                FROM (SELECT doc_id FROM documents WHERE doc_id < 1000) ORDER BY h, cand LIMIT 1024
              )
            ),
            picks AS (
              SELECT DISTINCT anchors.anchor_id, pool.cand
              FROM anchors
              CROSS JOIN range(0, 12) AS r(j)
              JOIN pool ON pool.idx =
                ('0x' || substr(md5(CAST(anchors.anchor_id AS VARCHAR) || ':' || CAST(r.j AS VARCHAR)), 1, 8))::BIGINT
                % (SELECT count(*) FROM pool)
              WHERE pool.cand <> anchors.anchor_id
            ),
            negs AS (
              SELECT anchor_id, cand AS partner_id, 'neg' AS role, rn AS rnk FROM (
                SELECT picks.anchor_id, picks.cand,
                       row_number() OVER (
                         PARTITION BY picks.anchor_id
                         ORDER BY md5(CAST(picks.anchor_id AS VARCHAR) || ':' || CAST(picks.cand AS VARCHAR)),
                                  picks.cand
                       ) AS rn
                FROM picks
                WHERE NOT EXISTS (
                  SELECT 1 FROM bidir
                  WHERE bidir.anchor_id = picks.anchor_id AND bidir.partner_id = picks.cand
                )
              ) WHERE rn <= 3
            )
            SELECT * FROM pos UNION ALL SELECT * FROM negs
        """,
        # round-6: padding/packing planning — all-integer until the final
        # raw int/int waste ratio
        "q_padding_waste": f"""
            WITH t AS (SELECT len({_TOKENS_SQL}) AS n FROM documents),
            p AS (
              SELECT context_len, n,
                     CASE WHEN n > 0
                          THEN CAST(ceil(CAST(n AS DOUBLE) / context_len) AS BIGINT)
                          ELSE 0 END AS seqs
              FROM t, unnest([128, 256, 512]) AS u(context_len)
            )
            SELECT context_len,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n) AS BIGINT) AS total_tokens,
                   CAST(sum(seqs) AS BIGINT) AS naive_seqs,
                   CAST(sum(seqs * context_len) - sum(n) AS BIGINT) AS naive_padding_tokens,
                   CAST(sum(seqs * context_len) - sum(n) AS DOUBLE)
                     / (sum(seqs) * context_len) AS waste_ratio,
                   CAST(ceil(CAST(sum(n) AS DOUBLE) / context_len) AS BIGINT) AS packed_seqs
            FROM p GROUP BY context_len
        """,
        # round-6: dedup threshold sweep over the portable LSH pair frame
        "q_dedup_threshold_sweep": _portable_banded_cte() + f""",
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     a.sig AS sig_a, b.sig AS sig_b
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
            ),
            p AS (
              SELECT doc_a, doc_b,
                     round(CAST(len(list_filter(range(1, 33), i -> sig_a[i] = sig_b[i])) AS DOUBLE) / 32, 6) AS est_jaccard
              FROM cand
            ),
            tk AS (SELECT doc_id AS doc_b, CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens FROM documents),
            sw AS (
              SELECT threshold, doc_a, doc_b FROM p, unnest([0.5, 0.7, 0.9]) AS u(threshold)
              WHERE est_jaccard >= threshold
            ),
            np AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs FROM sw GROUP BY 1),
            rm AS (
              SELECT threshold,
                     CAST(count(*) AS BIGINT) AS n_docs_removed,
                     CAST(sum(n_tokens) AS BIGINT) AS tokens_removed
              FROM (SELECT DISTINCT threshold, doc_b FROM sw) d JOIN tk USING (doc_b)
              GROUP BY 1
            )
            SELECT np.threshold, np.n_pairs,
                   COALESCE(rm.n_docs_removed, 0) AS n_docs_removed,
                   COALESCE(rm.tokens_removed, 0) AS tokens_removed
            FROM np LEFT JOIN rm ON np.threshold = rm.threshold
        """,
        # round-6: integer-quantized per-label embedding outliers (the
        # IVF/PQ quantization recipe: truncating-division centroids,
        # exact BIGINT distances)
        "q_embedding_outliers": """
            WITH v AS (
              SELECT vec_id AS id, label,
                     list_transform(CAST(embedding AS DOUBLE[]),
                                    x -> CAST(round(x * 10000) AS BIGINT)) AS v
              FROM embeddings
            ),
            s AS (
              SELECT label, id, generate_subscripts(v, 1) AS pos, unnest(v) AS val FROM v
            ),
            c AS (
              SELECT label, pos, CAST(sum(val) AS BIGINT) // count(*) AS cd
              FROM s GROUP BY 1, 2
            ),
            cent AS (SELECT label, list(cd ORDER BY pos) AS c FROM c GROUP BY label),
            d AS (
              SELECT v.id, v.label,
                     CAST(list_sum(list_transform(range(1, len(v.v) + 1),
                          i -> (v.v[i] - cent.c[i]) * (v.v[i] - cent.c[i]))) AS BIGINT) AS dist2
              FROM v JOIN cent USING (label)
            )
            SELECT label, id AS vec_id, dist2, CAST(rn AS BIGINT) AS rnk FROM (
              SELECT *, row_number() OVER (PARTITION BY label ORDER BY dist2 DESC, id) AS rn
              FROM d
            ) WHERE rn <= 5
        """,
        # round-6: cross-source near-dup matrix over the portable LSH
        # pairs; the mean sums dyadic k/32 estimates (order-exact)
        "q_source_overlap": _portable_banded_cte() + """,
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     a.sig AS sig_a, b.sig AS sig_b
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
            ),
            p AS (
              SELECT doc_a, doc_b, est_jaccard FROM (
                SELECT doc_a, doc_b,
                       round(CAST(len(list_filter(range(1, 33), i -> sig_a[i] = sig_b[i])) AS DOUBLE) / 32, 6) AS est_jaccard
                FROM cand
              ) WHERE est_jaccard >= 0.5
            ),
            j AS (
              SELECT least(da.source, db.source) AS source_a,
                     greatest(da.source, db.source) AS source_b,
                     p.est_jaccard
              FROM p
              JOIN documents da ON da.doc_id = p.doc_a
              JOIN documents db ON db.doc_id = p.doc_b
            )
            SELECT source_a, source_b,
                   CAST(count(*) AS BIGINT) AS n_pairs,
                   round(sum(est_jaccard) / count(*), 6) AS mean_est_jaccard
            FROM j GROUP BY 1, 2
        """,
        # round-6: exact equi-depth split points (windowless cumulative
        # via value<=value join; integer ceil(f*n) thresholds)
        "q_range_partition_plan": f"""
            WITH t AS (SELECT CAST(len({_TOKENS_SQL}) AS BIGINT) AS v FROM documents),
            counts AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY v),
            cum AS (
              SELECT a.v, CAST(sum(b.c) AS BIGINT) AS cum
              FROM counts a JOIN counts b ON b.v <= a.v GROUP BY a.v
            ),
            tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM counts),
            targets AS (
              SELECT f_micro / 1e6 AS fraction,
                     CAST((f_micro * n + 999999) // 1000000 AS BIGINT) AS target_rank
              FROM tot, unnest([250000, 500000, 750000]) AS u(f_micro)
            )
            SELECT fraction, target_rank, CAST(min(v) AS BIGINT) AS boundary
            FROM cum, targets WHERE cum >= target_rank
            GROUP BY fraction, target_rank
        """,
        # round-6: Morton key replay — identical min-max scale + bit
        # interleave arithmetic
        "q_zorder_key": """
            WITH st AS (
              SELECT CAST(min(user_id) AS DOUBLE) AS mn0, CAST(max(user_id) AS DOUBLE) AS mx0,
                     CAST(min(value) AS DOUBLE) AS mn1, CAST(max(value) AS DOUBLE) AS mx1
              FROM events
            ),
            s AS (
              SELECT event_id,
                     least(CASE WHEN mx0 - mn0 > 0
                                THEN CAST(floor((user_id - mn0) / (mx0 - mn0) * 255) AS BIGINT)
                                ELSE 0 END, 255) AS s0,
                     least(CASE WHEN mx1 - mn1 > 0
                                THEN CAST(floor((value - mn1) / (mx1 - mn1) * 255) AS BIGINT)
                                ELSE 0 END, 255) AS s1
              FROM events, st
            )
            SELECT event_id,
                   CAST(list_sum(list_transform(range(0, 8),
                        i -> (((s0 >> i) & 1) << (2 * i)) + (((s1 >> i) & 1) << (2 * i + 1))
                   )) AS BIGINT) AS z
            FROM s
        """,
        # round-6: sharded-export manifest (order-insensitive checksum)
        # round-6: declarative data-quality gate — one wide aggregation
        # unpivoted to the long report; tight thresholds exercise the
        # non-zero violation paths
        "q_expectation_report": """
            WITH w AS (
              SELECT CAST(count(*) AS BIGINT) AS total,
                     CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_nn_cust,
                     CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_nn_date,
                     CAST(sum(CASE WHEN o_totalprice IS NOT NULL AND o_totalprice < 1500.0 THEN 1 ELSE 0 END) AS BIGINT) AS v_b_price,
                     CAST(sum(CASE WHEN o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O', 'F') THEN 1 ELSE 0 END) AS BIGINT) AS v_a_status,
                     CAST(sum(CASE WHEN o_orderpriority IS NOT NULL AND NOT regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 ELSE 0 END) AS BIGINT) AS v_m_prio,
                     CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT) AS v_u_okey
              FROM orders
            )
            SELECT 'not_null' AS expectation, 'o_custkey' AS "column",
                   v_nn_cust AS violations, total, v_nn_cust = 0 AS passed FROM w
            UNION ALL SELECT 'not_null', 'o_orderdate', v_nn_date, total, v_nn_date = 0 FROM w
            UNION ALL SELECT 'bounds', 'o_totalprice', v_b_price, total, v_b_price = 0 FROM w
            UNION ALL SELECT 'accepted', 'o_orderstatus', v_a_status, total, v_a_status = 0 FROM w
            UNION ALL SELECT 'matches', 'o_orderpriority', v_m_prio, total, v_m_prio = 0 FROM w
            UNION ALL SELECT 'unique', 'o_orderkey', v_u_okey, total, v_u_okey = 0 FROM w
        """,
        "q_export_manifest": f"""
            WITH v AS (
              SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                       % {dedup.PORTABLE_P} AS v,
                     CAST(len({_TOKENS_SQL}) AS BIGINT) AS nt
              FROM documents
            )
            SELECT CAST(v % 8 AS BIGINT) AS shard,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(nt) AS BIGINT) AS n_tokens,
                   CAST(sum(v) AS BIGINT) AS id_checksum
            FROM v GROUP BY 1
        """,
        # rendezvous shard: per-key md5 argmax, replayed as ranked unnest
        # (ties, impossible in practice, break to the greatest shard name
        # in both engines)
        "q_rendezvous_shard": """
            SELECT doc_id, s AS shard FROM (
              SELECT doc_id, s,
                     row_number() OVER (
                       PARTITION BY doc_id
                       ORDER BY md5(CAST(doc_id AS VARCHAR) || ':' || s) DESC, s DESC
                     ) AS rn
              FROM documents, unnest(['shard0', 'shard1', 'shard2', 'shard3']) AS t(s)
            ) WHERE rn = 1
        """,
        # sorted-neighborhood fuzzy pass: total order by (pfx, id),
        # neighbor window of 5 following ranks, id-ordered pair emission
        "q_fuzzy_sorted_neighborhood": f"""
            WITH t AS (
              SELECT doc_id,
                     regexp_replace(COALESCE(array_to_string({_TOKENS_SQL}[1:8], ' '), ''),
                                    '[^\\x00-\\x7F]', '#', 'g') AS pfx
              FROM documents
            ),
            rk AS (
              SELECT doc_id, pfx, row_number() OVER (ORDER BY pfx, doc_id) AS rn FROM t
            ),
            probes AS (
              SELECT doc_id, pfx, rn + unnest(range(1, 6)) AS rn2 FROM rk
            )
            SELECT least(a.doc_id, b.doc_id) AS doc_a,
                   greatest(a.doc_id, b.doc_id) AS doc_b,
                   CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS dist
            FROM probes a JOIN rk b ON a.rn2 = b.rn
            WHERE levenshtein(a.pfx, b.pfx) <= 10
        """,
        # grouped OLS trend: mirrored sufficient-statistics expressions;
        # daily totals rounded before the second aggregation level
        "q_trend_fit": """
            WITH daily AS (
              SELECT event_type AS series, date_trunc('day', ts) AS day,
                     round(sum(value), 4) AS y
              FROM events GROUP BY 1, 2
            ),
            d2 AS (
              SELECT series, CAST(date_diff('day', DATE '2024-01-01', day) AS DOUBLE) AS x, y
              FROM daily
            ),
            a AS (
              SELECT series, CAST(count(*) AS DOUBLE) AS n,
                     sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
              FROM d2 GROUP BY 1
            )
            SELECT series, CAST(n AS BIGINT) AS n_days,
                   round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS slope,
                   round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 4) AS intercept
            FROM a
        """,
        # fuzzy prefix join: blocked candidates + unbounded levenshtein
        # (Spark's thresholded variant keeps the identical pair set)
        "q_fuzzy_prefix_join": f"""
            WITH t AS (
              SELECT doc_id, lang,
                     {_TOKENS_SQL}[1] AS tok1,
                     regexp_replace(COALESCE(array_to_string({_TOKENS_SQL}[1:8], ' '), ''),
                                    '[^\\x00-\\x7F]', '#', 'g') AS pfx
              FROM documents
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS dist
            FROM t a JOIN t b
              ON a.lang = b.lang AND a.tok1 = b.tok1 AND a.doc_id < b.doc_id
            WHERE levenshtein(a.pfx, b.pfx) <= 10
        """,
        "q_embedding_norm_stats": """
            SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
                   round(avg(nrm), 6) AS mean_norm,
                   round(min(nrm), 6) AS min_norm,
                   round(max(nrm), 6) AS max_norm,
                   round(avg(len(embedding)), 2) AS mean_dim
            FROM (
              SELECT label, embedding,
                     sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
              FROM embeddings
            )
            GROUP BY label
        """,
        "q_vector_normalize": """
            SELECT vec_id,
                   array_to_string(CASE WHEN nrm > 0 THEN list_transform(e, x -> printf('%.6f', round(x / nrm, 6)))
                        ELSE list_transform(e, x -> printf('%.6f', round(x, 6))) END, ',') AS unit
            FROM (
              SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm
              FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
            )
        """,
        "q_quantize_int8": """
            SELECT vec_id, round(scale, 6) AS scale,
                   array_to_string(CASE WHEN scale > 0 THEN list_transform(e, x -> CAST(round(x / scale, 0) AS INTEGER))
                        ELSE list_transform(e, x -> 0) END, ',') AS q
            FROM (
              SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
              FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
            )
        """,
        "q_embed_label_centroids": """
            SELECT label, dim, round(avg(val), 6) AS mean_val FROM (
              SELECT label,
                     generate_subscripts(embedding, 1) AS dim,
                     CAST(unnest(embedding) AS DOUBLE) AS val
              FROM embeddings
            )
            GROUP BY label, dim
        """,
        "q_collocations": f"""
            SELECT bigram, count(*) AS freq
            FROM (
              SELECT unnest(list_transform(
                       generate_series(1, len(t) - 1),
                       i -> t[i] || ' ' || t[i + 1])) AS bigram
              FROM (SELECT {_TOKENS_SQL} AS t FROM documents)
              WHERE len(t) >= 2
            )
            GROUP BY bigram
            HAVING count(*) >= 2
            ORDER BY freq DESC, bigram
            LIMIT 50
        """,
        "q_vocab_coverage": f"""
            WITH tf AS (
              SELECT token, count(*) AS freq
              FROM (SELECT unnest({_TOKENS_SQL}) AS token FROM documents)
              GROUP BY token
            ),
            ranked AS (
              SELECT freq, row_number() OVER (ORDER BY freq DESC, token) AS rn FROM tf
            ),
            cuts AS (
              SELECT 100 AS vocab_size,
                     CAST(sum(CASE WHEN rn <= 100 THEN freq ELSE 0 END) AS BIGINT) AS c,
                     CAST(sum(freq) AS BIGINT) AS total
              FROM ranked
              UNION ALL
              SELECT 1000,
                     CAST(sum(CASE WHEN rn <= 1000 THEN freq ELSE 0 END) AS BIGINT),
                     CAST(sum(freq) AS BIGINT)
              FROM ranked
              UNION ALL
              SELECT 10000,
                     CAST(sum(CASE WHEN rn <= 10000 THEN freq ELSE 0 END) AS BIGINT),
                     CAST(sum(freq) AS BIGINT)
              FROM ranked
            )
            SELECT vocab_size,
                   round(c / total, 6) AS coverage,
                   round(1 - c / total, 6) AS oov_rate
            FROM cuts
            ORDER BY vocab_size
        """,
        "q_token_freq": f"""
            SELECT token, count(*) AS freq
            FROM (SELECT unnest({_TOKENS_SQL}) AS token FROM documents)
            GROUP BY token
        """,
        "q_lang_stats": f"""
            SELECT lang, count(*) AS n_docs, round(avg(n_chars), 2) AS avg_chars,
                   round(avg(len({_TOKENS_SQL})), 2) AS avg_tokens
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "q_lang_id": f"""
            WITH tok AS (
              SELECT doc_id, lang,
                     list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
              FROM documents
            ), hits AS (
              SELECT doc_id, lang,
                {_LANG_HITS_SQL}
              FROM tok
            )
            SELECT doc_id, lang,
              CASE WHEN greatest(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'unknown'
                   WHEN h_de >= greatest(h_en, h_es, h_fr, h_zh) THEN 'de'
                   WHEN h_en >= greatest(h_es, h_fr, h_zh) THEN 'en'
                   WHEN h_es >= greatest(h_fr, h_zh) THEN 'es'
                   WHEN h_fr >= h_zh THEN 'fr'
                   ELSE 'zh' END AS lang_pred
            FROM hits
        """,
        "q_quality_filter": f"""
            WITH tok AS (
              SELECT doc_id, text, {_TOKENS_SQL} AS t FROM documents
            ), feats AS (
              SELECT doc_id,
                     CAST(len(t) AS BIGINT) AS n_tokens,
                     round(CASE WHEN len(t) > 0 THEN CAST(len(list_distinct(t)) AS DOUBLE) / len(t) ELSE 0.0 END, 6) AS dr,
                     round(CASE WHEN len(t) > 0 THEN CAST(length(text) AS DOUBLE) / len(t) ELSE 0.0 END, 6) AS mwl,
                     round(CASE WHEN length(text) > 0 THEN CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length(text) ELSE 0.0 END, 6) AS pr
              FROM tok
            )
            SELECT doc_id, n_tokens, len(reasons) = 0 AS keep,
                   -- DuckDB array_to_string([]) is NULL; Spark array_join([]) is ''
                   COALESCE(array_to_string(reasons, ','), '') AS reasons FROM (
              SELECT doc_id, n_tokens,
                     (CASE WHEN n_tokens < 10 THEN ['too_short'] ELSE []::VARCHAR[] END)
                     || (CASE WHEN dr < 0.3 THEN ['low_distinct'] ELSE []::VARCHAR[] END)
                     || (CASE WHEN pr > 0.1 THEN ['high_punct'] ELSE []::VARCHAR[] END)
                     || (CASE WHEN mwl < 3.0 THEN ['short_words'] ELSE []::VARCHAR[] END) AS reasons
              FROM feats
            )
        """,
        "q_nb_quality_score": _nb_quality_oracle_sql(),
        "q_bloom_dedup": _bloom_dedup_oracle_sql(),
        "q_bloom_merge": _bloom_merge_oracle_sql(),
        "q_gopher_rules": f"""
            WITH d AS (SELECT doc_id, {_TOKENS_SQL} AS w FROM documents),
            base AS (
              SELECT doc_id,
                     CAST(len(w) AS BIGINT) AS n_words,
                     CAST(COALESCE(list_sum(list_transform(w, x -> length(x))), 0) AS BIGINT) AS tot_chars,
                     CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
                     CAST(len(list_intersect(w, ['the','a','of','and','to','in','is','that','it','for'])) AS BIGINT) AS n_stop_distinct,
                     CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct
              FROM d),
            g AS (SELECT doc_id, w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] AS gram
                  FROM d, UNNEST(range(1, len(w))) AS t(i)),
            gc AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS c,
                          CAST(length(gram) - 1 AS BIGINT) AS chars
                   FROM g GROUP BY doc_id, gram),
            top AS (SELECT doc_id, max(c * chars) AS top_chars FROM gc GROUP BY doc_id)
            SELECT b.doc_id, n_words,
                   tot_chars / nullif(n_words, 0) AS mean_word_len,
                   n_alpha / nullif(n_words, 0) AS frac_alpha_words,
                   n_stop_distinct,
                   (n_words - n_distinct) / nullif(n_words, 0) AS dup_word_frac,
                   COALESCE(top_chars / nullif(tot_chars, 0), 0.0) AS top_bigram_char_frac,
                   (n_words BETWEEN 50 AND 100000)
                     AND (tot_chars / nullif(n_words, 0) BETWEEN 3 AND 10)
                     AND (n_alpha / nullif(n_words, 0) >= 0.8)
                     AND (n_stop_distinct >= 2)
                     AND ((n_words - n_distinct) / nullif(n_words, 0) <= 0.85)
                     AND (COALESCE(top_chars / nullif(tot_chars, 0), 0.0) <= 0.2) AS keep
            FROM base b LEFT JOIN top USING (doc_id)
        """,
        "q_contamination": f"""
            WITH g AS (
              SELECT doc_id, source,
                     list_distinct([array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t)-1)]) AS grams
              FROM (SELECT doc_id, source, {_TOKENS_SQL} AS t FROM documents)
            ),
            tg AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE source <> 'src0'),
            bg AS (SELECT doc_id AS bench_id, unnest(grams) AS gram FROM g WHERE source = 'src0')
            SELECT tg.doc_id,
                   count(DISTINCT tg.gram) AS n_shared_grams,
                   count(DISTINCT bg.bench_id) AS n_bench_docs
            FROM tg JOIN bg USING (gram) GROUP BY tg.doc_id
        """,
        "q_chunk_documents": f"""
            WITH tok AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
            ch AS (
              SELECT doc_id,
                     [t[i:i+49] FOR i IN range(1, greatest(len(t), 1) + 1, 40)] AS chunks
              FROM tok WHERE len(t) >= 1
            )
            SELECT doc_id,
                   CAST(generate_subscripts(chunks, 1) AS BIGINT) AS chunk_idx,
                   CAST(len(unnest(chunks)) AS BIGINT) AS n_chunk_tokens,
                   array_to_string(unnest(chunks), ' ') AS chunk_text
            FROM ch
        """,
        "q_curated_docs_v2": f"""
            WITH tok AS (
              SELECT doc_id, text, lang, {_TOKENS_SQL} AS t FROM documents
            ), feats AS (
              SELECT doc_id,
                     CAST(len(t) AS BIGINT) AS n_tokens,
                     round(CASE WHEN len(t) > 0 THEN CAST(len(list_distinct(t)) AS DOUBLE) / len(t) ELSE 0.0 END, 6) AS dr,
                     round(CASE WHEN len(t) > 0 THEN CAST(length(text) AS DOUBLE) / len(t) ELSE 0.0 END, 6) AS mwl,
                     round(CASE WHEN length(text) > 0 THEN CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length(text) ELSE 0.0 END, 6) AS pr
              FROM tok
            ), quality AS (
              SELECT d.doc_id, d.text, d.lang FROM documents d JOIN feats f ON d.doc_id = f.doc_id
              WHERE NOT (f.n_tokens < 10 OR f.dr < 0.3 OR f.pr > 0.1 OR f.mwl < 3.0)
            ), ch AS (
              SELECT t.doc_id,
                     [t.t[i:i+49] FOR i IN range(1, greatest(len(t.t), 1) + 1, 50)] AS chunks
              FROM tok t JOIN quality q ON t.doc_id = q.doc_id
              WHERE len(t.t) >= 1
            ), fp AS (
              SELECT doc_id, md5(array_to_string(unnest(chunks), ' ')) AS fp FROM ch
            ), dupfp AS (
              SELECT fp FROM fp GROUP BY fp HAVING count(DISTINCT doc_id) >= 2
            ), lowdup AS (
              SELECT q.* FROM quality q JOIN (
                SELECT f.doc_id,
                       round(CAST(count(d.fp) AS DOUBLE) / count(*), 6) AS r
                FROM fp f LEFT JOIN dupfp d USING (fp) GROUP BY f.doc_id
              ) rr ON q.doc_id = rr.doc_id
              WHERE rr.r <= 0.5
            ), winners AS (
              SELECT min(doc_id) AS doc_id
              FROM (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp2 FROM lowdup)
              GROUP BY fp2
            ), dedup AS (
              SELECT l.doc_id, l.lang FROM lowdup l JOIN winners w ON l.doc_id = w.doc_id
            ), counts AS (
              SELECT lang, count(*) AS n_g,
                     CASE lang WHEN 'en' THEN CAST(0.3 AS DOUBLE)
                               WHEN 'zh' THEN CAST(0.2 AS DOUBLE)
                               WHEN 'es' THEN CAST(0.2 AS DOUBLE)
                               WHEN 'de' THEN CAST(0.15 AS DOUBLE)
                               WHEN 'fr' THEN CAST(0.15 AS DOUBLE) END AS frac
              FROM dedup GROUP BY lang
            ), t2 AS (SELECT min(n_g / frac) AS t FROM counts WHERE frac IS NOT NULL),
            thr AS (
              SELECT lang,
                     CASE WHEN frac * t2.t / n_g >= 1.0 THEN 'g'
                          ELSE lower(lpad(to_hex(CAST(floor(frac * t2.t / n_g * 4294967296.0) AS BIGINT)), 8, '0'))
                     END AS thr
              FROM counts, t2 WHERE frac IS NOT NULL
            )
            SELECT d.doc_id, d.lang FROM dedup d JOIN thr USING (lang)
            WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < thr.thr
        """,
        "q_chunk_dup_census": f"""
            WITH tok AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
            ch AS (
              SELECT doc_id,
                     [t[i:i+49] FOR i IN range(1, greatest(len(t), 1) + 1, 50)] AS chunks
              FROM tok WHERE len(t) >= 1
            ),
            fp AS (
              SELECT doc_id, md5(array_to_string(unnest(chunks), ' ')) AS fp FROM ch
            )
            SELECT fp AS fingerprint,
                   CAST(count(*) AS BIGINT) AS n_occurrences,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   min(doc_id) AS first_doc
            FROM fp GROUP BY fp HAVING count(DISTINCT doc_id) >= 2
        """,
        "q_chunk_overlap_ratio": f"""
            WITH tok AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
            ch AS (
              SELECT doc_id,
                     [t[i:i+49] FOR i IN range(1, greatest(len(t), 1) + 1, 50)] AS chunks
              FROM tok WHERE len(t) >= 1
            ),
            fp AS (
              SELECT doc_id, md5(array_to_string(unnest(chunks), ' ')) AS fp FROM ch
            ),
            dup AS (SELECT fp FROM fp GROUP BY fp HAVING count(DISTINCT doc_id) >= 2)
            SELECT f.doc_id,
                   CAST(count(*) AS BIGINT) AS n_chunks,
                   CAST(count(d.fp) AS BIGINT) AS n_dup_chunks,
                   round(CAST(count(d.fp) AS DOUBLE) / count(*), 6) AS dup_ratio
            FROM fp f LEFT JOIN dup d USING (fp)
            GROUP BY f.doc_id
        """,
        "q_pack_documents": f"""
            SELECT doc_id, source AS part, n_tokens,
                   CAST(floor(CAST(coalesce(sum(n_tokens) OVER w, 0) AS DOUBLE) / 512) AS BIGINT) AS pack_id
            FROM (SELECT doc_id, source, CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens FROM documents)
            WINDOW w AS (
              PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
            )
        """,
        "q_curated_docs": _CURATE_SQL.format(tok=_TOKENS_SQL)
        + "SELECT doc_id, lang FROM sampled",
        "q_curation_funnel": _CURATE_SQL.format(tok=_TOKENS_SQL)
        + """
            SELECT '1_raw' AS stage, count(*) AS n_docs FROM documents
            UNION ALL SELECT '2_quality', count(*) FROM quality
            UNION ALL SELECT '3_dedup', count(*) FROM dedup
            UNION ALL SELECT '4_sampled', count(*) FROM sampled
        """,
        "q_quality_calibrated": f"""
            WITH tok AS (
              SELECT doc_id, source, text, {_TOKENS_SQL} AS t FROM documents
            ), feats AS (
              SELECT doc_id, source,
                     round(least(len(t) / 100.0, 1.0) * 0.25
                           + (CASE WHEN len(t) > 0 THEN CAST(len(list_distinct(t)) AS DOUBLE) / len(t) ELSE 0.0 END) * 0.25
                           + (CASE WHEN len(t) > 0 THEN CAST(len(list_filter(t, x -> list_contains({_EN_STOPWORDS_SQL}, x))) AS DOUBLE) / len(t) ELSE 0.0 END) * 0.25
                           + (1.0 - least((CASE WHEN length(text) > 0 THEN CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length(text) ELSE 0.0 END) * 5.0, 1.0)) * 0.25, 6) AS quality_score
              FROM tok
            )
            SELECT doc_id, source, quality_score, pr, pr >= 0.5 AS keep FROM (
              SELECT doc_id, source, quality_score,
                     percent_rank() OVER (PARTITION BY source ORDER BY quality_score) AS pr
              FROM feats
            )
        """,
        "q_quality_score": f"""
            WITH tok AS (
              SELECT doc_id, text, {_TOKENS_SQL} AS t FROM documents
            ), feats AS (
              SELECT doc_id,
                     len(t) AS n_tokens,
                     CASE WHEN len(t) > 0 THEN CAST(len(list_distinct(t)) AS DOUBLE) / len(t) ELSE 0.0 END AS distinct_ratio,
                     CASE WHEN len(t) > 0 THEN CAST(len(list_filter(t, x -> list_contains({_EN_STOPWORDS_SQL}, x))) AS DOUBLE) / len(t) ELSE 0.0 END AS stopword_ratio,
                     CASE WHEN len(t) > 0 THEN CAST(length(text) AS DOUBLE) / len(t) ELSE 0.0 END AS mean_word_len,
                     CASE WHEN length(text) > 0 THEN CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length(text) ELSE 0.0 END AS punct_ratio
              FROM tok
            )
            SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                   round(distinct_ratio, 6) AS distinct_ratio,
                   round(stopword_ratio, 6) AS stopword_ratio,
                   round(mean_word_len, 6) AS mean_word_len,
                   round(punct_ratio, 6) AS punct_ratio,
                   round(least(n_tokens / 100.0, 1.0) * 0.25
                         + distinct_ratio * 0.25
                         + stopword_ratio * 0.25
                         + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.25, 6) AS quality_score
            FROM feats
        """,
        "q_doc_fingerprint": """
            SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
            FROM documents
        """,
        "q_token_counts": f"""
            SELECT doc_id,
                   CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_ws_tokens,
                   CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens
            FROM documents
        """,
        "q_array_ops": """
            WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
            SELECT vec_id,
                   round(sqrt(list_dot_product(e, e)), 6) AS l2_norm,
                   CAST(len(list_filter(e, x -> x > 0)) AS BIGINT) AS n_positive,
                   round(list_sum(e) / len(e), 6) AS mean_val,
                   round(list_max(e), 6) AS max_val
            FROM v
        """,
        "q_binary_meta": """
            SELECT doc_id,
                   octet_length(encode(text)) AS n_bytes,
                   'image' AS media_type,
                   CASE WHEN lower(substring(hex(encode(text)), 1, 8)) LIKE '89504e47%' THEN 'png'
                        WHEN lower(substring(hex(encode(text)), 1, 8)) LIKE 'ffd8ff%' THEN 'jpeg'
                        WHEN lower(substring(hex(encode(text)), 1, 8)) LIKE '52494646%' THEN 'wav_or_avi'
                        WHEN lower(substring(hex(encode(text)), 1, 8)) LIKE '00000018%' THEN 'mp4'
                        WHEN lower(substring(hex(encode(text)), 1, 8)) LIKE '00000020%' THEN 'mp4'
                        ELSE 'unknown' END AS sniffed_format,
                   lower(substring(hex(encode(text)), 1, 8)) AS magic_hex
            FROM documents
        """,
        "q_udtf_spans": """
            WITH parts AS (
              SELECT doc_id, string_split(text, '. ') AS p FROM documents
            )
            SELECT doc_id,
                   CAST(generate_subscripts(p, 1) AS INT) AS span_idx,
                   unnest(p) AS span,
                   CAST(len(list_filter(string_split(unnest(p), ' '), x -> x <> '')) AS BIGINT) AS n_tokens
            FROM parts
        """,
        # q_multimodal_features: stub decoder is Python-side → rows-only.
        "q_pandas_udf_zscore": """
            SELECT event_id, event_type,
                   round(CASE WHEN stddev_pop(value) OVER w <> 0
                              THEN (value - avg(value) OVER w) / (stddev_pop(value) OVER w)
                              ELSE 0.0 END, 6) AS zscore
            FROM events
            WINDOW w AS (PARTITION BY event_type)
        """,
    }

    # composed eval: agreement grid of the rule-based and classifier
    # quality filters (both sub-oracles reused verbatim as subqueries)
    d["q_filter_agreement"] = (
        "WITH rule AS (SELECT doc_id, keep AS rule_keep FROM ("
        + d["q_quality_filter"]
        + ")), clf AS (SELECT doc_id, keep AS clf_keep FROM ("
        + _classifier_oracle_sql()
        + """))
        SELECT rule_keep, clf_keep, CAST(count(*) AS BIGINT) AS n
        FROM rule JOIN clf USING (doc_id)
        GROUP BY 1, 2
        """
    )
    return d
