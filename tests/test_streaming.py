"""Structured Streaming tests (SURVEY §5.4, B26-B32).

Strategy: slice the deterministic events fixture into chronological
parquet chunks in a temp dir, drive a file-source streaming query to
completion with availableNow, and assert on the materialized results —
watermark late-row handling, dedup-within-watermark across micro-batches,
session windows, and the foreachBatch graph sink's delivered/failed
accounting.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from cloudtrace_exporter_spark.operators import normalize
from cloudtrace_exporter_spark.sources.tables import load_table
from cloudtrace_exporter_spark.streaming import (
    DeliveryCounters,
    dedup_within_watermark,
    foreach_batch_graph_upsert,
    read_event_stream,
    session_windows,
    sliding_counts,
    stateful_running_totals,
    stream_static_enrich,
    stream_stream_interval_join,
    tumbling_counts,
)
from cloudtrace_exporter_spark.streaming.sinks import run_to_completion

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def staged_events(spark, tmp_path_factory):
    """events fixture split into 4 chronological parquet chunks (micro-batch pages)."""
    root = tmp_path_factory.mktemp("stream_src")
    ev = load_table(spark, SF, "events").orderBy("ts")
    ev = ev.withColumn("chunk", F.ntile(4).over(__import__("pyspark").sql.Window.orderBy("ts")))
    for i in range(1, 5):
        (ev.filter(F.col("chunk") == i).drop("chunk")
           .coalesce(1).write.mode("overwrite").parquet(str(root / f"chunk={i}")))
    # flatten: move part files into one dir so readStream sees 4 files arrive
    flat = tmp_path_factory.mktemp("stream_flat")
    n = 0
    for i in range(1, 5):
        d = root / f"chunk={i}"
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                os.rename(d / f, flat / f"page_{i}_{n}.parquet")
                n += 1
    return str(flat)


def _run_to_memory(spark, stream_df, name, mode="append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {name}")


def test_file_source_reads_all_pages(spark, staged_events, tmp_path):
    stream = read_event_stream(spark, staged_events, max_files_per_trigger=1)
    out = _run_to_memory(spark, stream.select("event_id"), "t_all_pages")
    assert out.count() == 1000  # sf0.001 events rows


def test_trace_file_source_matches_batch_normalize(spark, staged_events, tmp_path):
    """The NON-driver-routed ingest line (read_trace_stream: parquet
    trace pages → normalize → watermark dedup) yields exactly the rows
    the batch normalize chain yields — the r7 probe path, parity-pinned."""
    from cloudtrace_exporter_spark.operators import normalize
    from cloudtrace_exporter_spark.streaming.pipeline import read_trace_stream

    ev = load_table(spark, SF, "events")
    traces = normalize.events_as_traces(ev)
    pages = str(tmp_path / "trace_pages")
    traces.repartition(4).write.parquet(pages)
    ctx = dict(source="https://cts.example", region="eu-de", domain="d1", tenant="p1")
    stream = read_trace_stream(spark, pages, max_files_per_trigger=1)
    streamed = dedup_within_watermark(
        normalize.normalize_traces(stream, **ctx),
        key="event_id", ts_col="event_time", delay="365 days",
    )
    out = _run_to_memory(spark, streamed, "t_trace_file_src")
    batch = normalize.normalize_traces(traces, **ctx)
    assert out.count() == 1000
    assert out.exceptAll(batch).count() == 0
    assert batch.exceptAll(out).count() == 0


def test_dedup_within_watermark_across_batches(spark, staged_events, tmp_path):
    # at-least-once: re-deliver page content by reading the dir twice via union
    stream = read_event_stream(spark, staged_events, max_files_per_trigger=2)
    deduped = dedup_within_watermark(stream.union(stream), delay="30 days")
    out = _run_to_memory(spark, deduped.select("event_id"), "t_dedup")
    assert out.count() == 1000
    assert out.distinct().count() == 1000


def test_tumbling_counts_match_batch(spark, staged_events):
    stream = read_event_stream(spark, staged_events)
    agg = tumbling_counts(stream, size="1 hour", delay="0 seconds")
    # append mode would (correctly) hold back the final unclosed window —
    # the watermark never passes the max event time; complete mode emits all.
    out = _run_to_memory(spark, agg, "t_tumbling", mode="complete")
    batch = (
        load_table(spark, SF, "events")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert out.agg(F.sum("n")).collect()[0][0] == batch.agg(F.sum("n")).collect()[0][0] == 1000
    assert out.count() == batch.count()


def test_tumbling_append_holds_back_open_window(spark, staged_events):
    # B29 invariant, tested directly: in append mode the final window stays
    # open (watermark = max ts < window end) → emitted rows < total rows.
    stream = read_event_stream(spark, staged_events)
    out = _run_to_memory(
        spark, tumbling_counts(stream, size="1 hour", delay="0 seconds"), "t_tumbling_append"
    )
    emitted = out.agg(F.sum("n")).collect()[0][0]
    assert emitted < 1000
    assert emitted >= 990  # only the tail window withheld


def test_sliding_windows_overlap(spark, staged_events):
    # B27: 2h window sliding by 1h → every event lands in exactly 2 windows
    stream = read_event_stream(spark, staged_events)
    out = _run_to_memory(
        spark,
        sliding_counts(stream, size="2 hours", slide="1 hour", delay="0 seconds"),
        "t_sliding",
        mode="complete",
    )
    assert out.agg(F.sum("n")).collect()[0][0] == 2000  # 1000 events × 2 windows
    # a 2h/1h sliding window containing events starts at an event's hour or
    # the hour before it — compute that set exactly from the batch side
    hours = load_table(spark, SF, "events").select(
        F.date_trunc("hour", "ts").alias("h")
    )
    expected_windows = (
        hours.select("h").union(hours.select(F.col("h") - F.expr("INTERVAL 1 HOUR"))).distinct().count()
    )
    assert out.count() == expected_windows


def test_session_windows_close(spark, staged_events):
    stream = read_event_stream(spark, staged_events)
    out = _run_to_memory(
        spark, session_windows(stream, gap="30 minutes", delay="0 seconds"), "t_sess", mode="complete"
    )
    assert out.count() > 0
    assert out.agg(F.sum("n_events")).collect()[0][0] == 1000


def test_foreach_batch_graph_sink(spark, staged_events, tmp_path):
    stream = read_event_stream(spark, staged_events, max_files_per_trigger=2)
    normalized = normalize.normalize_traces(
        normalize.events_as_traces(stream),
        source="https://cts.example", region="eu-de", domain="d1", tenant="p1",
    )
    counters = DeliveryCounters()
    out_dir = str(tmp_path / "graph")
    sink = foreach_batch_graph_upsert(out_dir, counters)
    run_to_completion(normalized, sink, str(tmp_path / "ckpt"))
    assert counters.failed == 0
    assert counters.delivered == 1000
    assert counters.batches >= 2  # maxFilesPerTrigger=2 over 4 files
    actions = spark.read.parquet(os.path.join(out_dir, "nodes", "actions"))
    assert actions.count() == 1000  # MERGE idempotency across batches
    assert actions.select("id").distinct().count() == 1000
    subjects = spark.read.parquet(os.path.join(out_dir, "nodes", "subjects"))
    assert subjects.count() == subjects.distinct().count()


def test_stateful_running_totals_across_batches(spark, staged_events):
    # state survives micro-batches: final per-user totals over 4 pages must
    # equal the batch groupBy; update-mode emits one row per key per batch,
    # so take each user's max (totals are monotone).
    stream = read_event_stream(spark, staged_events, max_files_per_trigger=1)
    out = _run_to_memory(spark, stateful_running_totals(stream), "t_stateful", mode="update")
    final = (
        out.groupBy("user_id")
        .agg(F.max("n_events_total").alias("n"), F.max("value_total").alias("v"))
    )
    expected = (
        load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("v"))
    )
    diff = final.join(expected, "user_id").filter(
        (final["n"] != expected["n"]) | (F.abs(final["v"] - expected["v"]) > 0.01)
    )
    assert final.count() == expected.count()
    assert diff.count() == 0
    # multiple updates per key proves state crossed batch boundaries
    assert out.count() > final.count()


def test_stream_static_enrich_broadcasts_dim(spark, staged_events):
    stream = read_event_stream(spark, staged_events)
    dim = spark.createDataFrame(
        [("click", "interactive"), ("view", "passive"), ("purchase", "transactional"),
         ("error", "fault"), ("signup", "auth")],
        "event_type string, category string",
    )
    enriched = stream_static_enrich(stream, dim, on="event_type")
    out = _run_to_memory(spark, enriched.select("event_id", "category"), "t_enrich")
    assert out.count() == 1000
    assert out.filter(F.col("category").isNull()).count() == 0


def test_stream_stream_interval_join_matches_batch(spark, staged_events):
    stream = read_event_stream(spark, staged_events)
    joined = stream_stream_interval_join(stream, within="30 minutes", delay="30 days")
    out = _run_to_memory(spark, joined, "t_ss_join")
    ev = load_table(spark, SF, "events")
    l = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("l_user"), F.col("event_id").alias("left_id"), F.col("ts").alias("l_ts")
    )
    r = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("r_user"), F.col("event_id").alias("right_id"), F.col("ts").alias("r_ts")
    )
    batch = l.join(
        r,
        F.expr("l_user = r_user AND r_ts >= l_ts AND r_ts <= l_ts + INTERVAL 30 minutes"),
    )
    assert out.count() == batch.count() > 0
    s = {(x["left_id"], x["right_id"]) for x in out.select("left_id", "right_id").collect()}
    b = {(x["left_id"], x["right_id"]) for x in batch.select("left_id", "right_id").collect()}
    assert s == b


def test_checkpoint_restart_resumes_without_reprocessing(spark, staged_events, tmp_path):
    """Exactly-once across restarts: a second run over the same checkpoint
    must pick up only files that arrived after the first run — no
    re-delivery, no loss (the property the reference's wall-clock-delta
    overlap only approximates)."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    pages = sorted(f for f in os.listdir(staged_events) if f.endswith(".parquet"))
    half = len(pages) // 2
    for f in pages[:half]:
        os.link(os.path.join(staged_events, f), os.path.join(src, f))

    counters = DeliveryCounters()
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "graph")

    def run_once():
        stream = read_event_stream(spark, src, max_files_per_trigger=1)
        normalized = normalize.normalize_traces(
            normalize.events_as_traces(stream),
            source="https://cts.example", region="eu-de", domain="d1", tenant="p1",
        )
        run_to_completion(normalized, foreach_batch_graph_upsert(out_dir, counters), ckpt)

    run_once()
    first_batch_delivered = counters.delivered
    assert 0 < first_batch_delivered < 1000

    for f in pages[half:]:
        os.link(os.path.join(staged_events, f), os.path.join(src, f))
    run_once()

    assert counters.delivered == 1000  # second run delivered ONLY the new files
    assert counters.failed == 0
    actions = spark.read.parquet(os.path.join(out_dir, "nodes", "actions"))
    assert actions.count() == 1000
    assert actions.select("id").distinct().count() == 1000


def test_sink_failure_is_counted_not_raised(spark, staged_events, tmp_path):
    # A13 semantics: per-record/batch failure tolerated, counted, logged
    stream = read_event_stream(spark, staged_events)
    counters = DeliveryCounters()

    def boom(batch_df, epoch_id):
        raise RuntimeError("sink down")

    def wrapped(batch_df, epoch_id):
        try:
            boom(batch_df, epoch_id)
        except Exception as exc:
            counters.record(failed=1, error=str(exc))

    run_to_completion(stream, wrapped, str(tmp_path / "ckpt2"))
    assert counters.failed >= 1
    assert "sink down" in counters.errors[0]


def _one_event_batch(spark):
    from cloudtrace_exporter_spark.schemas import EVENT_SCHEMA

    return spark.createDataFrame(
        [("e1", "src", "t", "alice", None, "ok", "200", "r1", "eu-de", "d1", "p1", "{}")],
        EVENT_SCHEMA,
    )


def test_graph_sink_failed_table_is_counted_once_or_raised(spark, tmp_path):
    """One table path that is a regular file fails that table's write: with
    counters the epoch is counted failed once, naming the epoch and the
    table, and the sink returns only after every other write finished;
    without counters it raises."""
    batch = _one_event_batch(spark)
    out_dir = tmp_path / "graph"
    (out_dir / "nodes").mkdir(parents=True)
    (out_dir / "nodes" / "regions").write_text("")
    counters = DeliveryCounters()
    foreach_batch_graph_upsert(str(out_dir), counters)(batch, 3)
    assert (counters.delivered, counters.failed) == (0, 1)
    assert counters.errors[0].startswith("epoch 3: nodes/regions: ")
    assert list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []
    assert spark.read.parquet(str(out_dir / "nodes" / "actions")).count() == 1
    with pytest.raises(Exception, match="nodes/regions"):
        foreach_batch_graph_upsert(str(out_dir))(batch, 4)


def test_graph_sink_merge_equals_per_table_upsert(spark, tmp_path):
    """The single anti-join writes, to each of the 11 tables, exactly what
    ``build_graph`` anti-joined per table against the store would: the
    same column names and types and the same rows. The second batch holds
    an exact duplicate event, shared dimension keys, null subject and
    resource keys, and keys the first batch already stored; a null key
    never matches, so it is appended again."""
    import datetime as dt
    from collections import Counter

    from cloudtrace_exporter_spark.operators.graph import GRAPH_TABLES, build_graph
    from cloudtrace_exporter_spark.schemas import EVENT_SCHEMA, NODE_KEYS

    def ev(eid, subject, resource, status="ok", region="eu-de", tenant="p1"):
        return (eid, "src", "t", subject, dt.datetime(2024, 1, 1, 12, int(eid[1:])),
                status, "200", resource, region, "d1", tenant, "{}")

    first = spark.createDataFrame(
        [ev("e1", "alice", "r1"), ev("e2", None, "r2"), ev("e3", "bob", "r1", "warn")],
        EVENT_SCHEMA,
    )
    second = spark.createDataFrame(
        [ev("e4", "alice", "r3"), ev("e4", "alice", "r3"), ev("e5", None, None, region="eu-nl"),
         ev("e1", "alice", "r1"), ev("e6", "carol", "r1", tenant="p2"), ev("e7", "bob", None)],
        EVENT_SCHEMA,
    )
    out = tmp_path / "graph"

    def parquet_files():
        return {t: sorted(str(f) for f in (out / t).glob("*.parquet")) for t in GRAPH_TABLES}

    counters = DeliveryCounters()
    sink = foreach_batch_graph_upsert(str(out), counters)
    sink(first, 0)
    before = parquet_files()
    sink(second, 1)
    assert (counters.delivered, counters.failed) == (9, 0)
    nodes, edges = build_graph(second)
    built = {**{f"nodes/{n}": df for n, df in nodes.items()},
             **{f"edges/{n}": df for n, df in edges.items()}}
    for table, files in parquet_files().items():
        kind, name = table.split("/")
        keys = NODE_KEYS[name] if kind == "nodes" else built[table].columns
        expected = built[table].join(spark.read.parquet(*before[table]), keys, "left_anti")
        added = [f for f in files if f not in before[table]]
        if not added:
            assert expected.count() == 0, table
            continue
        written = spark.read.parquet(*added)
        assert written.dtypes == expected.dtypes, table
        assert Counter(written.collect()) == Counter(expected.collect()), table
    assert [f for f in parquet_files()["nodes/regions"] if f not in before["nodes/regions"]]
    assert not [f for f in parquet_files()["nodes/statuses"] if f not in before["nodes/statuses"]]


def test_graph_sink_jobs_inherit_caller_job_group(spark, tmp_path):
    """The table writes run on pool threads, yet every job carries the
    calling thread's job group, which is what lets a streaming query's
    ``stop()`` cancel them."""
    import threading

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    batch = _one_event_batch(spark)
    ungrouped = set(tracker.getJobIdsForGroup(None))
    errors = []

    def call():
        sc.setJobGroup("g", "graph sink job group", interruptOnCancel=True)
        try:
            foreach_batch_graph_upsert(str(tmp_path / "graph"))(batch, 0)
        except Exception as exc:
            errors.append(exc)
        finally:
            sc._jsc.clearJobGroup()

    t = threading.Thread(target=call)
    t.start()
    t.join()
    assert errors == []
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(tracker.getJobIdsForGroup("g")) >= 1 + 11  # the count + 11 table writes
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped


def test_cypher_sink_writes_replayable_unwind_script(spark, staged_events, tmp_path):
    """Batched Cypher sink (set-oriented neo4j_sink replacement): the
    UNWIND MERGE template + per-epoch JSON parameter rows, delivered
    counts accounted, rows dedup'd on the action key."""
    from cloudtrace_exporter_spark.streaming.cypher_sink import (
        UNWIND_MERGE_CYPHER,
        foreach_batch_cypher_upsert,
    )

    counters = DeliveryCounters()
    out = str(tmp_path / "cypher")
    stream = read_event_stream(spark, staged_events, max_files_per_trigger=2)
    normalized = normalize.normalize_traces(
        normalize.events_as_traces(stream),
        source="https://cts.example", region="eu-de", domain="d1", tenant="p1",
    )
    run_to_completion(
        normalized, foreach_batch_cypher_upsert(out, counters=counters), str(tmp_path / "ckpt")
    )

    with open(os.path.join(out, "statement.cypher")) as fh:
        stmt = fh.read()
    assert stmt == UNWIND_MERGE_CYPHER
    for label in ("REGION", "STATUS", "SUBJECT", "TENANT", "RESOURCE", "ACTION"):
        assert f":{label}" in stmt
    for rel in ("APPLIED_ON", "LOCATED_AT", "MEMBER_OF", "WITH_STATUS", "PERFORMED_BY"):
        assert f"[:{rel}]" in stmt

    row_dirs = sorted(d for d in os.listdir(out) if d.startswith("rows-"))
    assert len(row_dirs) >= 2  # one per non-empty micro-batch
    rows = spark.read.json(os.path.join(out, "rows-*"))
    assert rows.count() == counters.delivered == 1000
    assert rows.select("actionId").distinct().count() == 1000
    expect_cols = {"region", "tenantId", "domainId", "resourceId", "actionId",
                   "timestamp", "source", "type", "status", "subject"}
    assert expect_cols <= set(rows.columns)
    assert counters.failed == 0


def test_sinks_count_empty_batch_and_write_nothing(spark, tmp_path):
    """The watermark's no-data batch: each sink records one batch with
    nothing delivered and leaves no parquet or JSON file behind."""
    from cloudtrace_exporter_spark.schemas import EVENT_SCHEMA
    from cloudtrace_exporter_spark.streaming.cypher_sink import foreach_batch_cypher_upsert

    empty = spark.createDataFrame([], EVENT_SCHEMA)
    for name, factory in (
        ("graph", foreach_batch_graph_upsert),
        ("cypher", foreach_batch_cypher_upsert),
    ):
        out_dir = str(tmp_path / name)
        counters = DeliveryCounters()
        factory(out_dir, counters=counters)(empty, 7)
        assert (counters.batches, counters.delivered, counters.failed) == (1, 0, 0), name
        written = [f for _, _, fs in os.walk(out_dir) for f in fs]
        assert not [f for f in written if f.endswith((".parquet", ".json"))], name


def test_cypher_sink_failure_raises_without_counters(spark, tmp_path):
    """Like the graph sink and the JSONL sender: a failed write is counted
    when counters are attached and re-raised otherwise, so the batch
    replays from the checkpoint instead of vanishing."""
    from cloudtrace_exporter_spark.schemas import EVENT_SCHEMA
    from cloudtrace_exporter_spark.streaming.cypher_sink import foreach_batch_cypher_upsert

    batch = spark.createDataFrame([("e1",) + (None,) * 11], EVENT_SCHEMA)
    not_a_dir = tmp_path / "cypher"
    not_a_dir.write_text("")
    with pytest.raises(OSError):
        foreach_batch_cypher_upsert(str(not_a_dir))(batch, 0)
    counters = DeliveryCounters()
    foreach_batch_cypher_upsert(str(not_a_dir), counters=counters)(batch, 0)
    assert (counters.batches, counters.delivered, counters.failed) == (1, 0, 1)
    assert counters.errors[0].startswith("epoch 0: ")


def test_streaming_curation_matches_batch(spark, tmp_path):
    """quality_keep + redact_pii are narrow expressions, so they apply to
    a readStream unchanged — batch/stream parity for the curation path."""
    from cloudtrace_exporter_spark.operators import text as text_ops
    from cloudtrace_exporter_spark.schemas import FIXTURE_SCHEMAS

    docs = load_table(spark, SF, "documents")
    src = str(tmp_path / "docs_src")
    docs.coalesce(2).write.mode("overwrite").parquet(src)

    batch = text_ops.redact_pii(docs.filter(text_ops.quality_keep("text")))
    stream = (
        spark.readStream.schema(FIXTURE_SCHEMAS["documents"])
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    streamed = text_ops.redact_pii(stream.filter(text_ops.quality_keep("text")))
    out = _run_to_memory(spark, streamed, "t_curation")

    b = {(r["doc_id"], r["redacted"]) for r in batch.collect()}
    s = {(r["doc_id"], r["redacted"]) for r in out.collect()}
    assert b == s and len(b) > 0


def test_transform_with_state_matches_apply_in_pandas_variant(spark, staged_events):
    # the Spark-4 processor-API operator must agree with the GroupState one.
    # transformWithStateInPandas speaks protobuf to the JVM; without the
    # google.protobuf package the driver worker cannot start — skip there.
    pytest.importorskip("google.protobuf")
    from cloudtrace_exporter_spark.streaming.pipeline import stateful_running_totals_v2

    stream = read_event_stream(spark, staged_events, max_files_per_trigger=1)
    out = _run_to_memory(spark, stateful_running_totals_v2(stream), "t_stateful_v2", mode="update")
    final = (
        out.groupBy("user_id")
        .agg(F.max("n_events_total").alias("n"), F.max("value_total").alias("v"))
    )
    expected = (
        load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("v"))
    )
    diff = final.join(expected, "user_id").filter(
        (final["n"] != expected["n"]) | (F.abs(final["v"] - expected["v"]) > 0.01)
    )
    assert final.count() == expected.count()
    assert diff.count() == 0


def test_streaming_ivf_assignment_matches_batch(spark, tmp_path):
    """Literal-centroid cell assignment is a narrow map, so the IVF index
    can be kept current from a stream: every streamed vector must land in
    exactly the cell the batch build assigns."""
    from cloudtrace_exporter_spark.operators import similarity
    from cloudtrace_exporter_spark.schemas import FIXTURE_SCHEMAS
    from cloudtrace_exporter_spark.streaming.pipeline import stream_assign_cells

    emb = load_table(spark, SF, "embeddings")
    src = str(tmp_path / "emb_src")
    emb.coalesce(2).write.mode("overwrite").parquet(src)

    assigned, cents = similarity._scaled_kmeans(
        emb, n_centroids=8, lloyd_iters=2, scale=10**6
    )
    stream = (
        spark.readStream.schema(FIXTURE_SCHEMAS["embeddings"])
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = _run_to_memory(
        spark, stream_assign_cells(stream, cents, scale=10**6), "t_ivf_assign"
    )
    s = {(r["id"], r["cell"]) for r in out.select("id", "cell").collect()}
    b = {(r["id"], r["cell"]) for r in assigned.select("id", "cell").collect()}
    assert s == b and len(s) == emb.count()


def test_streaming_lsh_dedup_probe_matches_batch(spark, tmp_path):
    """Near-dup screening from a stream: the banded-MinHash probe is a
    narrow map + stream-static equi-join, so streamed documents must
    produce exactly the batch probe's (new_id, corpus_id, est_jaccard)
    match set (pair multiplicity across bands collapses under the set
    compare, mirroring the documented consumer-side dedupe)."""
    from cloudtrace_exporter_spark.operators import dedup
    from cloudtrace_exporter_spark.schemas import FIXTURE_SCHEMAS
    from cloudtrace_exporter_spark.streaming.pipeline import stream_lsh_dedup_probe

    docs = load_table(spark, SF, "documents")
    corpus = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    src = str(tmp_path / "docs_new")
    new.coalesce(2).write.mode("overwrite").parquet(src)

    index = dedup.minhash_banded_index(corpus).cache()
    stream = (
        spark.readStream.schema(FIXTURE_SCHEMAS["documents"])
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = _run_to_memory(spark, stream_lsh_dedup_probe(stream, index), "t_lsh_probe")
    s = {(r["new_id"], r["corpus_id"], r["est_jaccard"]) for r in out.collect()}
    b = {
        (r["new_id"], r["corpus_id"], r["est_jaccard"])
        for r in stream_lsh_dedup_probe(new, index).collect()
    }
    assert s == b and len(s) > 0
    index.unpersist()


def test_streaming_pq_adc_matches_batch(spark, tmp_path):
    """PQ serving from a stream: codes and ADC distances computed by the
    literal-codebook narrow map over a file stream must equal the batch
    pq_encode / pq_topk results row-for-row (the driver-side query tables
    replay pq_topk's left-fold, so the doubles are bit-identical)."""
    from cloudtrace_exporter_spark.operators import similarity
    from cloudtrace_exporter_spark.schemas import FIXTURE_SCHEMAS
    from cloudtrace_exporter_spark.streaming.pipeline import stream_adc_scores, stream_pq_encode

    emb = load_table(spark, SF, "embeddings")
    n = emb.count()
    src = str(tmp_path / "emb_src_pq")
    emb.coalesce(2).write.mode("overwrite").parquet(src)

    books = similarity.pq_train(emb, m=8, k=16, lloyd_iters=1)
    queries = emb.filter(F.col("vec_id") < 3)
    qrows = [(r["vec_id"], list(r["embedding"])) for r in queries.collect()]

    stream = (
        spark.readStream.schema(FIXTURE_SCHEMAS["embeddings"])
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    # codes parity: stream encode == batch encode
    out_codes = _run_to_memory(spark, stream_pq_encode(stream, books), "t_pq_codes")
    s_codes = {(r["id"], tuple(r["codes"])) for r in out_codes.collect()}
    b_codes = {
        (r["id"], tuple(r["codes"])) for r in similarity.pq_encode(emb, books).collect()
    }
    assert s_codes == b_codes and len(s_codes) == n

    # ADC parity: stream scores == batch pq_topk distances (k=n keeps
    # every pair; batch excludes self-matches, mirror that filter here)
    out_adc = _run_to_memory(
        spark, stream_adc_scores(stream, books, qrows), "t_pq_adc"
    )
    s_adc = {
        (r["query_id"], r["corpus_id"], r["approx_dist"])
        for r in out_adc.filter(F.col("query_id") != F.col("corpus_id")).collect()
    }
    b_adc = {
        (r["query_id"], r["corpus_id"], r["approx_dist"])
        for r in similarity.pq_topk(emb, queries, books, k=n).collect()
    }
    assert s_adc == b_adc and len(s_adc) == 3 * (n - 1)


def test_stream_bm25_percolator_matches_batch_and_topk(spark, tmp_path):
    """BM25 percolation is a pure narrow map over frozen corpus stats:
    streamed documents must score IDENTICALLY to (a) the same percolator
    run in batch and (b) text.bm25_topk itself for every (query, doc)
    the top-k surfaces — the stats snapshot comes from the same corpus,
    so the scoring expressions must agree to the rounded digit."""
    from cloudtrace_exporter_spark.operators import text
    from cloudtrace_exporter_spark.schemas import FIXTURE_SCHEMAS
    from cloudtrace_exporter_spark.streaming.pipeline import stream_score_bm25

    docs = load_table(spark, SF, "documents")
    queries = [(0, "hash join"), (1, "window agg stream")]
    terms = sorted({t for _, q in queries for t in q.split(" ")})
    stats = text.bm25_corpus_stats(docs, terms)

    src = str(tmp_path / "docs_bm25")
    docs.coalesce(2).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(FIXTURE_SCHEMAS["documents"])
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = _run_to_memory(spark, stream_score_bm25(stream, queries, stats), "t_bm25_perc")
    s = {(r["doc_id"], r["query_id"], r["score"]) for r in out.collect()}
    b = {
        (r["doc_id"], r["query_id"], r["score"])
        for r in stream_score_bm25(docs, queries, stats).collect()
    }
    assert s == b and len(s) > 0
    # agreement with the batch retrieval path: every top-k row's score
    # reproduces exactly under the percolator's literal-stats expression
    perc = {(q, d): sc for d, q, sc in s}
    for r in text.bm25_topk(docs, queries, k=5).collect():
        assert perc[(r["query_id"], r["doc_id"])] == r["score"]


def test_stream_keyword_percolator_matches_batch(spark, tmp_path):
    """Keyword percolation is stateless and narrow, so the SAME operator
    body runs on a streaming frame unchanged — streamed (doc, rule)
    matches must equal the batch run exactly."""
    from cloudtrace_exporter_spark.operators import text
    from cloudtrace_exporter_spark.schemas import FIXTURE_SCHEMAS

    docs = load_table(spark, SF, "documents")
    src = str(tmp_path / "docs_kw")
    docs.coalesce(2).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(FIXTURE_SCHEMAS["documents"])
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = _run_to_memory(spark, text.keyword_percolate(stream), "t_kw_perc")
    s = sorted((r["doc_id"], r["rule_id"]) for r in out.collect())
    b = sorted((r["doc_id"], r["rule_id"]) for r in text.keyword_percolate(docs).collect())
    assert s == b and len(s) > 0


def test_quality_gated_sink_quarantines_failing_batches(spark, staged_events, tmp_path):
    # round-6: B31 composed with the expectations admission gate — a
    # batch reaches the inner sink only if every expectation passes;
    # failing batches are counted whole and quarantined for replay
    from cloudtrace_exporter_spark.streaming.sinks import foreach_batch_quality_gated

    stream = read_event_stream(spark, staged_events)
    counters = DeliveryCounters()
    delivered_rows = []

    def inner(batch_df, epoch_id):
        delivered_rows.append(batch_df.count())

    qdir = str(tmp_path / "quarantine")
    # impossible bound: every batch has value > 10, so every batch fails
    gate = foreach_batch_quality_gated(
        inner,
        {"not_null": ("event_id",), "bounds": {"value": (0.0, 10.0)}},
        counters=counters,
        quarantine_dir=qdir,
    )
    run_to_completion(stream, gate, str(tmp_path / "ckpt_gate_fail"))
    assert delivered_rows == []            # nothing reached the inner sink
    assert counters.failed == 1000         # whole fixture quarantined
    assert counters.delivered == 0
    assert "bounds(value)" in counters.errors[0]
    assert spark.read.parquet(qdir).count() == 1000  # replayable

    # permissive checks: everything flows, nothing quarantined
    counters2 = DeliveryCounters()
    gate_ok = foreach_batch_quality_gated(
        inner,
        {"not_null": ("event_id",)},
        counters=counters2,
    )
    stream2 = read_event_stream(spark, staged_events)
    run_to_completion(stream2, gate_ok, str(tmp_path / "ckpt_gate_ok"))
    assert sum(delivered_rows) == 1000
    assert counters2.delivered == 1000 and counters2.failed == 0


def test_streaming_kmv_state_merge_matches_batch_sketch(spark, tmp_path):
    """kmv_state's docstring contract: a foreachBatch loop that merges
    per-micro-batch sketches into standing state must end with EXACTLY
    the sketch a single batch pass computes (mergeability is what makes
    KMV a streaming-safe partial aggregate), and the estimate read off
    the streamed state must match the batch estimate."""
    from cloudtrace_exporter_spark.operators.analytics import (
        kmv_estimate_from_state,
        kmv_merge,
        kmv_state,
    )
    from cloudtrace_exporter_spark.schemas import FIXTURE_SCHEMAS

    ev = load_table(spark, SF, "events")
    src = str(tmp_path / "ev_src")
    ev.coalesce(4).write.mode("overwrite").parquet(src)

    batch_state = kmv_state(ev, group_col="event_type", key_col="user_id", k=32)

    state = {"df": None}

    def merge_batch(bdf, _bid):
        s = kmv_state(bdf, group_col="event_type", key_col="user_id", k=32)
        state["df"] = s if state["df"] is None else kmv_merge(state["df"], s, k=32)
        # standing state must stay collectable between triggers
        state["df"] = spark.createDataFrame(state["df"].collect(), "grp string, hv long")

    stream = (
        spark.readStream.schema(FIXTURE_SCHEMAS["events"])
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(merge_batch).trigger(availableNow=True).start()
    q.awaitTermination(120)

    b = {(r["grp"], r["hv"]) for r in batch_state.collect()}
    s = {(r["grp"], r["hv"]) for r in state["df"].collect()}
    assert b == s and len(b) > 0
    be = {(r["grp"], r["kmv_estimate"]) for r in kmv_estimate_from_state(batch_state, k=32).collect()}
    se = {(r["grp"], r["kmv_estimate"]) for r in kmv_estimate_from_state(state["df"], k=32).collect()}
    assert be == se


def test_stateful_kmv_sketch_in_state_store_matches_batch(spark, staged_events, tmp_path):
    """The state-store formulation of the streaming KMV: after draining
    the stream (multiple micro-batches), each group's LAST emitted
    estimate must equal the one-pass batch sketch estimate — the hash
    family is shared, so this is exact equality, not approximation."""
    from cloudtrace_exporter_spark.operators.analytics import (
        kmv_estimate_from_state,
        kmv_state,
    )
    from cloudtrace_exporter_spark.streaming.pipeline import stateful_kmv_distinct

    stream = read_event_stream(spark, staged_events, max_files_per_trigger=2)
    out = stateful_kmv_distinct(stream, k=32)
    q = (
        out.writeStream.format("memory")
        .queryName("t_kmv_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT grp, kmv_estimate FROM ("
        "  SELECT *, row_number() OVER (PARTITION BY grp ORDER BY rn DESC) AS r FROM ("
        "    SELECT monotonically_increasing_id() AS rn, * FROM t_kmv_state))"
        " WHERE r = 1"
    ).collect()
    streamed = {r["grp"]: r["kmv_estimate"] for r in rows}

    batch_events = spark.read.parquet(staged_events)
    bstate = kmv_state(batch_events, group_col="event_type", key_col="user_id", k=32)
    batch = {
        r["grp"]: r["kmv_estimate"]
        for r in kmv_estimate_from_state(bstate, k=32).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_stateful_heavy_hitters_misra_gries_bounds(spark, tmp_path):
    """Planted skew: user 7 owns half of each group's events. After
    draining, the MG state must contain user 7 with an estimate within
    the n/capacity undercount bound, and never overcount."""
    from datetime import datetime, timedelta

    from cloudtrace_exporter_spark.streaming.pipeline import (
        read_event_stream,
        stateful_heavy_hitters,
    )

    rows = []
    eid = 0
    base = datetime(2024, 1, 1)
    true_counts = {}
    for g in ["alpha", "beta"]:
        for i in range(120):
            u = 7 if i % 2 == 0 else 100 + (i % 17)  # 60 hits for user 7
            rows.append((eid, base + timedelta(minutes=eid), u, g, 1.0, "{}"))
            true_counts[(g, u)] = true_counts.get((g, u), 0) + 1
            eid += 1
    src = str(tmp_path / "hh_src")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).coalesce(4).write.mode("overwrite").parquet(src)

    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    q = (
        stateful_heavy_hitters(stream, capacity=6)
        .writeStream.format("memory")
        .queryName("t_hh")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    final = {}
    for r in spark.sql(
        "SELECT grp, key, est_count FROM ("
        "  SELECT *, row_number() OVER (PARTITION BY grp, key ORDER BY rn DESC) AS rr"
        "  FROM (SELECT monotonically_increasing_id() AS rn, * FROM t_hh)) WHERE rr = 1"
    ).collect():
        final[(r["grp"], r["key"])] = r["est_count"]
    n_per_group = 120
    bound = n_per_group // 6
    for g in ["alpha", "beta"]:
        true = true_counts[(g, 7)]
        assert true > bound                      # a genuine heavy hitter
        assert (g, 7) in final                   # MG must retain it
        assert final[(g, 7)] <= true             # never overcounts
        assert final[(g, 7)] >= true - bound     # undercount bound


def test_stateful_histogram_quantiles_match_batch_histogram(spark, staged_events):
    """Drained stream state == one-pass batch histogram: the p50/p95
    lower-bin estimates must be IDENTICAL (same bins, same exact rank
    selection), and the count must equal the row count per group."""
    import math

    from cloudtrace_exporter_spark.streaming.pipeline import (
        read_event_stream,
        stateful_histogram_quantiles,
    )

    stream = read_event_stream(spark, staged_events, max_files_per_trigger=2)
    q = (
        stateful_histogram_quantiles(stream, bin_width=50.0)
        .writeStream.format("memory")
        .queryName("t_hq")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        r["grp"]: (r["n"], r["p50"], r["p95"])
        for r in spark.sql(
            "SELECT grp, n, p50, p95 FROM ("
            "  SELECT *, row_number() OVER (PARTITION BY grp ORDER BY rn DESC) AS rr"
            "  FROM (SELECT monotonically_increasing_id() AS rn, * FROM t_hq)) WHERE rr = 1"
        ).collect()
    }

    batch = spark.read.parquet(staged_events).collect()
    by_grp = {}
    for r in batch:
        by_grp.setdefault(r["event_type"], []).append(r["value"])
    assert set(streamed) == set(by_grp)
    for g, vals in by_grp.items():
        bins = sorted(math.floor(v / 50.0) for v in vals)
        n = len(bins)
        exp = {}
        for qq in (0.5, 0.95):
            target = max(1, math.ceil(qq * n))
            exp[qq] = bins[target - 1] * 50.0
        assert streamed[g] == (n, exp[0.5], exp[0.95])


def test_stream_stream_left_outer_join_flushes_unmatched(spark, staged_events):
    """Inner matches must equal the batch join; unmatched purchases
    whose interval end passed the final watermark must surface with a
    NULL right side — and nothing else may."""
    from cloudtrace_exporter_spark.streaming.pipeline import stream_stream_outer_join

    stream = read_event_stream(spark, staged_events, max_files_per_trigger=1)
    joined = stream_stream_outer_join(stream, within="30 minutes", delay="1 minute")
    out = _run_to_memory(spark, joined, "t_ss_outer")

    ev = load_table(spark, SF, "events")
    l = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("l_user"), F.col("event_id").alias("left_id"), F.col("ts").alias("l_ts")
    )
    r = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("r_user"), F.col("event_id").alias("right_id"), F.col("ts").alias("r_ts")
    )
    cond = F.expr("l_user = r_user AND r_ts >= l_ts AND r_ts <= l_ts + INTERVAL 30 minutes")
    inner_b = {
        (x.left_id, x.right_id) for x in l.join(r, cond).select("left_id", "right_id").collect()
    }
    anti_b = {x.left_id for x in l.join(r, cond, "left_anti").collect()}

    got_inner = {
        (x.left_id, x.right_id)
        for x in out.filter(F.col("right_id").isNotNull()).collect()
    }
    got_outer = {x.left_id for x in out.filter(F.col("right_id").isNull()).collect()}
    assert got_inner == inner_b
    # every emitted outer row is a true batch non-match...
    assert got_outer <= anti_b
    # ...and the watermark DID flush the bulk of them (everything except
    # rows still inside the final horizon can and must have been emitted)
    assert len(got_outer) > 0.5 * len(anti_b)
    # no left row appears both matched and unmatched
    assert not (got_outer & {a for a, _ in got_inner})


def test_cypher_live_path_chunks_transactions_exactly(spark, staged_events, tmp_path):
    """The LIVE delivery path's executor-side chunk loop (round-8 probe
    contract): against an injected transaction-counting driver, every
    row is delivered exactly once and the transaction count is
    sum(ceil(partition_rows / rows_per_tx)) — the UNWIND batching that
    replaces the reference's 1-transaction-per-event writer
    (pkg/neo4j/client.go:51-55)."""
    import math

    from cloudtrace_exporter_spark.streaming import cypher_sink
    from tools.cypher_probe import counting_driver_factory

    normalized = normalize.normalize_traces(
        normalize.events_as_traces(
            load_table(spark, SF, "events")
        ),
        source="https://cts.example", region="eu-de", domain="d1", tenant="p1",
    )
    rows = cypher_sink.events_to_cypher_rows(normalized).repartition(4).cache()
    n = rows.count()
    per_part = [
        r["c"] for r in rows.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count(F.lit(1)).alias("c")).collect()
    ]
    sc = spark.sparkContext
    for rows_per_tx in (3, 1000):
        acc_tx = sc.accumulator(0)
        acc_rows = sc.accumulator(0)
        rows.foreachPartition(
            cypher_sink._neo4j_partition_writer(
                "bolt://test", None, "neo4j", rows_per_tx,
                counting_driver_factory(acc_tx, acc_rows),
            )
        )
        assert acc_rows.value == n
        assert acc_tx.value == sum(math.ceil(c / rows_per_tx) for c in per_part)
    rows.unpersist()


@pytest.mark.parametrize("tier", ["hdfs", "rocksdb"])
def test_stream_semdedup_matches_batch_operator(spark, tmp_path, tier):
    """Round-11 (r10 verdict order #6): the streaming semantic-dedup
    pipeline. Batch 1 must reproduce similarity.semdedup_incremental
    (batch_1, corpus) EXACTLY (state starts empty — the two paths are
    then the same math); batch 2 must flag planted copies of batch-1
    KEPT vectors as corpus_dup (the state-store memory) while far-away
    fresh vectors stay kept. Parametrized over BOTH state tiers."""
    from cloudtrace_exporter_spark.operators import similarity
    from cloudtrace_exporter_spark.session import set_state_store
    from cloudtrace_exporter_spark.streaming.pipeline import (
        semdedup_stream_index,
        stream_semdedup,
    )

    emb = load_table(spark, SF, "embeddings")
    corpus = emb.filter(F.col("vec_id") < 300).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )

    def perturb(df, offset, coord_shift):
        return df.select(
            (F.col("vec_id") + offset).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x
                + F.when(i == F.lit(coord_shift), F.lit(0.01)).otherwise(F.lit(0.0)),
            ).alias("embedding"),
        )

    fresh1 = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 340)).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    # batch 1: fresh vectors + near-copies of corpus seeds (corpus_dup bait)
    b1 = fresh1.unionByName(perturb(corpus.filter(F.col("vec_id") < 10), 2_000_000, 3))
    # batch 2: near-copies of batch-1 FRESH vectors (kept in b1 → must be
    # corpus_dup via the state store) + far fresh vectors
    fresh2 = emb.filter((F.col("vec_id") >= 340) & (F.col("vec_id") < 360)).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    b2 = fresh2.unionByName(perturb(fresh1.filter(F.col("vec_id") < 310), 3_000_000, 5))

    src = str(tmp_path / f"semdedup_src_{tier}")
    os.makedirs(src)
    b1.toPandas().to_parquet(os.path.join(src, "batch_00.parquet"), index=False)
    b2.toPandas().to_parquet(os.path.join(src, "batch_01.parquet"), index=False)

    index_df, cents = semdedup_stream_index(corpus, n_centroids=8, lloyd_iters=2)
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    set_state_store(spark, tier)
    try:
        out = stream_semdedup(stream, index_df, cents)
        name = f"t_semdedup_{tier}"
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / f"ck_{tier}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            r["vec_id"]: (r["cell"], r["component"], r["status"])
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
    finally:
        set_state_store(spark, "hdfs")

    # batch-1 parity: state was empty, so the stream must equal the
    # batch operator exactly (statuses AND components AND cells)
    expected_b1 = {
        r["vec_id"]: (r["cell"], r["component"], r["status"])
        for r in similarity.semdedup_incremental(
            b1, corpus, n_centroids=8, lloyd_iters=2
        ).collect()
    }
    got_b1 = {k: v for k, v in got.items() if k < 3_000_000 and not (340 <= k < 360)}
    assert got_b1 == expected_b1
    # batch-2: every planted copy of a batch-1 KEPT vector is corpus_dup
    kept_b1 = {k for k, v in expected_b1.items() if v[2] == "kept" and k < 310}
    for k in kept_b1:
        assert got[k + 3_000_000][2] == "corpus_dup", (k, got[k + 3_000_000])
    # far fresh batch-2 vectors behave exactly as the batch operator says
    expected_fresh2 = {
        r["vec_id"]: r["status"]
        for r in similarity.semdedup_incremental(
            fresh2, corpus, n_centroids=8, lloyd_iters=2
        ).collect()
    }
    for k, st in expected_fresh2.items():
        assert got[k][2] == st, (k, got[k], st)


def test_stream_bloom_dedup_matches_sequential_replay(spark, tmp_path):
    """Round-11 streaming Bloom dedup: two file-fed micro-batches must
    produce exactly the sequential fold of the batch operators —
    intra-batch exact dedup, then bloom_probe against the filter-so-far,
    then kept keys folded in. Batch 2 planted copies of batch-1 kept
    keys must read filter_dup through the driver-held filter; the
    filter state must stay <= m_bits/32 entries."""
    import os as _os

    from cloudtrace_exporter_spark.operators import dedup
    from cloudtrace_exporter_spark.streaming.pipeline import stream_bloom_dedup

    m, k = 4096, 4
    b1 = [(i, f"key-{i}") for i in range(30)] + [(100, "key-0"), (101, "key-1")]
    b2 = (
        [(200 + i, f"key-{i}") for i in range(10)]      # copies of b1 kept
        + [(300 + i, f"fresh-{i}") for i in range(10)]  # novel
        + [(400, "fresh-0")]                            # intra-batch dup
    )
    src = str(tmp_path / "bloom_src")
    _os.makedirs(src)
    import pandas as pd

    pd.DataFrame(b1, columns=["doc_id", "text"]).to_parquet(
        _os.path.join(src, "b0.parquet"), index=False
    )
    pd.DataFrame(b2, columns=["doc_id", "text"]).to_parquet(
        _os.path.join(src, "b1.parquet"), index=False
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got: dict[int, str] = {}

    def on_batch(batch_id, df):
        got.update({r["id"]: r["status"] for r in df.collect()})

    q, state = stream_bloom_dedup(
        stream,
        str(tmp_path / "bloom_ck"),
        m_bits=m,
        k=k,
        on_batch=on_batch,
    )
    q.awaitTermination(120)

    assert len(got) == len(b1) + len(b2)
    # batch 1: all 30 distinct keys kept (empty filter, no FPs possible
    # on a miss — zero false negatives is the structural direction);
    # the two planted intra-batch dups are batch_dup
    for i in range(30):
        assert got[i] == "kept", (i, got[i])
    assert got[100] == "batch_dup" and got[101] == "batch_dup"
    # batch 2: copies of batch-1 kept keys are filter_dup via the state
    for i in range(10):
        assert got[200 + i] == "filter_dup", (200 + i, got[200 + i])
    assert got[400] == "batch_dup"
    # novel batch-2 keys: kept unless a (deterministic, observable) FP —
    # cross-check each against a direct probe of the batch-1-only filter
    flt1 = dedup.bloom_build(
        spark.createDataFrame(b1, "doc_id long, text string"), m_bits=m, k=k
    )
    fp = {
        r["doc_id"]: r["bloom_hit"]
        for r in dedup.bloom_probe(
            spark.createDataFrame(
                [(300 + i, f"fresh-{i}") for i in range(10)],
                "doc_id long, text string",
            ),
            flt1,
            m_bits=m,
            k=k,
        ).collect()
    }
    for i in range(10):
        want = "filter_dup" if fp[300 + i] else "kept"
        assert got[300 + i] == want, (300 + i, got[300 + i], want)
    # filter is bounded and warm-startable
    assert len(state["words"]) <= m // 32
    assert all(isinstance(v, int) for v in state["words"].values())


def test_stream_minhash_dedup_matches_sequential_fold(spark, tmp_path):
    """Round-11 streaming near-dup tier: two file-fed micro-batches must
    produce exactly the sequential fold of dedup.minhash_dedup_incremental
    (batch 1 vs empty index; batch 2 vs batch-1 kept docs' banded index),
    with the accumulated parquet index usable as a batch-side artifact."""
    import os as _os

    import pandas as pd

    from cloudtrace_exporter_spark.operators import dedup
    from cloudtrace_exporter_spark.streaming.pipeline import stream_minhash_dedup

    base = {i: " ".join(f"s{i}w{j}" for j in range(20)) for i in range(8)}
    b1 = [(i, base[i]) for i in range(4)] + [(100, base[0])]  # 100: in-batch dup
    b2 = (
        [(200, base[1])]            # copy of batch-1 kept  -> corpus_dup
        + [(201, base[0])]          # copy of kept 0 (100 was dropped) -> corpus_dup
        + [(210, base[5]), (211, base[6])]  # fresh
        + [(300, base[5])]          # in-batch dup of 210 -> batch_dup
    )
    src = str(tmp_path / "mh_src")
    _os.makedirs(src)
    pd.DataFrame(b1, columns=["doc_id", "text"]).to_parquet(
        _os.path.join(src, "b0.parquet"), index=False
    )
    pd.DataFrame(b2, columns=["doc_id", "text"]).to_parquet(
        _os.path.join(src, "b1.parquet"), index=False
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    idx_dir = str(tmp_path / "mh_index")
    got: dict[int, tuple] = {}

    def on_batch(batch_id, df):
        got.update(
            {r["doc_id"]: (r["status"], r["component"]) for r in df.collect()}
        )

    q = stream_minhash_dedup(
        stream, str(tmp_path / "mh_ck"), idx_dir, on_batch=on_batch
    )
    q.awaitTermination(120)

    # sequential fold of the committed batch operator
    d1 = spark.createDataFrame(b1, "doc_id long, text string")
    d2 = spark.createDataFrame(b2, "doc_id long, text string")
    f1 = dedup.minhash_dedup_incremental(d1, corpus_index=dedup.minhash_banded_index(d1.limit(0)))
    fold1 = {r["doc_id"]: (r["status"], r["component"]) for r in f1.collect()}
    kept1 = d1.join(
        f1.filter("status = 'kept'").select("doc_id"), "doc_id"
    )
    f2 = dedup.minhash_dedup_incremental(
        d2, corpus_index=dedup.minhash_banded_index(kept1)
    )
    fold2 = {r["doc_id"]: (r["status"], r["component"]) for r in f2.collect()}
    assert got == {**fold1, **fold2}
    # planted expectations (exact copies -> J = 1.0, always caught)
    assert got[100][0] == "batch_dup" and got[100][1] == 0
    assert got[200][0] == "corpus_dup"
    assert got[201][0] == "corpus_dup"
    assert got[210][0] == "kept"
    assert got[300] == ("batch_dup", 210)
    # the accumulated index is the batch-side artifact: 4 kept batch-1
    # docs + 2 kept batch-2 docs, 8 banded rows each
    idx = spark.read.parquet(idx_dir)
    assert set(r["id"] for r in idx.select("id").distinct().collect()) == {
        0, 1, 2, 3, 210, 211,
    }
    assert idx.count() == 6 * 8


def test_stream_semantic_contamination_screens_at_ingest(spark, tmp_path):
    """Round-11 streaming decontamination: file-fed corpus batches are
    screened against the eval probe table with exactly the batch rule —
    planted eval-adjacent vectors flagged, orthogonal ones clean, and
    the 2-batch stream equals the batch verdict on the union (the body
    is stateless, so batching cannot change verdicts)."""
    import os as _os

    import pandas as pd

    from cloudtrace_exporter_spark.operators import similarity
    from cloudtrace_exporter_spark.operators.similarity import (
        _contam_verdicts,
        _nearest_scaled,
        _self_dot_long,
        _as_double,
    )
    from cloudtrace_exporter_spark.streaming.pipeline import (
        stream_semantic_contamination,
    )

    dim = 8
    axes = [[1.0 if j == i else 0.0 for j in range(dim)] for i in range(8)]
    corpus = spark.createDataFrame(
        [(i, axes[i]) for i in range(8)], "vec_id long, embedding array<double>"
    )
    ev = spark.createDataFrame(
        [
            (1000, [1.01] + [0.0] * 7),   # ~ axis 0
            (1001, [0.01, 1.0] + [0.0] * 6),  # ~ axis 1
        ],
        "vec_id long, embedding array<double>",
    )
    ev_cells, cents = similarity.semantic_contam_index(
        corpus, ev, n_centroids=2, lloyd_iters=1, n_probe=2
    )
    ev_cells = ev_cells.persist()

    b1 = [(500, axes[0]), (501, axes[2])]
    b2 = [(600, axes[1]), (601, [0.5, -0.5] * 4)]
    src = str(tmp_path / "contam_src")
    _os.makedirs(src)
    for i, rows in enumerate([b1, b2]):
        pd.DataFrame(rows, columns=["vec_id", "embedding"]).to_parquet(
            _os.path.join(src, f"b{i}.parquet"), index=False
        )
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got: dict[int, tuple] = {}

    def on_batch(batch_id, df):
        got.update(
            {
                r["vec_id"]: (r["status"], r["eval_hits"], r["first_eval"])
                for r in df.collect()
            }
        )

    q = stream_semantic_contamination(
        stream, str(tmp_path / "contam_ck"), ev_cells, cents, on_batch=on_batch
    )
    q.awaitTermination(120)

    assert got[500] == ("contaminated", 1, 1000)
    assert got[600] == ("contaminated", 1, 1001)
    assert got[501] == ("clean", 0, -1)
    assert got[601] == ("clean", 0, -1)
    # batch-on-union parity via the shared verdict core
    import pyspark.sql.functions as F

    union = spark.createDataFrame(b1 + b2, "vec_id long, embedding array<double>")
    qvec = F.transform(_as_double("embedding"), lambda x: F.round(x * 1000).cast("long"))
    corp = (
        union.select(F.col("vec_id").alias("id"), qvec.alias("v"))
        .withColumn("cell", _nearest_scaled("v", cents))
        .withColumn("n2", _self_dot_long())
    )
    batch = {
        r["vec_id"]: (r["status"], r["eval_hits"], r["first_eval"])
        for r in _contam_verdicts(corp, ev_cells, tau_num=95, tau_den=100).collect()
    }
    assert got == batch
    ev_cells.unpersist()


def test_stream_phash_dedup_matches_sequential_fold(spark, tmp_path):
    """Round-11 streaming visual dedup. Leg A pins the dedup/state/index
    mechanics with PLANTED 64-bit hashes (hasher=identity — the decode
    step is covered by the perceptual-hash unit tests, and the
    synthesized BMP corpus is degenerate for aHash: every image
    thresholds to the same 0xfffffff8e0000000 pattern): statuses,
    components, index census, and 2-batch == sequential fold of
    multimodal.phash_dedup_incremental. Leg B runs the DEFAULT hasher
    end-to-end over BMP payloads and asserts stream == fold parity
    (no planted expectations — hash geometry of synthetic images is
    the synthesizer's business)."""
    import os as _os

    import pandas as pd

    from cloudtrace_exporter_spark.operators import multimodal
    from cloudtrace_exporter_spark.streaming.pipeline import stream_phash_dedup

    # ---- leg A: planted hashes, identity hasher ----
    h0, h1c, hA, hF = (
        0x0F0F0F0F0F0F0F0F,
        0x00FF00FF00FF00FF,
        0x1234567812345678,
        0x7EDCBA987EDCBA98,
    )
    b1 = [(0, h0), (1, h1c), (2, hA), (100, h0 ^ 0b11)]   # 100: in-batch dup of 0
    b2 = [(200, h1c ^ 0b1), (210, hF), (300, hF ^ 0b11)]  # 200: corpus_dup; 300: dup of 210
    src_a = str(tmp_path / "ph_src_a")
    _os.makedirs(src_a)
    for i, rows in enumerate([b1, b2]):
        pd.DataFrame(rows, columns=["doc_id", "ahash"]).to_parquet(
            _os.path.join(src_a, f"b{i}.parquet"), index=False
        )
    stream = (
        spark.readStream.schema("doc_id long, ahash long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_a)
    )
    idx_dir = str(tmp_path / "ph_index_a")
    got: dict[int, tuple] = {}

    def on_batch(batch_id, df):
        got.update(
            {r["doc_id"]: (r["status"], r["component"]) for r in df.collect()}
        )

    q = stream_phash_dedup(
        stream,
        str(tmp_path / "ph_ck_a"),
        idx_dir,
        hasher=lambda df: df,
        on_batch=on_batch,
    )
    q.awaitTermination(120)

    d1 = spark.createDataFrame(b1, "doc_id long, ahash long")
    d2 = spark.createDataFrame(b2, "doc_id long, ahash long")
    f1 = multimodal.phash_dedup_incremental(d1, d1.limit(0))
    fold1 = {r["doc_id"]: (r["status"], r["component"]) for r in f1.collect()}
    kept1 = d1.join(f1.filter("status = 'kept'").select("doc_id"), "doc_id")
    f2 = multimodal.phash_dedup_incremental(d2, kept1)
    fold2 = {r["doc_id"]: (r["status"], r["component"]) for r in f2.collect()}
    assert got == {**fold1, **fold2}
    assert got[100] == ("batch_dup", 0)
    assert got[200] == ("corpus_dup", 200)
    assert got[300] == ("batch_dup", 210)
    # index holds exactly the kept images' raw hashes
    idx = spark.read.parquet(idx_dir)
    assert set(r["doc_id"] for r in idx.collect()) == {0, 1, 2, 210}

    # ---- leg B: default perceptual_hash over BMP payloads ----
    ids = spark.createDataFrame([(i,) for i in range(3)], "doc_id long")
    pays = {
        r["doc_id"]: bytes(r["payload"])
        for r in multimodal.synthesize_bmp_payload(ids).collect()
    }
    c1 = [(0, pays[0]), (1, pays[1])]
    c2 = [(10, pays[2]), (11, pays[0])]
    src_b = str(tmp_path / "ph_src_b")
    _os.makedirs(src_b)
    for i, rows in enumerate([c1, c2]):
        pd.DataFrame(rows, columns=["doc_id", "payload"]).to_parquet(
            _os.path.join(src_b, f"b{i}.parquet"), index=False
        )
    stream_b = (
        spark.readStream.schema("doc_id long, payload binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_b)
    )
    got_b: dict[int, tuple] = {}

    def on_batch_b(batch_id, df):
        got_b.update(
            {r["doc_id"]: (r["status"], r["component"]) for r in df.collect()}
        )

    qb = stream_phash_dedup(
        stream_b,
        str(tmp_path / "ph_ck_b"),
        str(tmp_path / "ph_index_b"),
        on_batch=on_batch_b,
    )
    qb.awaitTermination(120)
    e1 = spark.createDataFrame(c1, "doc_id long, payload binary")
    e2 = spark.createDataFrame(c2, "doc_id long, payload binary")
    g1 = multimodal.perceptual_hash(e1).select("doc_id", "ahash")
    g2 = multimodal.perceptual_hash(e2).select("doc_id", "ahash")
    r1 = multimodal.phash_dedup_incremental(g1, g1.limit(0))
    foldb1 = {r["doc_id"]: (r["status"], r["component"]) for r in r1.collect()}
    keptb1 = g1.join(r1.filter("status = 'kept'").select("doc_id"), "doc_id")
    r2 = multimodal.phash_dedup_incremental(g2, keptb1)
    foldb2 = {r["doc_id"]: (r["status"], r["component"]) for r in r2.collect()}
    assert got_b == {**foldb1, **foldb2}
