"""End-to-end pipeline assembly tests (SURVEY §3.1/§3.2 wiring).

Drive the full exporter-equivalent: paged ListTracesResponse landing dir
→ normalize (+overrides) → dedup → graph store + batched Cypher script,
in both CTS_STREAMS modes, with the reference's CTS_X_PNP forward gate
and the empty-input semantic fix (empty batch is normal, not an error).
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from cloudtrace_exporter_spark import runner
from cloudtrace_exporter_spark.config import EngineConfig
from cloudtrace_exporter_spark.operators import normalize
from cloudtrace_exporter_spark.schemas import EDGE_ENDPOINTS, NODE_KEYS
from cloudtrace_exporter_spark.sources import cts_pages
from cloudtrace_exporter_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"
CTX = runner.AuthContext(
    source="https://cts.example", region="eu-de", domain="d1", tenant="p1"
)


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pages"))
    traces = normalize.events_as_traces(load_table(spark, SF, "events"))
    cts_pages.write_trace_pages(traces, out)
    return out


def test_batch_mode_delivers_graph_and_cypher(spark, pages_dir, tmp_path):
    cfg = EngineConfig(streams=False, forward=True, overrides={"priority": "high"})
    events, counters = runner.run_pipeline(
        spark, cfg, CTX, pages_dir, graph_dir=str(tmp_path / "out")
    )
    n = events.count()
    assert n == 1000
    assert events.filter(events.priority == "high").count() == n  # K_CE_OVERRIDES applied
    assert counters["graph"].delivered == n
    assert counters["cypher"].delivered == n
    assert counters["graph"].failed == counters["cypher"].failed == 0
    actions = spark.read.parquet(str(tmp_path / "out" / "graph" / "nodes" / "actions"))
    assert actions.count() == n
    assert os.path.exists(str(tmp_path / "out" / "cypher" / "statement.cypher"))


def test_stream_mode_matches_batch(spark, pages_dir, tmp_path):
    cfg = EngineConfig(streams=True, forward=True)
    _, counters = runner.run_pipeline(
        spark, cfg, CTX, pages_dir,
        graph_dir=str(tmp_path / "out"), checkpoint=str(tmp_path / "ckpt"),
    )
    assert counters["graph"].delivered == 1000
    actions = spark.read.parquet(str(tmp_path / "out" / "graph" / "nodes" / "actions"))
    assert actions.select("id").distinct().count() == 1000


def _graph_rows(tables):
    """``{(kind, name): [(key, row), ...]}`` over node/edge tables in one
    job; a row and a node's MERGE key are rendered as JSON strings, and an
    edge's key is its whole row."""
    from functools import reduce

    from pyspark.sql import functions as F

    parts = []
    for (kind, name), df in tables.items():
        row = F.to_json(F.struct(*sorted(df.columns)))
        key = F.to_json(F.struct(*NODE_KEYS[name])) if kind == "nodes" else row
        parts.append(df.select(F.lit(kind).alias("kind"), F.lit(name).alias("name"),
                               key.alias("key"), row.alias("row")))
    out = {t: [] for t in tables}
    for r in reduce(lambda a, b: a.unionByName(b), parts).collect():
        out[(r["kind"], r["name"])].append((r["key"], r["row"]))
    return out


def test_stream_ticks_upsert_store_once_per_event(spark, tmp_path):
    """Two ingest ticks on one checkpoint, the second re-delivering the
    first window's tail: the store equals the batch graph of the distinct
    events, each sink delivers every trace once in one batch a tick, a
    table gains a file only when it gains rows, and no pinned batch is
    left cached."""
    from cloudtrace_exporter_spark.operators.graph import build_graph

    traces = normalize.events_as_traces(load_table(spark, SF, "events"))
    # event-time windows of 600 and 420 traces; window 2 starts with the
    # last 20 of window 1. A one-day watermark keeps those 20 in the dedup
    # state, and every fresh trace of window 2 is later than window 1.
    ids = [r["trace_id"] for r in traces.orderBy("time", "trace_id").collect()]
    windows = {
        1: traces.filter(traces.trace_id.isin(ids[:600])),
        2: traces.filter(traces.trace_id.isin(ids[580:])),
    }
    landing = str(tmp_path / "pages")
    os.makedirs(landing)
    cfg = EngineConfig(streams=True, forward=True, from_minutes=1440)
    out = str(tmp_path / "out")
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    tables = [f"nodes/{n}" for n in NODE_KEYS] + [f"edges/{n}" for n in EDGE_ENDPOINTS]

    def n_files(rel_dir, pred):
        path = f"{out}/{rel_dir}"
        return sum(map(pred, os.listdir(path))) if os.path.isdir(path) else 0

    def store_files():
        """Per table, the row count of each parquet file, from the footers."""
        out_files = {}
        for t in tables:
            path = f"{out}/graph/{t}"
            names = [f for f in os.listdir(path) if f.endswith(".parquet")] if os.path.isdir(path) else []
            out_files[t] = [pq.ParquetFile(os.path.join(path, f)).metadata.num_rows for f in names]
        return out_files

    delivered = []
    for k, window in windows.items():
        staged = str(tmp_path / f"w{k}")
        cts_pages.write_trace_pages(window, staged)
        for f in os.listdir(staged):
            if f.endswith(".json"):
                os.rename(os.path.join(staged, f), os.path.join(landing, f"w{k}-{f}"))
        files_before = store_files()
        epochs_before = n_files("cypher", lambda f: f.startswith("rows-"))
        _, counters = runner.run_pipeline(
            spark, cfg, CTX, landing, graph_dir=out, checkpoint=str(tmp_path / "ckpt")
        )
        delivered.append({name: c.delivered for name, c in counters.items()})
        assert counters["graph"].failed == counters["cypher"].failed == 0
        # one micro-batch a tick: no watermark-only batch follows it
        assert counters["graph"].batches == counters["cypher"].batches == 1
        assert n_files("cypher", lambda f: f.startswith("rows-")) - epochs_before == 1
        # a table gains a file exactly when its delta is non-empty, and no
        # 0-row parquet file is ever written
        for table, rows in store_files().items():
            grew = sum(rows) > sum(files_before[table])
            assert len(rows) - len(files_before[table]) == int(grew), table
            assert 0 not in rows, table
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted

    events = runner.build_events(spark, EngineConfig(streams=False), CTX, landing)
    n_events = events.count()
    assert n_events == 1000
    assert delivered[0]["graph"] == delivered[0]["cypher"] == 600
    assert delivered[1]["graph"] == delivered[1]["cypher"] == n_events - 600

    nodes, edges = build_graph(events)
    built = {("nodes", n): df for n, df in nodes.items()}
    built.update({("edges", n): df for n, df in edges.items()})
    expected = _graph_rows(built)
    stored = _graph_rows(
        {(kind, name): spark.read.parquet(f"{out}/graph/{kind}/{name}") for kind, name in built}
    )
    for table, rows in stored.items():
        assert len({key for key, _ in rows}) == len(rows), table  # unique MERGE keys
        assert {row for _, row in rows} == {row for _, row in expected[table]}, table

    # one rows-<epoch> directory per data epoch, none for a no-data epoch
    row_dirs = sorted(d for d in os.listdir(f"{out}/cypher") if d.startswith("rows-"))
    assert len(row_dirs) == 2
    assert spark.read.json(f"{out}/cypher/rows-*").count() == n_events


def test_forward_gate_off_is_transform_only(spark, pages_dir):
    # CTS_X_PNP=false (the reference's actual default, main.go:26)
    cfg = EngineConfig(streams=False, forward=False)
    events, counters = runner.run_pipeline(spark, cfg, CTX, pages_dir)
    assert counters is None
    assert events.count() == 1000


def test_empty_input_is_normal_not_error(spark, tmp_path):
    # deliberate fix of adapter.go:112-114 ("no traces collected" error)
    empty = str(tmp_path / "empty_pages")
    os.makedirs(empty)
    cfg = EngineConfig(streams=False, forward=True)
    events, counters = runner.run_pipeline(
        spark, cfg, CTX, empty, graph_dir=str(tmp_path / "out")
    )
    assert events.count() == 0
    for c in counters.values():
        assert (c.delivered, c.failed, c.batches) == (0, 0, 1)


def test_lifecycle_end_to_end_with_restart(spark, pages_dir, tmp_path):
    """Round-8 item #4: the composed lifecycle — ingest → normalize →
    graph → near-dup dedup → curation mixture → packed layout — as ONE
    resumable run with per-stage row accounting. Covers: (a) stage
    monotonicity (each funnel stage can only shrink its input), (b) the
    layout's prefix-sum invariant, (c) full-skip resume, (d) selective
    recompute after deleting one stage directory (checkpoint/restart)."""
    import shutil

    from pyspark.sql import functions as F

    from cloudtrace_exporter_spark import lifecycle

    docs = load_table(spark, SF, "documents")
    out = str(tmp_path / "life")
    man = lifecycle.run_lifecycle(
        spark, pages_dir=pages_dir, docs=docs, out_dir=out, ctx=CTX
    )["stages"]
    # (a) row accounting across the funnel
    assert man["ingest"]["rows"] == 1000
    assert 0 < man["events"]["rows"] <= man["ingest"]["rows"]
    assert man["graph"]["rows"] > man["events"]["rows"]  # ≥1 node+edges per event
    n_docs = docs.count()
    assert 0 < man["dedup"]["rows"] <= n_docs
    assert 0 < man["curated"]["rows"] <= man["dedup"]["rows"]
    assert man["layout"]["rows"] == man["curated"]["rows"]
    assert all(not s["skipped"] for s in man.values())
    # (b) packing invariant: offsets are an exclusive prefix sum — the
    # last document's offset + its tokens equals the total token count
    layout = spark.read.parquet(f"{out}/layout")
    agg = layout.agg(
        F.sum("n_tokens").alias("tot"),
        F.max(F.col("tok_offset") + F.col("n_tokens")).alias("hi"),
    ).collect()[0]
    assert agg["tot"] == agg["hi"]
    # graph store is idempotent-by-key: rerunning the stage would write
    # the same distinct (kind, label, element) set
    g = spark.read.parquet(f"{out}/graph")
    assert g.count() == g.dropDuplicates(["kind", "label", "element"]).count()
    # (c) resume: everything skipped, counts identical
    man2 = lifecycle.run_lifecycle(
        spark, pages_dir=pages_dir, docs=docs, out_dir=out, ctx=CTX
    )["stages"]
    assert all(s["skipped"] for s in man2.values())
    assert {k: s["rows"] for k, s in man2.items()} == {
        k: s["rows"] for k, s in man.items()
    }
    # (d) selective restart: drop ONE stage dir → only it recomputes
    shutil.rmtree(f"{out}/layout")
    man3 = lifecycle.run_lifecycle(
        spark, pages_dir=pages_dir, docs=docs, out_dir=out, ctx=CTX
    )["stages"]
    assert man3["layout"]["skipped"] is False
    assert man3["layout"]["rows"] == man["layout"]["rows"]
    assert all(s["skipped"] for k, s in man3.items() if k != "layout")


def _land(traces, landing, tag):
    """Write ``traces`` as CTS pages and move them into ``landing``."""
    staged = f"{landing}-{tag}"
    cts_pages.write_trace_pages(traces, staged)
    os.makedirs(landing, exist_ok=True)
    for f in os.listdir(staged):
        if f.endswith(".json"):
            os.rename(os.path.join(staged, f), os.path.join(landing, f"{tag}-{f}"))


def test_redelivery_across_lagged_watermark_is_never_delivered(spark, tmp_path):
    """Three ticks on one checkpoint with a one-minute watermark; tick 3
    re-delivers tick 1's traces next to fresh ones. Each tick is one batch,
    so tick 3 runs under the watermark that tick 2's batch left, which has
    passed every trace of tick 1: whether its key was evicted or is still
    in the dedup state, a re-delivered trace reaches neither sink."""
    traces = normalize.events_as_traces(load_table(spark, SF, "events"))
    ids = [r["trace_id"] for r in traces.orderBy("time", "trace_id").collect()]
    windows = {1: ids[:300], 2: ids[300:700], 3: ids[:300] + ids[700:]}
    landing = str(tmp_path / "pages")
    cfg = EngineConfig(streams=True, forward=True, from_minutes=1)
    out = str(tmp_path / "out")
    delivered = []
    for k, window in windows.items():
        _land(traces.filter(traces.trace_id.isin(window)), landing, f"w{k}")
        _, counters = runner.run_pipeline(
            spark, cfg, CTX, landing, graph_dir=out, checkpoint=str(tmp_path / "ckpt")
        )
        for c in counters.values():
            assert (c.failed, c.batches) == (0, 1)
        delivered.append({name: c.delivered for name, c in counters.items()})
    assert delivered == [{"graph": n, "cypher": n} for n in (300, 400, 300)]
    actions = pq.read_table(f"{out}/graph/nodes/actions", columns=["id"]).column("id").to_pylist()
    assert len(actions) == len(set(actions)) == 1000
    cypher = spark.read.json(f"{out}/cypher/rows-*")
    assert cypher.count() == cypher.select("actionId").distinct().count() == 1000


def test_data_tick_runs_at_most_13_jobs_in_the_query_job_group(spark, pages_dir, tmp_path):
    """One data tick into an empty store: the stateful batch, the 11 table
    appends and the Cypher write, all in the streaming query's job group.
    A write that lost the group (the Cypher thread, a table thread) would
    show up as an ungrouped job."""
    from pyspark.sql.streaming import StreamingQueryListener

    class RunIds(StreamingQueryListener):
        def __init__(self):
            self.ids = []

        def onQueryStarted(self, event):
            self.ids.append(str(event.runId))

        def onQueryProgress(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    listener = RunIds()
    spark.streams.addListener(listener)
    try:
        cfg = EngineConfig(streams=True, forward=True)
        events = runner.build_events(spark, cfg, CTX, pages_dir)  # plans the source outside the tick
        ungrouped = set(tracker.getJobIdsForGroup(None))
        _, counters = runner.run_pipeline(
            spark, cfg, CTX, pages_dir,
            graph_dir=str(tmp_path / "out"), checkpoint=str(tmp_path / "ckpt"),
        )
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
    assert events.isStreaming
    assert [(c.delivered, c.failed, c.batches) for c in counters.values()] == [(1000, 0, 1)] * 2
    assert len(listener.ids) == 1
    jobs = tracker.getJobIdsForGroup(listener.ids[0])
    assert 12 <= len(jobs) <= 13  # the 11 appends and the Cypher write, plus the batch
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped  # no new ungrouped job
