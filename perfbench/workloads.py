"""The benchmark's workloads. Each is one closed-loop client: it sends its
next op only after the previous one returns.

A workload has ``prepare`` (Spark-free input and oracle preparation, not
part of ``setup_s``), ``setup`` (program set-up up to the first timed op:
warm-up ops, memo builds), and ``op`` (one op, validated). ``op`` times
its calls into the program with the run's ``OpClock`` (wall time, CPU
time, host steal) and returns whether the op's output was correct;
validation runs after the clock stops.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import time

import pyarrow.dataset as ds

import gen
from tracing import ProgressListener, SparkCounters, Tracer


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class IngestTick:
    """One CTS poll tick: land one window of pages, then run the pipeline
    once (``availableNow``) into a graph store plus Cypher script.

    Tick 0 is the warm-up (untimed). Timed ticks are 1, 2, ... against the
    store left by the ticks before them, so every run times the same tick
    indices against the same store sizes.
    """

    name = "ingest_tick"
    SF = 0.02  # 20k events: enough windows for any run length
    WARMUP_TICKS = 1
    #: About one tick's wall time on the reference machine (4 cores).
    OP_SECONDS = 12.0

    @classmethod
    def ops_for(cls, seconds: float) -> int:
        """Timed ticks for a run of about ``seconds``; at least two, so a
        run has a first and a second half."""
        return max(2, math.ceil(seconds / cls.OP_SECONDS))

    def __init__(self, work: str, seed: int, sf: float | None, tracer: Tracer, clock) -> None:
        self.work = os.path.join(work, "ingest")
        self.seed = seed
        self.sf = sf or self.SF
        self.tracer = tracer
        self.clock = clock
        self.tick = 0
        self.bench_s = 0.0  # benchmark-side time inside setup (validation)
        self.layers: dict[str, list[float]] = {}
        self.recording = False  # per-layer values are kept for timed ticks only

    def prepare(self, inputs_root: str) -> None:
        _, self.windows_dir = gen.ensure_inputs(
            inputs_root, self.seed, self.sf, gen.max_windows(self.sf)
        )
        with open(os.path.join(self.windows_dir, "windows.json")) as fh:
            self.so_far = gen.delivered_so_far(json.load(fh))
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("pages", "out"):
            os.makedirs(os.path.join(self.work, d))

    def setup(self, spark) -> list[bool]:
        from cloudtrace_exporter_spark import runner
        from cloudtrace_exporter_spark.config import EngineConfig

        self.spark = spark
        self.runner = runner
        self.cfg = EngineConfig(streams=True, forward=True)
        self.ctx = runner.AuthContext(
            source="https://cts.example", region="eu-de", domain="domain-1", tenant="tenant-1"
        )
        if self.tracer.enabled:
            self._install_sink_timers()
            self.listener = ProgressListener()
            spark.streams.addListener(self.listener)
            self.counters = SparkCounters(spark)
        oks = [self.op() for _ in range(self.WARMUP_TICKS)]
        self.recording = True
        return oks

    def _install_sink_timers(self) -> None:
        """Rebind the two sink factories ``run_pipeline`` calls so each
        batch's graph and Cypher upserts are timed, split into data and
        no-data batches. ``run_pipeline`` itself is unchanged."""
        layers, tracer = self.layers, self.tracer

        def timed(factory, label):
            def make(out_dir, counters=None):
                sink = factory(out_dir, counters=counters)

                def _sink(batch_df, epoch_id):
                    before = counters.delivered if counters else 0
                    t0 = time.perf_counter()
                    with tracer.span(f"sinks.{label}_upsert"):
                        sink(batch_df, epoch_id)
                    kind = "data" if counters and counters.delivered > before else "nodata"
                    if self.recording:
                        layers.setdefault(f"{label}.{kind}", []).append(time.perf_counter() - t0)

                return _sink

            return make

        self.runner.foreach_batch_graph_upsert = timed(self.runner.foreach_batch_graph_upsert, "graph")
        self.runner.foreach_batch_cypher_upsert = timed(self.runner.foreach_batch_cypher_upsert, "cypher")

    def _land(self, k: int) -> None:
        """Move window ``k``'s pages into the landing directory; each file
        appears atomically (hidden temp name, then rename)."""
        src = os.path.join(self.windows_dir, str(k))
        dst = os.path.join(self.work, "pages")
        for f in sorted(os.listdir(src)):
            tmp = os.path.join(dst, f".w{k}-{f}.tmp")
            shutil.copyfile(os.path.join(src, f), tmp)
            os.rename(tmp, os.path.join(dst, f"w{k:04d}-{f}"))

    def op(self) -> bool:
        k = self.tick
        self.tick += 1
        out = os.path.join(self.work, "out")
        with self.clock.timed(), self.tracer.span("ingest_tick", op=k):
            with self.tracer.span("land_pages", op=k):
                self._land(k)
            with self.tracer.span("runner.run_pipeline", op=k):
                _, counters = self.runner.run_pipeline(
                    self.spark, self.cfg, self.ctx, os.path.join(self.work, "pages"),
                    graph_dir=out, checkpoint=os.path.join(self.work, "ckpt"),
                )
        v0 = time.perf_counter()
        ok = self._validate(k, counters, out)
        if self.tracer.enabled:
            self._record_layers(self.clock.wall, out)
        if not self.recording:
            self.bench_s += time.perf_counter() - v0
        return ok

    def _validate(self, k: int, counters, out: str) -> bool:
        """Both sinks report no failure and deliver exactly the tick's new
        traces, and the store holds one action node per distinct trace
        delivered so far. The sinks swallow exceptions, so without this a
        broken sink would read as a speed-up."""
        so_far = self.so_far[k]
        expected = so_far - (self.so_far[k - 1] if k else 0)
        for c in counters.values():
            if c.failed or c.delivered != expected:
                return False
        actions = ds.dataset(os.path.join(out, "graph", "nodes", "actions"), format="parquet")
        ids = actions.to_table(columns=["id"]).column("id")
        return len(ids) == len(set(ids.to_pylist())) == so_far

    def _record_layers(self, latency: float, out: str) -> None:
        progress = self.listener.last_run_progress()
        counts = self.counters.snapshot()
        if not self.recording:
            return
        add = lambda key, v: self.layers.setdefault(key, []).append(v)  # noqa: E731
        dur = lambda key: sum(p["durationMs"].get(key, 0) for p in progress)  # noqa: E731
        state = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
        add("runner.batches_per_tick", len(progress))
        add("runner.overhead_s", latency - dur("triggerExecution") / 1000.0)
        add("sources.latest_offset_ms", dur("latestOffset"))
        add("sources.get_batch_ms", dur("getBatch"))
        add("sources.pages_per_tick", sum(p["numInputRows"] for p in progress))
        add("state.rows_total", max((s["numRowsTotal"] for s in state), default=0))
        add("state.commit_ms", sum(s["commitTimeMs"] for s in state))
        add("state.memory_bytes", max((s["memoryUsedBytes"] for s in state), default=0))
        add("state.rows_dropped_by_watermark", sum(s["numRowsDroppedByWatermark"] for s in state))
        add("engine.add_batch_ms", dur("addBatch"))
        add("engine.wal_commit_ms", dur("walCommit"))
        add("engine.commit_offsets_ms", dur("commitOffsets"))
        add("engine.query_planning_ms", dur("queryPlanning"))
        files = [os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs]
        add("sinks.store_files", len(files))
        add("sinks.store_bytes", sum(os.path.getsize(f) for f in files))
        add("spark.jobs_per_op", counts["jobs"])
        add("spark.stages_per_op", counts["stages"])
        add("spark.tasks_per_op", counts["tasks"])
        add("jvm.gc_s_per_op", counts["gc_s"])

    def layer_metrics(self) -> dict[str, float]:
        """Median over timed ticks of each per-tick value; sink times are
        the median over data (or no-data) batches."""
        renames = {
            "graph.data": "sinks.graph_upsert_data_s",
            "graph.nodata": "sinks.graph_upsert_nodata_s",
            "cypher.data": "sinks.cypher_upsert_s",
        }
        return {renames.get(k, k): _median(v) for k, v in self.layers.items() if k != "cypher.nodata"}


#: Graph-serving and LLM-serve queries, in round-robin order: relational
#: star join, graph reach, event dedup, and the MinHash, LSH and SemDeDup
#: serve paths.
WARM_MIX = (
    "q_join_star", "q_subject_reach", "q_dedup_events",
    "q_minhash_dedup_verified", "q_lsh_topk", "q_semdedup",
)

_TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _canon_cell(v) -> str:
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return "0" if v == 0.0 else f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _canon_rows(cols: list[str], rows) -> list[tuple[str, ...]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon_cell(r[i]) for i in order) for r in rows)


class QueryWarm:
    """One invocation of a ``queries()`` builder, round-robin over
    WARM_MIX, with the session's artifact memos already built.

    Each op builds the DataFrame and materializes every column through
    Spark's ``noop`` writer. An ``Observation`` on the same execution
    yields the row count and an order-insensitive row-hash sum, compared
    with the values pinned on the query's first (warm-up) invocation,
    whose rows were checked against the DuckDB oracle.
    """

    name = "query_warm"
    SF = 0.01
    #: Untimed rounds after the cold one, so timed ops meet a settled JIT:
    #: on 4 cores the third round took ~5.8 s, and rounds settled at
    #: ~4.9 s from the fourth.
    WARM_ROUNDS = 2
    #: About one round's wall time on the reference machine (4 cores).
    ROUND_SECONDS = 5.0

    @classmethod
    def ops_for(cls, seconds: float) -> int:
        """Timed ops for a run of about ``seconds``, in whole rounds, so
        every run times the same mix."""
        return len(WARM_MIX) * max(1, math.ceil(seconds / cls.ROUND_SECONDS))

    def __init__(self, work: str, seed: int, sf: float | None, tracer: Tracer, clock) -> None:
        self.seed = seed
        self.sf = sf or self.SF
        self.tracer = tracer
        self.clock = clock
        self.i = 0
        self.bench_s = 0.0
        self.layers: dict[str, list[float]] = {}

    def prepare(self, inputs_root: str) -> None:
        """Generate the tables and run every mixed query's DuckDB oracle;
        a mixed query without an oracle is an error."""
        import duckdb

        import __spark_entry__ as entry_mod

        self.tables_dir, _ = gen.ensure_inputs(inputs_root, self.seed, self.sf, 0)
        self.entry = entry_mod
        self.builders = entry_mod.queries()
        oracles = entry_mod.oracle_sql()
        con = duckdb.connect()
        for t in _TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.tables_dir}/{t}.parquet')")
        missing = [name for name in WARM_MIX if name not in oracles]
        if missing:
            raise ValueError(f"no oracle_sql() entry for {missing}")
        self.expected: dict[str, tuple[list[str], list]] = {}
        for name in WARM_MIX:
            cur = con.execute(oracles[name])
            cols = [d[0] for d in cur.description]
            self.expected[name] = (sorted(cols), _canon_rows(cols, cur.fetchall()))
        con.close()
        self.pins: dict[str, tuple[int, int] | None] = {}

    def setup(self, spark) -> list[bool]:
        """Warm-up: the first invocation of every mixed query builds its
        memos (the cold build). It is collected and checked against the
        oracle, and pins the observed checksum the timed ops must
        reproduce; a query whose rows mismatch pins nothing, so all its
        ops fail."""
        self.spark = spark
        if self.tracer.enabled:
            self.counters = SparkCounters(spark)
        oks = []
        for name in WARM_MIX:
            df = self.builders[name](spark, self.tables_dir)
            obs, observed = self._observed(df)
            rows = observed.collect()
            v0 = time.perf_counter()
            cols, expected = self.expected[name]
            match = sorted(df.columns) == cols and _canon_rows(df.columns, rows) == expected
            got = obs.get
            self.pins[name] = (got["n"], got["h"]) if match else None
            self.bench_s += time.perf_counter() - v0
            oks.append(match)
        oks += [self.op() for _ in range(self.WARM_ROUNDS * len(WARM_MIX))]
        if self.tracer.enabled:
            self.counters.snapshot()
            self.layers.clear()
        return oks

    def _observed(self, df):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        cells = [
            F.round(F.col(f"`{f.name}`"), 6) if isinstance(f.dataType, (T.DoubleType, T.FloatType))
            else F.col(f"`{f.name}`")
            for f in df.schema.fields
        ]
        obs = Observation()
        return obs, df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.pmod(F.xxhash64(*cells), F.lit(2147483647))), F.lit(0)).alias("h"),
        )

    def op(self) -> bool:
        name = WARM_MIX[self.i % len(WARM_MIX)]
        self.i += 1
        op = self.i
        with self.clock.timed(), self.tracer.span("query", op=op):
            t0 = time.perf_counter()
            with self.tracer.span("entry.build", op=op):
                df = self.builders[name](self.spark, self.tables_dir)
            t1 = time.perf_counter()
            obs, observed = self._observed(df)
            with self.tracer.span("entry.exec", op=op):
                observed.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        got = obs.get
        got = (got["n"], got["h"])
        if self.tracer.enabled:
            counts = self.counters.snapshot()
            add = lambda key, v: self.layers.setdefault(key, []).append(v)  # noqa: E731
            add("entry.build_s", t1 - t0)
            add("entry.exec_s", t2 - t1)
            add(f"query.{name}.latency_s", t2 - t0)
            add("spark.jobs_per_op", counts["jobs"])
            add("spark.stages_per_op", counts["stages"])
            add("spark.tasks_per_op", counts["tasks"])
            add("jvm.gc_s_per_op", counts["gc_s"])
            add("session.cached_entries", self._cached_entries())
        return self.pins[name] == got

    def _cached_entries(self) -> int:
        memos = sum(
            len(v) for k, v in vars(self.entry).items() if k.endswith("_CACHE") and isinstance(v, dict)
        )
        return memos + self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def layer_metrics(self) -> dict[str, float]:
        out = {k: _median(v) for k, v in self.layers.items()}
        for k in ("spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op", "jvm.gc_s_per_op"):
            if self.layers.get(k):
                out[k] = statistics.fmean(self.layers[k])
        if self.layers.get("session.cached_entries"):
            out["session.cached_entries"] = self.layers["session.cached_entries"][-1]
        return out


WORKLOADS = {w.name: w for w in (IngestTick, QueryWarm)}
