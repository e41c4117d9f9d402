"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest_tick --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository: the program under test
(``cloudtrace_exporter_spark`` and ``__spark_entry__.py``) is imported from
the working directory, and everything the run writes goes under
``.bench_work/`` there. The last stdout line is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``. See ``perfbench/README.md`` for what each metric means.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import importlib.util
import json
import os
import platform
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))

END_TO_END = {
    "latency_p50_s": "s",
    "ops_per_s": "1/s",
    "cpu_s_per_op": "s",
    "live_heap_mb": "MB",
    "setup_s": "s",
}

# (metric, unit, layer, end-to-end metric it should move)
_INGEST = "ingest_tick latency, cpu"
_QUERY = "query_warm p50, ops/s; setup_s"
PER_LAYER = [
    ("runner.batches_per_tick", "count", "runner", _INGEST),
    ("runner.overhead_s", "s", "runner", _INGEST),
    ("sources.latest_offset_ms", "ms", "sources.cts_pages", "ingest_tick latency"),
    ("sources.get_batch_ms", "ms", "sources.cts_pages", "ingest_tick latency"),
    ("sources.pages_per_tick", "count", "sources.cts_pages", "ingest_tick latency"),
    ("state.rows_total", "count", "streaming.pipeline", "ingest_tick latency, live_heap_mb"),
    ("state.commit_ms", "ms", "streaming.pipeline", "ingest_tick latency"),
    ("state.memory_bytes", "bytes", "streaming.pipeline", "ingest_tick live_heap_mb"),
    ("state.rows_dropped_by_watermark", "count", "streaming.pipeline", "ingest_tick latency"),
    ("sinks.graph_upsert_data_s", "s", "streaming.sinks+graph", "ingest_tick latency"),
    ("sinks.graph_upsert_nodata_s", "s", "streaming.sinks+graph", "ingest_tick latency"),
    ("sinks.store_files", "count", "streaming.sinks+graph", "ingest_tick latency"),
    ("sinks.store_bytes", "bytes", "streaming.sinks+graph", "ingest_tick latency"),
    ("sinks.cypher_upsert_s", "s", "streaming.cypher_sink", "ingest_tick latency"),
    ("engine.add_batch_ms", "ms", "streaming engine", "ingest_tick latency"),
    ("engine.wal_commit_ms", "ms", "streaming engine", "ingest_tick latency"),
    ("engine.commit_offsets_ms", "ms", "streaming engine", "ingest_tick latency"),
    ("engine.query_planning_ms", "ms", "streaming engine", "ingest_tick latency"),
    ("entry.build_s", "s", "__spark_entry__ builders", _QUERY),
    ("entry.exec_s", "s", "__spark_entry__ builders", _QUERY),
    ("session.cached_entries", "count", "session/artifact memos", "query_warm setup_s, live_heap_mb"),
    ("spark.jobs_per_op", "count", "Spark scheduler", "latency, cpu"),
    ("spark.stages_per_op", "count", "Spark scheduler", "latency, cpu"),
    ("spark.tasks_per_op", "count", "Spark scheduler", "latency, cpu"),
    ("jvm.gc_s_per_op", "s", "JVM", "latency, cpu"),
    ("proc.peak_rss_mb", "MB", "process tree", "live_heap_mb"),
    ("trace.latency_p50_s", "s", "tracing", "overhead vs untraced latency_p50_s"),
]


def _program_present(root: str) -> bool:
    sys.path.insert(0, root)
    return all(
        importlib.util.find_spec(m) is not None
        for m in ("cloudtrace_exporter_spark", "__spark_entry__")
    )


def _configure_env(root: str) -> dict:
    """Size Spark for this machine through the program's existing env
    settings, before the program reads them at import, and keep every
    temporary file of the run (Python's, the JVM's) inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{min(4096, ram_mb // 4)}m")
    local = os.path.join(root, ".bench_work", "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ.setdefault("SPARK_LOCAL_DIRS", local)
    tmp = os.path.join(root, ".bench_work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: the JVM would otherwise keep its perf counters in /tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} {java_opts}".strip()
    return {
        "cores": cpus,
        "ram_mb": ram_mb,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_GRAFT_DRIVER_MEM": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "SPARK_LOCAL_DIRS": os.path.relpath(os.environ["SPARK_LOCAL_DIRS"], root),
        "python": platform.python_version(),
    }


class ProcTree:
    """CPU seconds and peak RSS of this process and its descendants (the
    Spark JVM and its Python workers), read from /proc."""

    def __init__(self) -> None:
        self.root = os.getpid()
        self.tick = os.sysconf("SC_CLK_TCK")

    def pids(self) -> list[int]:
        parent = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError):
                    continue
        tree, frontier = [self.root], [self.root]
        while frontier:
            frontier = [p for p, pp in parent.items() if pp in frontier]
            tree += frontier
        return tree

    def cpu_s(self) -> float:
        total = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        return total / self.tick

    def peak_rss_mb(self) -> float:
        kb = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/status") as fh:
                    kb += next((int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:")), 0)
            except OSError:
                continue
        return kb / 1024.0

    def children(self) -> list[int]:
        return [p for p in self.pids() if p != self.root]


def _host_jiffies() -> tuple[int, int]:
    """(busy, steal) jiffies summed over this machine's CPUs, from
    /proc/stat: time its CPUs ran code, and time they wanted to run but
    the hypervisor ran another machine instead."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in fh.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq, steal


def _steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU time this machine wanted between two readings of
    ``_host_jiffies`` that the hypervisor gave to other machines."""
    busy, steal = after[0] - before[0], after[1] - before[1]
    return steal / max(1, busy + steal)


class OpClock:
    """Wall time, process-tree CPU time and the host's steal share of one
    op's timed region; the workload's validation runs outside it.

    ``unstolen`` is the wall time less the stolen share: the op's latency
    on a machine whose CPUs the hypervisor does not hand to other machines.
    On a shared host, steal comes and goes over minutes and moves wall time
    by up to about 20 %, whatever the program does."""

    def __init__(self, procs: ProcTree) -> None:
        self.procs = procs
        self.wall = self.cpu = self.steal = 0.0

    @contextlib.contextmanager
    def timed(self):
        j0 = _host_jiffies()
        c0 = self.procs.cpu_s()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.wall = time.perf_counter() - t0
            self.cpu = self.procs.cpu_s() - c0
            self.steal = _steal_share(j0, _host_jiffies())

    @property
    def unstolen(self) -> float:
        return self.wall * (1.0 - self.steal)


def _live_heap_mb(spark) -> float:
    """JVM heap still in use after a full GC: what the session retains
    (cached frames, memos, state, status store), without the heap-sizing
    noise of RSS. Python's collector runs first each time: the JVM objects
    behind finished ops' DataFrames stay reachable until their Python
    proxies, often held in reference cycles, are collected. Spark's
    ContextCleaner frees blocks only after a GC has collected their
    owners, so GC is repeated until the figure settles."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = None
    for _ in range(6):
        gc.collect()
        jvm.System.gc()
        time.sleep(0.5)
        now = bean.getHeapMemoryUsage().getUsed()
        if used is not None and abs(now - used) <= 0.01 * used:
            break
        used = now
    return now / 2**20


def _stop_spark(spark, procs: ProcTree) -> None:
    """Stop the session, close the JVM's stdin so it exits, and wait for
    every child process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while procs.children() and time.time() < deadline:
        time.sleep(0.2)
    for pid in procs.children():
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None, help="input scale (default: per workload)")
    p.add_argument("--ops", type=int, default=None, help="timed-op count (default: from --seconds)")
    args = p.parse_args(argv)

    root = os.getcwd()
    if not _program_present(root):
        print(f"program under test not found in {root}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from tracing import Tracer, print_layer_table
    from workloads import WARM_MIX, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    env = _configure_env(root)
    work = os.path.join(root, ".bench_work")
    tracer = Tracer(bool(args.trace))
    procs = ProcTree()
    clock = OpClock(procs)
    wl = WORKLOADS[args.workload](work, args.seed, args.sf, tracer, clock)
    wl.prepare(os.path.join(work, "inputs"))

    import pyspark

    from cloudtrace_exporter_spark.session import get_spark

    j_setup = _host_jiffies()
    t_setup = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    env.update(pyspark=pyspark.__version__, jdk=spark.sparkContext._jvm.System.getProperty("java.version"))
    try:
        oks = wl.setup(spark)
        setup_steal = _steal_share(j_setup, _host_jiffies())
        setup_wall = time.perf_counter() - t_setup - wl.bench_s
        setup_s = setup_wall * (1.0 - setup_steal)
        tracer.spans.clear()  # the span table covers timed ops only
        lat: list[float] = []  # unstolen latency of each timed op
        wall: list[float] = []
        cpu: list[float] = []
        steal: list[float] = []
        for _ in range(args.ops or wl.ops_for(args.seconds)):
            try:
                ok = wl.op()
            except Exception:  # a raising op is a failed op, not a crashed run
                traceback.print_exc()
                oks.append(False)
                continue
            lat.append(clock.unstolen)
            wall.append(clock.wall)
            cpu.append(clock.cpu)
            steal.append(clock.steal)
            oks.append(ok)
        if not lat:
            print("every timed op raised", file=sys.stderr)
            return 1
        peak = procs.peak_rss_mb()
        live = _live_heap_mb(spark)
        layers = wl.layer_metrics() if tracer.enabled else {}
    finally:
        _stop_spark(spark, procs)

    failed = oks.count(False)
    result = {"correct": failed == 0, "attempted": len(oks), "failed": failed}
    p50 = statistics.median(lat)
    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    stem = os.path.join(work, "results", f"{args.workload}-seed{args.seed}")
    print(f"env: {json.dumps(env)}")
    if tracer.enabled:
        layers["trace.latency_p50_s"] = p50
        layers["proc.peak_rss_mb"] = peak
        units = {m: u for m, u, _, _ in PER_LAYER}
        metrics = {m: {"value": float(layers.get(m, 0.0)), "unit": units[m]} for m, *_ in PER_LAYER}
        for q in WARM_MIX:
            metrics[f"query.{q}.latency_s"] = {"value": float(layers.get(f"query.{q}.latency_s", 0.0)), "unit": "s"}
        rows = [(layer, m, metrics[m]["value"], moves) for m, _, layer, moves in PER_LAYER]
        rows += [("__spark_entry__ builders", m, v["value"], _QUERY) for m, v in metrics.items() if m.startswith("query.")]
        rows += [("self time", f"span.{k}", v, "") for k, v in sorted(tracer.self_times().items())]
        print_layer_table(rows, sys.stdout)
        untraced = f"{stem}.json"
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["metrics"]["latency_p50_s"]["value"]
            print(f"tracing overhead: latency_p50_s {base:.4f} s untraced -> {p50:.4f} s traced ({p50 / base - 1:+.1%})")
        tracer.write(f"{stem}-spans.json", {"env": env, "workload": args.workload, "seed": args.seed})
    else:
        metrics = {
            "latency_p50_s": p50,
            "ops_per_s": len(lat) / sum(lat),
            "cpu_s_per_op": sum(cpu) / len(cpu),
            "live_heap_mb": live,
            "setup_s": setup_s,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
        with open(f"{stem}.json", "w") as fh:
            json.dump({
                "metrics": metrics, "latencies_s": lat, "wall_s": wall, "cpu_s": cpu, "steal": steal,
                "setup_wall_s": setup_wall, "setup_steal": setup_steal, "env": env,
            }, fh)
    half = len(lat) // 2
    print(f"timed ops: {len(lat)}; wall_s: {[round(x, 3) for x in wall]}; unstolen_s: {[round(x, 3) for x in lat]}; cpu_s: {[round(x, 2) for x in cpu]}")
    if half:
        print(f"median latency, first half {statistics.median(lat[:half]):.4f} s, second half {statistics.median(lat[half:]):.4f} s")
    print(f"host steal share: set-up {setup_steal:.3f} of {setup_wall:.2f} s; timed ops median {statistics.median(steal):.3f}, max {max(steal):.3f}")
    print(json.dumps({**result, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
