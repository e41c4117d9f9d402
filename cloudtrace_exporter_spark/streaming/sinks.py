"""Streaming sinks — set-oriented replacements for the reference's senders.

The reference sends one synchronous HTTP POST per event and counts
ACKs/NACKs into a ``sent`` total + multierror
(/root/reference/pkg/adapter/adapter.go:140-156, 212-218), and the sink
writes one Neo4j transaction per event
(/root/reference/cmd/neo4j_sink/main.go:80-89). Here every sink is a
``foreachBatch``: per micro-batch, one set-oriented write with
delivered/failed accounting — the same observable semantics (per-record
failure tolerated, counted, never crashing the pipeline; NOTE the
reference's stream path bug that dereferences a nil event on transform
error, adapter.go:187-195, is deliberately NOT reproduced).
"""

from __future__ import annotations

import json
import os
import threading
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql.types import StructField, StructType
from pyspark.util import inheritable_thread_target

from cloudtrace_exporter_spark.operators import graph
from cloudtrace_exporter_spark.session import right_sized, row_count


@dataclass
class DeliveryCounters:
    """A13's ``sent``/failure accounting, batch-granular and thread-safe
    (foreachBatch callbacks run on driver-side threads)."""

    delivered: int = 0
    failed: int = 0
    batches: int = 0
    errors: list[str] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def record(self, delivered: int = 0, failed: int = 0, error: str | None = None) -> None:
        with self._lock:
            self.delivered += delivered
            self.failed += failed
            self.batches += 1
            if error:
                self.errors.append(error)


def foreach_batch_graph_upsert(
    out_dir: str, counters: DeliveryCounters | None = None
) -> Callable[[DataFrame, int], None]:
    """A14 as a streaming sink: per micro-batch, upsert the batch's node
    and edge tables into a parquet "graph store" directory, one table per
    subdirectory (``nodes/regions``, ``edges/applied_on``, ...).

    Idempotency strategy (MERGE semantics without a transactional format):
    the batch's rows are anti-joined against the keys already on disk
    before they are appended. On a cluster with Delta/Iceberg this callback
    body becomes a ``MERGE INTO`` per table — the composition is the same;
    the jars just aren't in this image. With the Neo4j Spark connector
    available, the same callback pushes batched ``UNWIND $rows MERGE ...``
    Cypher instead (out-of-process, per BASELINE.json: "Neo4j graph writes
    are external").

    The whole graph is one set-oriented MERGE:

    - ``graph.graph_rows`` projects the batch once into a long frame of
      ``(table, k1, k2, k3)`` plus the action payload and dedups it once.
    - That frame is anti-joined once against the union of every stored
      table's keys (``graph.table_keys``; each table is read with its key
      columns' schema, so no schema-inference job runs) and the delta is
      pinned as a local checkpoint, whose plan reads no store path: a
      cached plan over the store would be dropped and rebuilt by the
      CacheManager after every append to it. Counting the delta per table
      materializes the pin; a table
      not yet in the store needs no count, since every event gives it a
      row, so a batch into an empty store runs no counting job.
    - Only the tables whose delta is non-empty are appended, so an
      unchanged table gains no file. The appends run concurrently,
      ``min(11, defaultParallelism)`` at a time. Each thread inherits the
      caller's local properties, so the jobs carry the streaming query's
      job group and ``stop()`` cancels them. The sink returns once every
      write has finished.

    A batch that its caller has cached and materialized (as
    ``runner.run_pipeline`` does) is not counted again: its size is read
    from the cache, and the sink works on a ``session.right_sized`` view of
    it. A batch under one advisory partition is then a single partition, so
    the dedup and the anti-join plan no exchange and each appended table
    gains one file.

    An empty batch is counted as one batch with nothing delivered and
    writes no table. A failed batch is counted once, with an error naming
    the epoch and each failed table, when counters are attached, and
    re-raised otherwise.
    """

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            n_in = row_count(batch_df)
            if n_in == 0:
                if counters:
                    counters.record(delivered=0)
                return
            view = right_sized(batch_df)
            types = {f.name: f.dataType for f in view.schema}
            rows = graph.graph_rows(view)
            stored = []
            for table, (cols, n) in graph.GRAPH_TABLES.items():
                path = os.path.join(out_dir, table)
                if os.path.isdir(path) and any(f.endswith(".parquet") for f in os.listdir(path)):
                    key_schema = StructType(
                        [StructField(name, types[ev]) for name, ev in cols[:n]]
                    )
                    stored.append(graph.table_keys(spark.read.schema(key_schema).parquet(path), table))
            if stored:
                keys = reduce(DataFrame.unionByName, stored)
                rows = rows.join(keys, on=["table", *graph.KEY_SLOTS], how="left_anti")
            # A local checkpoint, not a cache: its plan reads no store path,
            # so an append does not make the CacheManager drop and rebuild it.
            delta = rows.localCheckpoint(eager=False)
            try:
                tables = list(graph.GRAPH_TABLES)
                if stored:
                    grown = {r["table"] for r in delta.groupBy("table").count().collect()}
                    tables = [t for t in tables if t in grown]
                append = inheritable_thread_target(spark)(
                    lambda t: graph.table_rows(delta, t)
                    .write.mode("append")
                    .parquet(os.path.join(out_dir, t))
                )
                width = max(1, min(len(tables), spark.sparkContext.defaultParallelism))
                with ThreadPoolExecutor(max_workers=width) as pool:
                    writes = {t: pool.submit(append, t) for t in tables}
            finally:
                delta._jdf.queryExecution().analyzed().rdd().unpersist(True)
            failed = {t: exc for t, w in writes.items() if (exc := w.exception())}
            if failed:
                raise RuntimeError(
                    "; ".join(f"{t}: {exc}" for t, exc in failed.items())
                ) from next(iter(failed.values()))
            if counters:
                counters.record(delivered=n_in)
        except Exception as exc:  # per-batch failure tolerated + counted (A13)
            if counters:
                counters.record(failed=1, error=f"epoch {epoch_id}: {exc}")
            else:
                raise

    return _sink


def foreach_batch_jsonl_sender(
    out_path: str,
    counters: DeliveryCounters | None = None,
    transport: Callable[[list[str], int], None] | None = None,
) -> Callable[[DataFrame, int], None]:
    """A13/A17 HTTP-push analog with a file transport: serialize each event
    (CloudEvents-style JSON lines) and append to the sink path, counting
    delivered records. ``transport`` is the delivery seam — it receives
    (serialized lines, epoch_id) and defaults to the file append; the
    production swap-in is an HTTP POST per *batch* (not per event — the
    reference's 1-POST-per-event granularity, adapter.go:146, is the
    throughput bug this engine exists to fix, so it is not reproduced).
    A transport exception is the per-batch failure path: counted
    ``failed`` when counters are attached (the reference's multierror
    tolerance), re-raised otherwise so the query fails and the batch
    replays from the checkpoint on restart (at-least-once transport).
    """

    def _default_transport(lines: list[str], _epoch_id: int) -> None:
        with open(out_path, "a", encoding="utf-8") as fh:
            for r in lines:
                fh.write(r + "\n")

    send = transport or _default_transport

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        try:
            rows = batch_df.toJSON().collect()  # sink-side egress, batch-bounded
            send(rows, epoch_id)
            if counters:
                counters.record(delivered=len(rows))
        except Exception as exc:
            if counters:
                counters.record(failed=1, error=f"epoch {epoch_id}: {exc}")
            else:
                raise

    return _sink


def foreach_batch_quality_gated(
    inner: Callable[[DataFrame, int], None],
    checks: dict,
    counters: DeliveryCounters | None = None,
    quarantine_dir: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """Streaming admission gate: compose ``expectations.expectation_report``
    (the batch-side data-quality gate) with any foreachBatch sink (B31).
    Per micro-batch, every declared expectation is evaluated in ONE
    aggregation pass over the batch; the batch reaches ``inner`` only if
    ALL pass. A failing batch is counted ``failed`` (whole batch — the
    gate is batch-atomic, matching a transactional downstream) and, when
    ``quarantine_dir`` is set, appended there as parquet for replay
    after the upstream defect is fixed — the streaming generalization of
    the reference adapter's per-record conversion-drop accounting
    (pkg/adapter/adapter.go:140-156).

    ``checks`` are ``expectation_report`` keyword arguments. The batch
    is pinned with ``persist`` because it feeds two consumers (the
    report and the delivery/quarantine write). The gate owns its
    counters; ``inner`` keeps its own delivery accounting.
    """
    from cloudtrace_exporter_spark.operators.expectations import expectation_report

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist()
        try:
            report = expectation_report(batch_df, **checks).collect()
            total = report[0]["total"] if report else 0
            bad = [r for r in report if not r["passed"]]
            if bad:
                if quarantine_dir:
                    batch_df.write.mode("append").parquet(quarantine_dir)
                if counters:
                    detail = ", ".join(
                        f"{r['expectation']}({r['column']})={r['violations']}" for r in bad
                    )
                    counters.record(failed=total, error=f"epoch {epoch_id}: {detail}")
            else:
                inner(batch_df, epoch_id)
                if counters:
                    counters.record(delivered=total)
        finally:
            batch_df.unpersist(blocking=True)

    return _sink


def run_to_completion(stream_df: DataFrame, sink: Callable[[DataFrame, int], None], checkpoint: str):
    """Start a foreachBatch query, drain all available input, stop.

    Test/driver helper mirroring the reference's batch mode (CTS_STREAMS=false,
    one pass then exit) while exercising the real streaming engine.
    """
    q = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
