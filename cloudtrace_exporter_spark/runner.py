"""End-to-end pipeline assembly — the exporter ``main()`` re-expressed.

The reference's entry point wires env config → auth context → adapter →
ticker loop → goroutine pipeline → optional HTTP forward
(/root/reference/cmd/cts_exporter/main.go:67-150), choosing the
streaming path (default) or the batch path by ``CTS_STREAMS``
(main.go:27,146). Here the same wiring is a pure function of
``EngineConfig``: paged-source scan → normalize (+K_CE_OVERRIDES) →
dedup → optional sinks, where Spark's micro-batch engine replaces the
ticker + goroutines + channels (SURVEY §3.1).

Deliberate semantic fixes carried over from SURVEY §7's bug register:
an empty batch is normal (the reference errors with "no traces
collected", adapter.go:112-114), and transform failures drop + count
rather than crash (the nil-event deref at adapter.go:187-195).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from cloudtrace_exporter_spark.config import EngineConfig
from cloudtrace_exporter_spark.operators import normalize
from cloudtrace_exporter_spark.sources import cts_pages
from cloudtrace_exporter_spark.streaming.cypher_sink import foreach_batch_cypher_upsert
from cloudtrace_exporter_spark.streaming.pipeline import dedup_within_watermark
from cloudtrace_exporter_spark.streaming.sinks import (
    DeliveryCounters,
    foreach_batch_graph_upsert,
)

_NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"


#: Auth-context fields the reference reads off its service client
#: (adapter.go:224, 252-254) — engine-side they are plain config.
@dataclass(frozen=True)
class AuthContext:
    source: str
    region: str
    domain: str
    tenant: str


def build_events(
    spark: SparkSession, cfg: EngineConfig, ctx: AuthContext, pages_dir: str
) -> DataFrame:
    """Source → normalized, deduplicated event frame (batch or stream).

    The whole Part-A chain as one declarative plan: paged-response scan
    (A1/A2), trace→CloudEvent projection with enrichment and override
    merge (A5-A11), and at-least-once → effectively-once dedup (A4/A14 —
    watermarked bounded state when streaming, a hash shuffle in batch).
    """
    if cfg.streams:
        traces = cts_pages.read_trace_pages_stream(spark, pages_dir)
    else:
        traces = cts_pages.read_trace_pages(spark, pages_dir)
    events = normalize.normalize_traces(
        traces,
        source=ctx.source,
        region=ctx.region,
        domain=ctx.domain,
        tenant=ctx.tenant,
        overrides=cfg.overrides,
    )
    if cfg.streams:
        return dedup_within_watermark(
            events, key="event_id", ts_col="event_time", delay=cfg.watermark_delay
        )
    return normalize.dedup_events(events, "event_id")


def run_pipeline(
    spark: SparkSession,
    cfg: EngineConfig,
    ctx: AuthContext,
    pages_dir: str,
    *,
    graph_dir: str | None = None,
    checkpoint: str | None = None,
    available_now: bool = True,
) -> tuple[DataFrame, dict[str, DeliveryCounters] | None]:
    """Assemble and (when sinks apply) run the pipeline once.

    Returns ``(events, counters)``: the event frame, and per-sink
    delivery accounting (keys ``graph``/``cypher``) if sinks ran — each
    sink keeps its own A13-style ``sent`` total, so a graph write and
    its Cypher mirror are accounted independently, never summed into a
    double count. Sink attachment follows the reference's
    gates: ``CTS_X_PNP`` (cfg.forward) enables delivery, ``K_SINK``
    (cfg.sink) names the target — here a directory that receives the
    graph store plus the batched Cypher script (the set-oriented
    neo4j_sink).

    Streaming runs drain available input and stop (``availableNow`` —
    the test/driver cadence); pass ``available_now=False`` for the
    resident ``trigger(processingTime=cfg.trigger_interval)`` loop, the
    A18 ticker equivalent. Either way a tick is one micro-batch: the query
    starts with ``spark.sql.streaming.noDataMicroBatches.enabled=false``
    (set on the session for ``start()`` only), so no watermark-only batch
    follows the data batch. State the watermark expires is evicted by the
    next tick's batch, which filters late rows by that same watermark, so
    an evicted key is always late and state holds one more poll window.

    Each batch is pinned and counted once; both sinks read its size from
    the pin, and the Cypher write runs beside the graph writes.
    """
    events = build_events(spark, cfg, ctx, pages_dir)
    if not (cfg.forward and (cfg.sink or graph_dir)):
        return events, None  # CTS_X_PNP=false: transform-only (main.go:169-171)

    target = graph_dir or cfg.sink
    counters = {"graph": DeliveryCounters(), "cypher": DeliveryCounters()}
    graph_sink = foreach_batch_graph_upsert(f"{target}/graph", counters["graph"])
    cypher_sink = foreach_batch_cypher_upsert(f"{target}/cypher", counters=counters["cypher"])

    def _both(batch_df: DataFrame, epoch_id: int) -> None:
        # Pinned so the stateful dedup plan runs once, on every partition,
        # not once per sink action; both sinks read its size from the pin.
        # The Cypher write runs beside the graph writes, on a thread that
        # inherits the query's job group. The pin is released blocking, so
        # no block removal overlaps the next batch.
        batch_df.persist()
        try:
            batch_df.count()
            run = inheritable_thread_target(spark)(cypher_sink)
            with ThreadPoolExecutor(max_workers=1) as pool:
                cypher = pool.submit(run, batch_df, epoch_id)
                graph_sink(batch_df, epoch_id)
            cypher.result()
        finally:
            batch_df.unpersist(blocking=True)

    if not cfg.streams:
        _both(events, 0)
        return events, counters
    if checkpoint is None:
        raise ValueError("streaming delivery needs a checkpoint dir")
    writer = events.writeStream.foreachBatch(_both).option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=cfg.trigger_interval)
    # A tick is one micro-batch: no watermark-only batch follows it. The
    # query clones the session conf when it starts, so it keeps the setting
    # and the session gets its own value back.
    prev = spark.conf.get(_NO_DATA_BATCHES, None)
    spark.conf.set(_NO_DATA_BATCHES, "false")
    try:
        q = writer.start()
    finally:
        if prev is None:
            spark.conf.unset(_NO_DATA_BATCHES)
        else:
            spark.conf.set(_NO_DATA_BATCHES, prev)
    if available_now:
        q.awaitTermination()
    return events, counters
