"""Batched Neo4j Cypher sink — the set-oriented form of the reference's
graph writer.

The reference writes ONE Neo4j transaction per event through a single
consumer goroutine (/root/reference/cmd/neo4j_sink/main.go:80-89), each
running a 6-node + 5-edge ``MERGE`` template with 10 scalar parameters
(/root/reference/pkg/neo4j/client.go:10-21, 57-67). That is an
events/sec-class bottleneck by construction. The batched equivalent —
``UNWIND $rows AS row MERGE ...`` — executes the same idempotent MERGE
template once per *chunk of rows*, which is the standard Neo4j bulk
pattern and what the Neo4j Spark connector emits under the hood.

Two delivery paths, both per micro-batch (``foreachBatch``):

- **Live** (requires the ``neo4j`` Python driver, absent in this image —
  gated import): rows are sent from *executors* via ``foreachPartition``,
  chunked into ``rows_per_tx`` UNWIND transactions. No driver-side
  collect; parallelism = partitions of the batch.
- **Script** (always available): the batch writes ``rows-<epoch>/`` JSON
  parameter files (distributed write, one file per partition) next to a
  ``statement.cypher`` file holding the UNWIND template. Replaying the
  script against any Neo4j is a one-liner per chunk; re-replay is a
  no-op because MERGE is idempotent on the same keys.

Scale note (100 TB): the sink's write amplification is bounded by
distinct MERGE keys, not raw events — rows are deduplicated on
``actionId`` within the batch before delivery (re-delivery of the same
action is a MERGE no-op anyway; dropping it client-side saves the round
trip, mirroring what A14's dropDuplicates already guarantees).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cloudtrace_exporter_spark.session import right_sized, row_count
from cloudtrace_exporter_spark.streaming.sinks import DeliveryCounters

# Set-oriented re-expression of the reference's per-event MERGE template
# (pkg/neo4j/client.go:10-21): same node labels, keys, and edge types,
# one UNWIND over a row batch instead of one transaction per event.
UNWIND_MERGE_CYPHER = """\
UNWIND $rows AS row
MERGE (region:REGION {name: row.region})
MERGE (status:STATUS {id: row.status})
MERGE (subject:SUBJECT {id: row.subject})
MERGE (tenant:TENANT {tenantId: row.tenantId, domainId: row.domainId})
MERGE (resource:RESOURCE {id: row.resourceId})
MERGE (action:ACTION {id: row.actionId})
  ON CREATE SET action.timestamp = row.timestamp,
                action.source = row.source,
                action.type = row.type
MERGE (action)-[:APPLIED_ON]->(resource)
MERGE (tenant)-[:LOCATED_AT]->(region)
MERGE (resource)-[:MEMBER_OF]->(tenant)
MERGE (action)-[:WITH_STATUS]->(status)
MERGE (action)-[:PERFORMED_BY]->(subject)
"""


def events_to_cypher_rows(events: DataFrame) -> DataFrame:
    """Normalized-event frame → the 10-parameter row shape of the MERGE
    template (client.go:57-67), deduplicated on the action key."""
    return events.select(
        F.col("region"),
        F.col("tenant").alias("tenantId"),
        F.col("domain").alias("domainId"),
        F.col("resource_id").alias("resourceId"),
        F.col("event_id").alias("actionId"),
        F.date_format("event_time", "yyyy-MM-dd'T'HH:mm:ssXXX").alias("timestamp"),
        F.col("source"),
        F.col("type"),
        F.col("status"),
        F.col("subject"),
    ).dropDuplicates(["actionId"])


def _neo4j_partition_writer(
    uri: str,
    auth: tuple[str, str] | None,
    database: str,
    rows_per_tx: int,
    driver_factory: Callable | None = None,
) -> Callable[[Iterator], None]:
    """Executor-side writer: one driver session per partition, one UNWIND
    transaction per ``rows_per_tx`` chunk.

    ``driver_factory(uri, auth)`` (default: the real ``neo4j``
    GraphDatabase driver, gated import) exists so the chunk loop — the
    engine-side half of delivery — is measurable and testable without a
    database: tools/cypher_probe.py injects a transaction-counting fake
    and records rows/s + transactions per batch size in SCALE.md."""

    def _make_driver(u: str, a):
        import neo4j  # gated: not installed in this image

        return neo4j.GraphDatabase.driver(u, auth=a)

    factory = driver_factory or _make_driver

    def _write(rows: Iterator) -> None:
        driver = factory(uri, auth)
        try:
            with driver.session(database=database) as session:
                chunk: list[dict] = []
                for row in rows:
                    chunk.append(row.asDict())
                    if len(chunk) >= rows_per_tx:
                        session.execute_write(
                            lambda tx, c=chunk: tx.run(UNWIND_MERGE_CYPHER, rows=c)
                        )
                        chunk = []
                if chunk:
                    session.execute_write(
                        lambda tx, c=chunk: tx.run(UNWIND_MERGE_CYPHER, rows=c)
                    )
        finally:
            driver.close()

    return _write


def foreach_batch_cypher_upsert(
    out_dir: str | None = None,
    *,
    uri: str | None = None,
    auth: tuple[str, str] | None = None,
    database: str = "neo4j",
    rows_per_tx: int = 1000,
    counters: DeliveryCounters | None = None,
    driver_factory: Callable | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch callback: batched Cypher MERGE delivery.

    With ``uri`` set (and the ``neo4j`` driver importable) rows go to the
    database from executors; otherwise a replayable UNWIND script + JSON
    parameter files land under ``out_dir``, one ``rows-<epoch>``
    directory per non-empty epoch. ``delivered`` counts the batch's rows,
    as the graph sink does; a batch that its caller has cached and
    materialized is not counted again (its size is read from the cache),
    and its rows are written from a ``session.right_sized`` view of it. An
    empty batch is counted as one batch with nothing delivered and writes
    nothing. A failure is counted when
    counters are attached (A13 accounting semantics,
    adapter.go:140-156) and re-raised otherwise, so the batch replays
    from the checkpoint."""
    if out_dir is None and uri is None:
        raise ValueError("need out_dir (script mode) or uri (live mode)")

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        try:
            n = row_count(batch_df)
            if n == 0:
                if counters:
                    counters.record(delivered=0)
                return
            rows = events_to_cypher_rows(right_sized(batch_df))
            if uri is not None:
                rows.foreachPartition(
                    _neo4j_partition_writer(
                        uri, auth, database, rows_per_tx, driver_factory
                    )
                )
            else:
                os.makedirs(out_dir, exist_ok=True)
                stmt_path = os.path.join(out_dir, "statement.cypher")
                if not os.path.exists(stmt_path):
                    with open(stmt_path, "w") as fh:
                        fh.write(UNWIND_MERGE_CYPHER)
                rows.write.mode("overwrite").json(
                    os.path.join(out_dir, f"rows-{epoch_id:05d}")
                )
            if counters:
                counters.record(delivered=n)
        except Exception as exc:  # per-batch failure tolerated + counted (A13)
            if counters:
                counters.record(failed=1, error=f"epoch {epoch_id}: {exc}")
            else:
                raise

    return _sink
