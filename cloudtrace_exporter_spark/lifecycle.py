"""One-command engine lifecycle with checkpoint/restart (round-8 item #4).

The reference deploys as TWO processes wired by HTTP: the exporter's
ticker pipeline (``/root/reference/cmd/cts_exporter/main.go:118-150``)
and the Neo4j sink (``cmd/neo4j_sink/main.go``). This module composes
that full story — plus the LLM-pipeline stages this engine adds — into
ONE resumable batch run:

  ingest (paged CTS landing scan, A1/A2)
    → events (trace→CloudEvent normalize + override merge + exact dedup,
      A5-A11/A14)
    → graph (idempotent node/edge upsert store + batched Cypher script —
      the neo4j_sink re-expressed, A13/A14)
    → dedup (MinHash-LSH near-dup components over the document corpus,
      survivors kept — B33)
    → curated (quality gate → exact dedup → stratified language mixture —
      the curation funnel)
    → layout (context-window packing offsets via the distributed prefix
      scan — the pretraining-loader artifact)

Each stage lands parquet under ``out_dir/<stage>`` and is CHECKPOINTED
by its parquet ``_SUCCESS`` marker: a rerun skips every completed stage
and recomputes only what is missing (delete a stage directory to force
it) — the batch analog of the streaming ``checkpointLocation``. A
``manifest.json`` records per-stage row accounting and skip flags after
every stage, so a killed run leaves an inspectable trail.

Restart correctness note: downstream stages read their INPUT from the
upstream stage's parquet (never from a live DataFrame), so a resumed
run recomputes from exactly the bytes the original run produced — with
one scoped exception: the two EXTERNAL inputs (``pages_dir`` and the
caller's ``docs`` frame) are the caller's contract. The dedup stage
consumes the live ``docs`` frame, so a resume invoked with a
differently-constructed ``docs`` recomputes missing stages from the NEW
corpus; pass the same inputs (or land ``docs`` to parquet yourself and
read it back) to get byte-exact resume end to end.
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudtrace_exporter_spark.operators import curate, dedup, graph, normalize
from cloudtrace_exporter_spark.runner import AuthContext
from cloudtrace_exporter_spark.sources import cts_pages

STAGES = ("ingest", "events", "graph", "dedup", "curated", "layout")


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _write(df: DataFrame, path: str) -> int:
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path).count()


class _Manifest:
    def __init__(self, out_dir: str) -> None:
        self.path = os.path.join(out_dir, "manifest.json")
        self.stages: dict[str, dict] = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.stages = json.load(f).get("stages", {})

    def record(self, name: str, rows: int, skipped: bool, **extra) -> None:
        self.stages[name] = {"rows": rows, "skipped": skipped, **extra}
        with open(self.path, "w") as f:
            json.dump({"stages": self.stages}, f, indent=2, sort_keys=True)


def _stage(
    spark: SparkSession,
    manifest: _Manifest,
    name: str,
    path: str,
    compute: Callable[[], DataFrame],
    **extra,
) -> int:
    """Run one checkpointed stage: skip (and re-read the recorded count)
    when the parquet _SUCCESS marker exists, else compute → write →
    count from the written bytes (write-audit, not plan-count). The
    session is threaded from run_lifecycle — getActiveSession() can
    return None off the driver thread (advisor r8 find)."""
    t0 = time.monotonic()
    if _done(path):
        rows = spark.read.parquet(path).count()
        manifest.record(
            name, rows, skipped=True, wall_sec=round(time.monotonic() - t0, 3), **extra
        )
        return rows
    rows = _write(compute(), path)
    manifest.record(
        name, rows, skipped=False, wall_sec=round(time.monotonic() - t0, 3), **extra
    )
    return rows


def run_lifecycle(
    spark: SparkSession,
    *,
    pages_dir: str,
    docs: DataFrame,
    out_dir: str,
    ctx: AuthContext,
    overrides: dict[str, str] | None = None,
    en_fraction: float = 0.25,
    lsh_threshold: float = 0.5,
    context_len: int = 2048,
) -> dict:
    """Run (or resume) the full lifecycle; returns the manifest dict.

    ``pages_dir`` is a paged ListTracesResponse landing directory
    (cts_pages layout); ``docs`` is the document corpus frame. Every
    stage's output is parquet under ``out_dir`` — rerunning with the
    same ``out_dir`` skips completed stages.
    """
    os.makedirs(out_dir, exist_ok=True)
    m = _Manifest(out_dir)

    p_ingest = os.path.join(out_dir, "ingest")
    p_events = os.path.join(out_dir, "events")
    p_graph = os.path.join(out_dir, "graph")
    p_dedup = os.path.join(out_dir, "dedup")
    p_curated = os.path.join(out_dir, "curated")
    p_layout = os.path.join(out_dir, "layout")

    _stage(spark, m, "ingest", p_ingest, lambda: cts_pages.read_trace_pages(spark, pages_dir))

    def _events() -> DataFrame:
        traces = spark.read.parquet(p_ingest)
        ev = normalize.normalize_traces(
            traces,
            source=ctx.source,
            region=ctx.region,
            domain=ctx.domain,
            tenant=ctx.tenant,
            overrides=overrides or {},
        )
        return normalize.dedup_events(ev, "event_id")

    _stage(spark, m, "events", p_events, _events)

    # graph: one flat (kind, label, key, props) relation — the idempotent
    # upsert store's audit form (per-label typed stores live in the
    # runner's foreach_batch sink; the lifecycle wants ONE accountable
    # dataset with the same dedup-by-key semantics, A14)
    def _graph() -> DataFrame:
        ev = spark.read.parquet(p_events)
        nodes, edges = graph.build_graph(ev)
        parts = []
        for label, df in nodes.items():
            key_cols = [c for c in df.columns]
            parts.append(
                df.select(
                    F.lit("node").alias("kind"),
                    F.lit(label).alias("label"),
                    F.to_json(F.struct(*key_cols)).alias("element"),
                )
            )
        for rel, df in edges.items():
            parts.append(
                df.select(
                    F.lit("edge").alias("kind"),
                    F.lit(rel).alias("label"),
                    F.to_json(F.struct(*df.columns)).alias("element"),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.dropDuplicates(["kind", "label", "element"])

    _stage(spark, m, "graph", p_graph, _graph)

    def _dedup() -> DataFrame:
        pairs = dedup.minhash_lsh_pairs(docs, threshold=lsh_threshold).select("doc_a", "doc_b")
        assign = dedup.dedup_clusters(docs, pairs=pairs)
        survivors = assign.filter(F.col("doc_id") == F.col("component")).select("doc_id")
        return docs.join(survivors, "doc_id")

    _stage(spark, m, "dedup", p_dedup, _dedup)

    def _curated() -> DataFrame:
        survivors = spark.read.parquet(p_dedup)
        ids = curate.curated_docs(survivors, en_fraction=en_fraction).select("doc_id")
        return survivors.join(ids, "doc_id")

    _stage(spark, m, "curated", p_curated, _curated)

    _stage(
        spark,
        m,
        "layout",
        p_layout,
        lambda: curate.pack_layout(
            spark.read.parquet(p_curated), context_len=context_len
        ),
    )

    return {"stages": m.stages, "out_dir": out_dir}
