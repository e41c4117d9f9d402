"""Structured Streaming re-expression of the reference's ingest loop.

The reference's concurrency model — ticker + 3 goroutines + unbuffered
channels (/root/reference/cmd/cts_exporter/main.go:118-178) — maps onto
Spark's micro-batch engine: the trigger owns the clock (A18), the source
owns pagination (A2), the watermark owns late data (A4), and
``dropDuplicatesWithinWatermark`` owns the at-least-once → effectively-
once upgrade that Neo4j MERGE provided (A14).

Source strategy: a **file micro-batch source** simulating the CTS poll —
the ingest adapter lands raw pages as parquet files into a directory;
``readStream`` picks up new files per trigger. This keeps offsets in the
checkpoint (replayable, exactly-once per key with the dedup below),
which is strictly stronger than the reference's wall-clock-delta
overlap. At production scale the same pipeline runs off Kafka by
swapping ``format``; every transformation below is source-agnostic.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cloudtrace_exporter_spark.schemas import EVENTS_SCHEMA


def read_event_stream(
    spark: SparkSession,
    path: str,
    *,
    max_files_per_trigger: int = 10,
) -> DataFrame:
    """File micro-batch source over landed event pages (A1+A2 analog).

    ``maxFilesPerTrigger`` is the backpressure knob — the analog of the
    reference's page size (``tracesLowerBound=50``,
    /root/reference/pkg/adapter/querier.go:15) but applied per trigger
    instead of per request.
    """
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def read_trace_stream(
    spark: SparkSession,
    path: str,
    *,
    max_files_per_trigger: int = 10,
) -> DataFrame:
    """File micro-batch source over landed TRACE pages — the 100 TB
    ingest posture (reference poll loop:
    /root/reference/pkg/adapter/adapter.go:158-210, landing
    ListTracesResponse pages; here each page is a parquet file on
    object storage). Unlike the Simple-API ``cts_pages`` source, whose
    batches materialize driver-side into the checkpoint WAL, the file
    source plans offsets on the driver but rows flow executor-side
    only — the path a real deployment runs, and the one
    ``tools/streaming_probe.py --source file`` measures."""
    from cloudtrace_exporter_spark.schemas import TRACE_SCHEMA

    return (
        spark.readStream.schema(TRACE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def dedup_within_watermark(
    stream: DataFrame, key: str = "event_id", ts_col: str = "ts", delay: str = "10 minutes"
) -> DataFrame:
    """A4+A14: overlapping at-least-once windows → effectively-once.

    The reference widens each poll window by the previous cycle's lag
    (adapter.go:266-271) and lets Neo4j MERGE absorb the duplicates
    (client.go:10-21). Spark equivalent: bounded state keyed by event id,
    expiring at the watermark — O(keys-in-flight) state, not O(history),
    which is what makes it viable at 100 TB/day.
    """
    return stream.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark([key])


def tumbling_counts(stream: DataFrame, *, size: str = "5 minutes", delay: str = "10 minutes") -> DataFrame:
    """B28 tumbling window + B29 watermark: per-window, per-type counts."""
    return (
        stream.withWatermark("ts", delay)
        .groupBy(F.window("ts", size), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


def sliding_counts(
    stream: DataFrame, *, size: str = "10 minutes", slide: str = "5 minutes", delay: str = "10 minutes"
) -> DataFrame:
    """B27/B28 sliding (overlapping) windows — the direct analog of the
    reference's overlapping poll windows (A3+A4)."""
    return (
        stream.withWatermark("ts", delay)
        .groupBy(F.window("ts", size, slide))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def session_windows(stream: DataFrame, *, gap: str = "5 minutes", delay: str = "10 minutes") -> DataFrame:
    """B28 session windows: per-subject activity bursts closed by a gap."""
    return (
        stream.withWatermark("ts", delay)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("session_value"))
    )


def stateful_running_totals(stream: DataFrame) -> DataFrame:
    """Custom stateful operator (B-III): per-subject running totals across
    micro-batches via ``applyInPandasWithState``.

    The reference has no cross-cycle state at all — every poll recomputes
    its window and the graph absorbs re-deliveries; the only "memory" is
    the wall-clock delta (adapter.go:266-271). This operator adds the
    capability Spark makes natural: arbitrary per-key state that survives
    micro-batches (here: lifetime event count + value sum per user,
    emitted as an update row per key per batch).

    Scale shape: state lives in the state store, partitioned by the group
    key — O(|active keys|) memory per executor, checkpointed
    incrementally. The pandas variant batches state access via Arrow.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events_total", T.LongType()),
            T.StructField("value_total", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("v", T.DoubleType()),
        ]
    )

    def _update(key, pdf_iter, state: GroupState):
        n, v = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            v += float(pdf["value"].sum())
        state.update((n, v))
        yield pd.DataFrame({"user_id": [key[0]], "n_events_total": [n], "value_total": [round(v, 2)]})

    return stream.groupBy("user_id").applyInPandasWithState(
        _update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_stream_interval_join(
    stream: DataFrame,
    *,
    left_type: str = "purchase",
    right_type: str = "error",
    within: str = "30 minutes",
    delay: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join (B-III beyond the reference): correlate
    two event substreams per subject within a time bound — e.g. "errors
    within 30 minutes after a purchase, per user".

    Both sides carry watermarks so the join state is bounded: a left row
    can be dropped once the right watermark passes its interval end, and
    vice versa — the state-cleanup contract that makes stream-stream
    joins viable on unbounded input. The reference's architecture (one
    poll loop, one sink) cannot express this at all.
    """
    left = (
        stream.filter(F.col("event_type") == left_type)
        .select(
            F.col("user_id").alias("l_user"),
            F.col("event_id").alias("left_id"),
            F.col("ts").alias("l_ts"),
        )
        .withWatermark("l_ts", delay)
    )
    right = (
        stream.filter(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("event_id").alias("right_id"),
            F.col("ts").alias("r_ts"),
        )
        .withWatermark("r_ts", delay)
    )
    return left.join(
        right,
        F.expr(
            f"l_user = r_user AND r_ts >= l_ts AND r_ts <= l_ts + INTERVAL {within}"
        ),
    ).select(
        F.col("l_user").alias("user_id"), "left_id", "right_id", "l_ts", "r_ts"
    )


def stream_static_enrich(stream: DataFrame, dim: DataFrame, on: str, how: str = "left") -> DataFrame:
    """B32 stream-static join — dimension enrichment at load time (the graph
    context the reference attaches from the auth client, adapter.go:252-254).
    The static side is re-read per micro-batch; Spark broadcasts it when
    small, so the stream never shuffles."""
    return stream.join(dim, on=on, how=how)


def stateful_running_totals_v2(stream: DataFrame) -> DataFrame:
    """`stateful_running_totals` on the Spark-4 `transformWithStateInPandas`
    processor API: the same per-user lifetime totals, but state is a
    named ``ValueState`` on a processor handle instead of the single
    implicit GroupState blob — the API that scales to multiple state
    variables (value/list/map), TTL, and timers per operator.

    Same scale posture as the v1 operator: state keyed and partitioned
    by user in the state store, O(|active keys|) memory, incremental
    checkpoints; Arrow-batched state access.

    Environment note: the transformWithState protocol speaks protobuf to
    the JVM; in runtimes without the ``protobuf`` package the driver
    worker cannot start (the equivalence test import-skips there) — the
    v1 ``applyInPandasWithState`` operator is the dependency-free path.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events_total", T.LongType()),
            T.StructField("value_total", T.DoubleType()),
        ]
    )

    class TotalsProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", "n LONG, v DOUBLE")

        def handleInputRows(self, key, rows, timerValues):
            n, v = self._totals.get() if self._totals.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                v += float(pdf["value"].sum())
            self._totals.update((n, v))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events_total": [n], "value_total": [round(v, 2)]}
            )

        def close(self) -> None:
            pass

    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=TotalsProcessor(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def stream_assign_cells(
    stream: DataFrame,
    cents: list[tuple[int, list[int]]],
    *,
    scale: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Vector-index serving AT INGEST: assign each streamed embedding to
    its nearest IVF cell with the literal-centroid narrow map
    (similarity._nearest_scaled over the ×``scale``-quantized vector) —
    no join, no state, no shuffle, so it composes with any streaming
    source and writes a cell-partitioned index incrementally (the
    streaming half of build-once/serve-many: batch trains the
    centroids, the stream keeps the index current). ``cents`` and
    ``scale`` are the integer centroid list and quantization scale from
    similarity._scaled_kmeans / load_ivf_index — kilobytes. Emits
    ``(id, v, cell)``, the assigned-table schema of the batch index."""
    from cloudtrace_exporter_spark.operators.similarity import _nearest_scaled, _quantize

    return stream.select(
        F.col(id_col).alias("id"), _quantize(vec_col, scale).alias("v")
    ).withColumn("cell", _nearest_scaled("v", cents))


def stream_lsh_dedup_probe(
    stream_docs: DataFrame,
    index: DataFrame,
    *,
    n_hashes: int = 32,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup screening AT INGEST: each streamed document runs the
    SAME narrow-map MinHash banding as the batch index build
    (dedup.minhash_banded_index — pure select/transform/explode, fully
    stream-composable), then probes the STATIC corpus index with a
    stream-static equi-join on (band, bucket) and keeps matches whose
    signature agreement clears ``threshold``. The streaming half of the
    index-once/probe-forever dedup lifecycle: batch builds (or
    load_lsh-style restores) the banded index, the stream screens new
    documents against it before they enter the corpus.

    Stateless by design (no watermark, no state store): emits
    ``(new_id, corpus_id, est_jaccard)`` in append mode, with pair
    multiplicity up to ``bands`` when a pair collides in several bands —
    consumers that need distinct pairs dedupe downstream (the batch twin
    dropDuplicates; a stream would need dropDuplicatesWithinWatermark,
    i.e. bounded state, which screening doesn't require).
    """
    from pyspark.sql import functions as F

    from cloudtrace_exporter_spark.operators.dedup import _sig_agreement, minhash_banded_index

    probe = minhash_banded_index(
        stream_docs, text_col=text_col, id_col=id_col, n_hashes=n_hashes
    )
    s, c = probe.alias("s"), index.alias("c")
    agree = _sig_agreement(F.col("s.signature"), F.col("c.signature"))
    return (
        s.join(c, (F.col("s.band") == F.col("c.band")) & (F.col("s.bucket") == F.col("c.bucket")))
        .select(
            F.col("s.id").alias("new_id"),
            F.col("c.id").alias("corpus_id"),
            F.round(agree / F.lit(n_hashes), 6).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


def stream_pq_encode(
    stream: DataFrame, books, *, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """PQ-code maintenance AT INGEST: encode each streamed embedding to
    its m sub-quantizer codes with the literal-codebook narrow map
    (similarity._pq_cells_expr) — no join, no state, no shuffle; the
    streaming half of train-once/encode-forever (batch pq_train fits the
    codebooks, the stream keeps the compressed code table current).
    ``books`` is the KB-sized list from pq_train / load_pq_index."""
    from pyspark.sql import functions as F

    from cloudtrace_exporter_spark.operators.similarity import _as_double, _pq_cells_expr

    sub = len(books[0][0])
    return stream.select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("v")
    ).select("id", _pq_cells_expr(books, sub).alias("codes"))


def stream_adc_scores(
    stream: DataFrame,
    books,
    query_rows,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC serving AT INGEST: score every streamed vector against the
    registered queries' precomputed subspace-distance tables. Each
    query's m×k table (||q_sub_j − books[j][cell]||², the same left-fold
    order as pq_topk's ADC table expression, so the doubles are
    bit-identical to the batch pq_topk scores) is computed driver-side
    from the KB-sized codebooks and enters the plan as a literal — encoding plus scoring
    is ONE narrow map with an in-row explode over the query structs: no
    join, no state, no shuffle. ``query_rows`` is [(query_id, vector)].
    Returns (query_id, corpus_id, approx_dist) for every streamed row,
    self-matches included (filter downstream like the batch rank does).
    """
    from pyspark.sql import functions as F

    m = len(books)
    sub = len(books[0][0])
    entries = []
    for qid, qvec in query_rows:
        table = []
        for j in range(m):
            qsub = [float(x) for x in qvec[j * sub : (j + 1) * sub]]
            row = []
            for cent in books[j]:
                acc = 0.0
                for a, b in zip(qsub, cent):
                    d = a - b
                    acc = acc + d * d
                row.append(acc)
            table.append(row)
        tbl = ",".join(
            "array(" + ",".join(repr(x) + "D" for x in row) + ")" for row in table
        )
        entries.append(f"struct(CAST({int(qid)} AS BIGINT) AS query_id, array({tbl}) AS t)")
    qlit = "array(" + ",".join(entries) + ")"
    coded = stream_pq_encode(stream, books, id_col=id_col, vec_col=vec_col)
    dist = F.aggregate(
        F.zip_with("codes", F.col("q.t"), lambda code, trow: F.element_at(trow, code + 1)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return coded.select(
        F.col("id").alias("corpus_id"), F.explode(F.expr(qlit)).alias("q"), "codes"
    ).select(
        F.col("q.query_id").alias("query_id"),
        "corpus_id",
        F.round(dist, 6).alias("approx_dist"),
    )


def stream_score_bm25(
    stream_docs: DataFrame,
    queries: list[tuple[int, str]],
    stats,
    *,
    min_score: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 percolation AT INGEST (the Elasticsearch percolator shape):
    every streamed document is scored against the STANDING query set
    under corpus statistics frozen by ``text.bm25_corpus_stats`` — idf
    and avgdl are literals, per-term tf comes from the row's own token
    array, so scoring is ONE narrow map per (doc × standing query): no
    join, no state, no shuffle, composes with any streaming source.
    The serving half of BM25's index-once/score-forever lifecycle:
    ``text.bm25_topk`` is the batch/backfill path over the live corpus,
    this routes new documents to matching standing queries (alerting /
    topic-feed routing) as they arrive. Emits (doc_id, query_id, score >
    ``min_score``); refresh the stats snapshot on the batch side's
    cadence, exactly like re-training IVF centroids or PQ codebooks.
    """
    from pyspark.sql import functions as F

    from cloudtrace_exporter_spark.operators import text as _text

    toks = _text.tokens(text_col)
    base = stream_docs.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("__t"),
        _text.token_count(text_col).alias("__dl"),
    )
    per_query = [
        F.struct(
            F.lit(qid).alias("query_id"),
            F.round(
                _text.bm25_score_expr(
                    F.col("__t"),
                    F.col("__dl").cast("double"),
                    [t for t in qtext.split(" ") if t],
                    stats,
                    k1=k1,
                    b=b,
                ),
                4,
            ).alias("score"),
        )
        for qid, qtext in queries
    ]
    return (
        base.select("doc_id", F.explode(F.array(*per_query)).alias("q"))
        .select("doc_id", F.col("q.query_id").alias("query_id"), F.col("q.score").alias("score"))
        .filter(F.col("score") > min_score)
    )


def stateful_kmv_distinct(
    stream: DataFrame,
    *,
    k: int = 32,
    group_col: str = "event_type",
    key_col: str = "user_id",
) -> DataFrame:
    """Streaming SKETCH state: a per-group KMV distinct-count sketch
    held IN THE STATE STORE (``applyInPandasWithState``) and updated
    every micro-batch — the stateful-operator formulation of what
    `test_streaming_kmv_state_merge_matches_batch_sketch` builds by
    hand with foreachBatch + kmv_merge. The state is the k smallest
    md5-prefix hashes (bounded: ≤k longs per group, the mergeable KMV
    property made incremental); each batch emits the group's current
    estimate. Exactly the same hash family as `analytics.kmv_state`,
    so the drained stream's final state equals the one-pass batch
    sketch bit for bit.

    Scale shape: state is O(k · |groups|) — constant per group however
    many events stream through; checkpointed incrementally; Arrow-
    batched state access. This is how a 100 TB ingest keeps live
    distinct-cardinality without ever re-scanning history.
    """
    import hashlib

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("grp", T.StringType()),
            T.StructField("n_sketch", T.LongType()),
            T.StructField("kmv_estimate", T.DoubleType()),
        ]
    )
    state_schema = T.StructType([T.StructField("hv", T.ArrayType(T.LongType()))])

    def _update(key, pdf_iter, state: GroupState):
        cur = set(state.get[0]) if state.exists else set()
        for pdf in pdf_iter:
            # NULL keys arrive as NaN in the Arrow batch; count-distinct
            # semantics ignore NULL (and int(NaN) raises — streaming
            # fuzz r9 find: one NULL user_id killed the whole query)
            for v in pdf[key_col].dropna():
                h = int(hashlib.md5(str(int(v)).encode()).hexdigest()[:12], 16)
                cur.add(h)
        best = sorted(cur)[:k]
        state.update((best,))
        n = len(best)
        est = float(n) if n < k else round((k - 1) * float(1 << 48) / best[-1], 1)
        yield pd.DataFrame(
            {"grp": [key[0]], "n_sketch": [n], "kmv_estimate": [est]}
        )

    return stream.groupBy(group_col).applyInPandasWithState(
        _update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stateful_heavy_hitters(
    stream: DataFrame,
    *,
    capacity: int = 8,
    group_col: str = "event_type",
    key_col: str = "user_id",
) -> DataFrame:
    """Streaming HEAVY HITTERS per group: a Misra–Gries summary (the
    deterministic frequent-items sketch) held in the state store —
    every key with true frequency > n/capacity is GUARANTEED present,
    and every estimate undercounts by at most n/capacity (the classic
    bound; the state-store twin of the batch `analytics.heavy_hitters`
    support-threshold scan). Batches pre-aggregate to per-key counts in
    pandas, then merge into the bounded counter table with the weighted
    MG update (insert / add / spill-min), so per-batch work is
    O(distinct keys), never O(rows).

    Scale shape: state is ≤``capacity`` (key, count) pairs per group —
    constant memory however much streams through; update order within a
    batch is pinned (sorted keys) so a drained run is reproducible.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("grp", T.StringType()),
            T.StructField("key", T.LongType()),
            T.StructField("est_count", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("keys", T.ArrayType(T.LongType())),
            T.StructField("counts", T.ArrayType(T.LongType())),
        ]
    )

    def _update(key, pdf_iter, state: GroupState):
        if state.exists:
            ks, cs = state.get
            counters = dict(zip(ks, cs))
        else:
            counters = {}
        batch: dict[int, int] = {}
        for pdf in pdf_iter:
            for k, c in pdf[key_col].value_counts().items():
                batch[int(k)] = batch.get(int(k), 0) + int(c)
        for bk in sorted(batch):
            w = batch[bk]
            if bk in counters:
                counters[bk] += w
                continue
            if len(counters) < capacity:
                counters[bk] = w
                continue
            # weighted spill: drain min(w, current minimum) from every
            # counter and the incoming weight, drop zeros, retry insert
            while w > 0:
                m = min(counters.values())
                d = min(w, m)
                w -= d
                counters = {k2: c2 - d for k2, c2 in counters.items() if c2 - d > 0}
                if len(counters) < capacity and w > 0:
                    counters[bk] = w
                    w = 0
        items = sorted(counters.items())
        state.update(([k2 for k2, _ in items], [c2 for _, c2 in items]))
        yield pd.DataFrame(
            {
                "grp": [key[0]] * len(items),
                "key": [k2 for k2, _ in items],
                "est_count": [c2 for _, c2 in items],
            }
        )

    return stream.groupBy(group_col).applyInPandasWithState(
        _update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stateful_histogram_quantiles(
    stream: DataFrame,
    *,
    bin_width: float = 50.0,
    quantiles: tuple[float, ...] = (0.5, 0.95),
    group_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Streaming QUANTILES per group: a fixed-width histogram held in
    the state store, updated per micro-batch, emitting
    lower-bin-boundary quantile estimates — the third leg of the
    streaming-sketch family (KMV = distinct, Misra–Gries = frequent,
    histogram = distribution), and the state-store twin of the batch
    `analytics.histogram_percentiles` verified path. Estimates carry
    the histogram contract: exact rank selection over bins, value
    resolution = bin_width (never interpolated — the
    t-digest-vs-histogram trade made deterministic).

    Scale shape: state is a dict of (bin → count) — bounded by the
    value range / bin_width per group; per-batch work is one pandas
    floor-div + value_counts, O(distinct bins) merged.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_fields = [T.StructField("grp", T.StringType()), T.StructField("n", T.LongType())]
    for q in quantiles:
        out_fields.append(T.StructField(f"p{int(q * 100)}", T.DoubleType()))
    out_schema = T.StructType(out_fields)
    state_schema = T.StructType(
        [
            T.StructField("bins", T.ArrayType(T.LongType())),
            T.StructField("counts", T.ArrayType(T.LongType())),
        ]
    )

    def _update(key, pdf_iter, state: GroupState):
        import math

        if state.exists:
            bs, cs = state.get
            hist = dict(zip(bs, cs))
        else:
            hist = {}
        for pdf in pdf_iter:
            # NULL values arrive as NaN; a distribution has no bin for
            # NULL (math.floor(NaN) raises — streaming fuzz r9 find:
            # one NULL value killed the whole query)
            binned = (pdf[value_col].dropna() / bin_width).map(math.floor)
            for b, c in binned.value_counts().items():
                hist[int(b)] = hist.get(int(b), 0) + int(c)
        items = sorted(hist.items())
        state.update(([b for b, _ in items], [c for _, c in items]))
        n = sum(hist.values())
        row = {"grp": [key[0]], "n": [n]}
        for q in quantiles:
            target = max(1, math.ceil(q * n))
            acc = 0
            est = None
            for b, c in items:
                acc += c
                if acc >= target:
                    est = b * bin_width
                    break
            row[f"p{int(q * 100)}"] = [est]
        yield pd.DataFrame(row)

    return stream.groupBy(group_col).applyInPandasWithState(
        _update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_stream_outer_join(
    stream: DataFrame,
    *,
    left_type: str = "purchase",
    right_type: str = "error",
    within: str = "30 minutes",
    delay: str = "1 minute",
) -> DataFrame:
    """LEFT OUTER stream-stream interval join — the "purchases with NO
    error within 30 minutes" readout the inner join above cannot give.
    Outer results are the part that makes this a genuinely stateful
    operator: an unmatched left row cannot be emitted when it arrives
    (its match may still come), so it sits in the state store until the
    RIGHT watermark passes its interval end, then flushes with NULL
    right columns. Both watermarks plus the interval condition are
    REQUIRED by Spark for exactly this reason — they bound how long a
    row can wait, which bounds state.

    State size: O(rows inside the watermark horizon) per side; the
    delay knob trades outer-result latency against reordering
    tolerance. Emission timing is watermark-driven, so a just-arrived
    unmatched row is NOT in the output yet — readers of the memory-sink
    tests compare against the batch anti-join only up to the final
    watermark.
    """
    left = (
        stream.filter(F.col("event_type") == left_type)
        .select(
            F.col("user_id").alias("l_user"),
            F.col("event_id").alias("left_id"),
            F.col("ts").alias("l_ts"),
        )
        .withWatermark("l_ts", delay)
    )
    right = (
        stream.filter(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("event_id").alias("right_id"),
            F.col("ts").alias("r_ts"),
        )
        .withWatermark("r_ts", delay)
    )
    return left.join(
        right,
        F.expr(
            f"l_user = r_user AND r_ts >= l_ts AND r_ts <= l_ts + INTERVAL {within}"
        ),
        "leftOuter",
    ).select(
        F.col("l_user").alias("user_id"), "left_id", "right_id", "l_ts", "r_ts"
    )


def semdedup_stream_index(
    corpus: DataFrame,
    *,
    n_centroids: int = 8,
    lloyd_iters: int = 2,
    scale: int = 10**3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """One-time batch prep for ``stream_semdedup``: train the integer
    k-means centroids on the CORPUS (similarity._scaled_kmeans — the
    same trainer the batch semdedup_incremental uses, so cell
    assignments agree bit-for-bit) and materialize the quantized,
    cell-keyed corpus index (id, v, cell, n2). Returns (index_df,
    cents); cents is the KB-sized literal list that rides into the
    stream's narrow assignment map — the "centroids broadcast" half of
    the serving posture."""
    from cloudtrace_exporter_spark.operators.similarity import _scaled_kmeans
    from cloudtrace_exporter_spark.session import cache_once

    assigned, cents = _scaled_kmeans(
        corpus,
        n_centroids=n_centroids,
        lloyd_iters=lloyd_iters,
        scale=scale,
        id_col=id_col,
        vec_col=vec_col,
    )
    self_dot = F.aggregate(
        F.zip_with("v", "v", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return cache_once(assigned.withColumn("n2", self_dot)), cents


def stream_semdedup(
    stream: DataFrame,
    corpus_index: DataFrame,
    cents,
    *,
    tau_num: int = 95,
    tau_den: int = 100,
    scale: int = 10**3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """STREAMING semantic dedup (round 11, r10 verdict order #6): the
    reference's core loop (stream → dedup → sink) for the embedding
    tier. Each streamed vector is (a) assigned to its corpus-trained
    cell by the literal-centroid narrow map (no shuffle), (b) checked
    against the STATIC corpus index of its cell via one stream-static
    left join (the exact BIGINT ε-test on every candidate), and (c) run
    through a per-cell ``applyInPandasWithState`` operator whose state
    holds the KEPT stream vectors of that cell — the "seen-component
    keys in the state store", living on whichever state tier
    (heap/RocksDB) the session selects.

    Micro-batch semantics — the sequential fold of the batch operator:
    batch N is processed exactly like ``similarity.semdedup_incremental
    (batch_N, corpus ∪ kept-so-far)`` with centroids PINNED to the
    original corpus training (serving posture — no retrain per batch):

    - ε-link to a corpus vector OR to a previously-KEPT stream vector →
      ``corpus_dup`` (a kept stream vector has joined the corpus, the
      single-pass steady-state contract of the batch twin);
    - within-batch survivor ε-graph collapses via union-find (the same
      min-id components connected_components computes) → min id
      ``kept``, the rest ``batch_dup``;
    - kept vectors append to the cell's state.

    State is O(kept vectors per cell) — the post-dedup density, not the
    stream volume; Arrow-batched access; checkpointed incrementally on
    either tier. Output: (vec_id, cell, component, status) per streamed
    vector, exactly the batch operator's schema.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from cloudtrace_exporter_spark.operators.similarity import (
        _nearest_scaled,
        _quantize,
    )

    qvec = _quantize(vec_col, scale)
    self_dot = F.aggregate(
        F.zip_with("v", "v", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    s = (
        stream.select(F.col(id_col).alias("id"), qvec.alias("v"))
        .withColumn("cell", _nearest_scaled("v", cents))
        .withColumn("n2", self_dot)
    )
    c = corpus_index.select(
        F.col("cell"),
        F.col("id").alias("cid"),
        F.col("v").alias("cv"),
        F.col("n2").alias("cn2"),
    )
    joined = s.join(c, "cell", "left")

    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("cell", T.LongType()),
            T.StructField("component", T.LongType()),
            T.StructField("status", T.StringType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("ids", T.ArrayType(T.LongType())),
            T.StructField("flat", T.ArrayType(T.LongType())),
            T.StructField("n2s", T.ArrayType(T.LongType())),
        ]
    )
    tn2, td2 = tau_num * tau_num, tau_den * tau_den

    def _eps(va, na, vb, nb) -> bool:
        d = sum(int(x) * int(y) for x, y in zip(va, vb))
        return d >= 0 and d * d * td2 >= tn2 * int(na) * int(nb)

    def _update(key, pdf_iter, state: GroupState):
        cell = int(key[0])
        rows: dict[int, tuple[list[int], int]] = {}
        corpus_linked: set[int] = set()
        for pdf in pdf_iter:
            for r in pdf.itertuples():
                vid = int(r.id)
                if vid not in rows:
                    rows[vid] = ([int(x) for x in r.v], int(r.n2))
                if r.cid is not None and not pd.isna(r.cid):
                    v, n2 = rows[vid]
                    if _eps(v, n2, r.cv, r.cn2):
                        corpus_linked.add(vid)
        kept_ids, flat, n2s = (
            (list(state.get[0]), list(state.get[1]), list(state.get[2]))
            if state.exists
            else ([], [], [])
        )
        dim = len(next(iter(rows.values()))[0]) if rows else 0
        kept_vs = [flat[i * dim : (i + 1) * dim] for i in range(len(kept_ids))]
        out = []
        survivors: list[int] = []
        for vid in sorted(rows):
            v, n2 = rows[vid]
            if vid in corpus_linked or any(
                _eps(v, n2, kv, kn) for kv, kn in zip(kept_vs, n2s)
            ):
                out.append((vid, cell, vid, "corpus_dup"))
            else:
                survivors.append(vid)
        # union-find over the survivors' ε-pairs — the same min-id
        # components the batch operator's connected_components emits
        parent = {v: v for v in survivors}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for i, a in enumerate(survivors):
            va, na = rows[a]
            for b in survivors[i + 1 :]:
                vb, nb = rows[b]
                if _eps(va, na, vb, nb):
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
        for vid in survivors:
            root = find(vid)
            if root == vid:
                out.append((vid, cell, vid, "kept"))
                kept_ids.append(vid)
                flat.extend(rows[vid][0])
                n2s.append(rows[vid][1])
            else:
                out.append((vid, cell, root, "batch_dup"))
        state.update((kept_ids, flat, n2s))
        if out:
            out.sort()
            yield pd.DataFrame(
                out, columns=["vec_id", "cell", "component", "status"]
            )

    return joined.groupBy("cell").applyInPandasWithState(
        _update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


# ---------------------------------------------------------------------------
# Streaming Bloom-filter dedup (round 11)
# ---------------------------------------------------------------------------


def bloom_dedup_foreach_batch(
    spark: SparkSession,
    state: dict,
    *,
    m_bits: int = 1 << 20,
    k: int = 4,
    key_col: str = "text",
    id_col: str = "doc_id",
    on_batch=None,
):
    """foreachBatch body for STREAMING Bloom dedup — the reference's
    core loop (stream → dedup → sink) over the bounded-memory membership
    tier (`dedup.bloom_build`/`bloom_probe`): the whole "seen" side is
    an O(m_bits/32)-word filter held in ``state["words"]`` on the
    driver (a few KB at the test posture, ~256 MB at the 10¹⁰-key/1% FP
    production posture), NOT per-key state — the posture for streams
    whose exact key state outgrows any state store.

    Sequential-fold semantics per micro-batch, each step exactly the
    committed batch operators:

    1. intra-batch exact dedup on the key (min id survives) — the rest
       ``batch_dup``;
    2. survivors probed against the filter (`bloom_probe`, one
       broadcast join against a literal LocalRelation of the words) —
       hits are ``filter_dup`` (maybe-seen: zero false negatives, the
       bounded FP rate may drop a novel row, the documented trade);
    3. misses are ``kept``; their keys' positions OR into the filter
       (`bloom_build` on the kept rows, collected — ≤ m_bits/32 rows,
       bounded metadata like the filter itself).

    ``on_batch(batch_id, rows)`` receives the per-row verdicts
    [(id, status), ...] for sinking/ack accounting (the A13 counter
    discipline). Restart note: the filter lives with the caller, not
    the checkpoint — production persists ``state["words"]`` per batch
    (a parquet snapshot of the words frame; `bloom_merge` makes
    snapshots composable) and reloads it before restart, accepting
    at-least-once re-inserts (idempotent: OR-ing a key twice is a
    no-op), which preserves zero-false-negative dedup across restarts.
    """
    from pyspark.sql.window import Window

    from cloudtrace_exporter_spark.operators import dedup as _dedup

    if m_bits % 32 != 0:
        raise ValueError("m_bits must be a multiple of 32")
    state.setdefault("words", {})

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.select(
            F.col(id_col).alias("id"), F.col(key_col).cast("string").alias("key")
        )
        # 1. intra-batch exact dedup (min id per key)
        ranked = rows.withColumn(
            "rk", F.row_number().over(Window.partitionBy("key").orderBy("id"))
        )
        survivors = ranked.filter(F.col("rk") == 1).select("id", "key")
        batch_dups = ranked.filter(F.col("rk") > 1).select("id")
        # 2. probe survivors against the driver-held filter
        flt = spark.createDataFrame(
            list(state["words"].items()) or [], "word_idx long, word long"
        )
        probed = _dedup.bloom_probe(
            survivors, flt, key_col="key", id_col="id", m_bits=m_bits, k=k
        )
        verdicts = (
            survivors.join(probed, "id")
            .select(
                "id",
                "key",
                F.when(F.col("bloom_hit"), F.lit("filter_dup"))
                .otherwise(F.lit("kept"))
                .alias("status"),
            )
            .persist()  # consumed twice (filter delta + sink); batch-scoped
        )
        # 3. fold kept keys into the filter DISTRIBUTED: only the
        # <= m_bits/32-row word delta ever reaches the driver — batch
        # rows never do, whatever the batch size
        add = _dedup.bloom_build(
            verdicts.filter(F.col("status") == "kept"),
            key_col="key",
            m_bits=m_bits,
            k=k,
        ).collect()
        w = state["words"]
        for r in add:
            w[r["word_idx"]] = w.get(r["word_idx"], 0) | r["word"]
        if on_batch is not None:
            # the caller sinks the DISTRIBUTED verdict frame (id, status)
            # synchronously (foreachBatch contract) — it is unpersisted
            # when this returns
            on_batch(
                batch_id,
                verdicts.select("id", "status").unionByName(
                    batch_dups.select("id", F.lit("batch_dup").alias("status"))
                ),
            )
        verdicts.unpersist()

    return _fn


def stream_bloom_dedup(
    stream: DataFrame,
    checkpoint: str,
    *,
    m_bits: int = 1 << 20,
    k: int = 4,
    key_col: str = "text",
    id_col: str = "doc_id",
    state: dict | None = None,
    on_batch=None,
):
    """Start the streaming Bloom-dedup pipeline: ``stream`` →
    :func:`bloom_dedup_foreach_batch` → caller's sink callback. Returns
    (StreamingQuery, state); ``state["words"]`` is the live filter —
    pass it back in to warm-start after a restart (or seed it from a
    collected `dedup.bloom_build` over an existing corpus)."""
    state = state if state is not None else {}
    fn = bloom_dedup_foreach_batch(
        stream.sparkSession,
        state,
        m_bits=m_bits,
        k=k,
        key_col=key_col,
        id_col=id_col,
        on_batch=on_batch,
    )
    q = (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    return q, state


def _read_prior_partitions(spark: SparkSession, index_dir: str, batch_id: int):
    """Load the ``batch_id=N`` parquet partitions of an accumulating
    streaming index with N < ``batch_id`` (a replayed batch must never
    probe its own rows), or None when no prior partition exists.
    Per-entry parse: one stray non-numeric dir must not silently empty
    the index (that would re-admit every seen duplicate). A MinHash
    index whose ``bucket`` is not a string raises ``ValueError`` naming
    ``index_dir``."""
    import os

    try:
        entries = os.listdir(index_dir)
    except FileNotFoundError:
        entries = []
    parts = []
    for p in entries:
        if not p.startswith("batch_id="):
            continue
        try:
            if int(p.split("=", 1)[1]) < batch_id:
                parts.append(p)
        except ValueError:
            continue
    if not parts:
        return None
    prior = (
        spark.read.option("basePath", index_dir)
        .parquet(*[f"{index_dir}/{p}" for p in parts])
        .drop("batch_id")
    )
    if "bucket" in prior.columns:  # a MinHash index (the phash one has none)
        from cloudtrace_exporter_spark.operators.dedup import _require_string_bucket

        _require_string_bucket(prior, index_dir)
    return prior


def minhash_dedup_foreach_batch(
    spark: SparkSession,
    index_dir: str,
    *,
    n_hashes: int = 32,
    bands: int = 8,
    shingle: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    on_batch=None,
):
    """foreachBatch body for STREAMING near-dup dedup (round 11) — the
    MinHash tier of the stream → dedup → sink triad (exact tier:
    `bloom_dedup_foreach_batch`; semantic tier: `stream_semdedup`).
    Each micro-batch runs EXACTLY the committed batch operator
    ``dedup.minhash_dedup_incremental`` against the accumulated banded
    index, so the stream is by construction the sequential fold of the
    batch semantics (the parity the streaming tests replay):

    1. batch docs → banded signatures → bucket-probe the index →
       ``corpus_dup`` on est_jaccard ≥ threshold;
    2. surviving batch pairs collapse via connected components →
       min-id ``kept``, rest ``batch_dup``;
    3. the KEPT docs' banded rows append to the index as the
       ``batch_id=N`` partition of ``index_dir``.

    State posture — unlike the Bloom tier (driver-held words) or the
    semantic tier (state store), the "seen" side here is the banded
    parquet index itself, the same build-once artifact the batch
    lifecycle persists (`save_minhash_index`): distributed, shared
    with batch consumers, unbounded in keys without driver or
    state-store growth. Per-batch cost is the bucket join against the
    index scan (partition-pruned to prior batches), never a rebuild.

    Exactly-once: the per-batch write is ``overwrite`` into its OWN
    ``batch_id=N`` subdirectory, so a replayed batch rewrites the same
    partition (idempotent); the index read excludes partitions ≥ the
    current batch id, so a replay never probes its own kept rows.
    Warm-start from an existing corpus: write the corpus's banded index
    (same n_hashes/bands/shingle) into ``batch_id=-1`` before
    starting the stream.
    """
    from cloudtrace_exporter_spark.operators import dedup as _dedup

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        idx = _read_prior_partitions(spark, index_dir, batch_id)
        # build + persist the batch's banded index HERE and hand it to
        # the operator (new_index=) so this body owns the cache
        # lifecycle: a long-running stream must release each batch's
        # cache (an operator-internal cache_once would accumulate one
        # entry per micro-batch, observed as storage-eviction churn in
        # the 1M-doc probe), and the persisted frame serves the index
        # write too — no second signature build over the batch
        nb = _dedup.minhash_banded_index(
            batch_df, text_col=text_col, id_col=id_col,
            n_hashes=n_hashes, bands=bands, shingle=shingle,
        ).persist()
        if idx is None:
            idx = nb.limit(0)
        verdicts = _dedup.minhash_dedup_incremental(
            None,
            corpus_index=idx,
            new_index=nb,
            text_col=text_col,
            id_col=id_col,
            n_hashes=n_hashes,
            bands=bands,
            shingle=shingle,
            threshold=threshold,
        ).persist()
        kept = (
            verdicts.filter(F.col("status") == "kept")
            .select(F.col(id_col).alias("id"))
        )
        nb.join(kept, "id").write.mode("overwrite").parquet(
            f"{index_dir}/batch_id={batch_id}"
        )
        if on_batch is not None:
            on_batch(batch_id, verdicts)
        verdicts.unpersist()
        nb.unpersist()

    return _fn


def stream_minhash_dedup(
    stream: DataFrame,
    checkpoint: str,
    index_dir: str,
    *,
    n_hashes: int = 32,
    bands: int = 8,
    shingle: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    on_batch=None,
):
    """Start the streaming near-dup pipeline: ``stream`` →
    :func:`minhash_dedup_foreach_batch` → caller's sink callback.
    Returns the StreamingQuery; the accumulated banded index lives at
    ``index_dir`` (partitioned by batch_id) and doubles as the
    batch-side `load_minhash_index` artifact."""
    fn = minhash_dedup_foreach_batch(
        stream.sparkSession,
        index_dir,
        n_hashes=n_hashes,
        bands=bands,
        shingle=shingle,
        threshold=threshold,
        text_col=text_col,
        id_col=id_col,
        on_batch=on_batch,
    )
    return (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_semantic_contamination(
    stream: DataFrame,
    checkpoint: str,
    ev_cells: DataFrame,
    cents,
    *,
    tau_num: int = 95,
    tau_den: int = 100,
    scale: int = 10**3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    on_batch=None,
):
    """STREAMING decontamination screen (round 11): every corpus vector
    is checked against the eval benchmark AT INGEST — before it ever
    joins the training set — with EXACTLY the batch rule of
    `similarity.semantic_contamination` (a streamed vector is flagged
    iff some eval vector whose n_probe cells include the vector's cell
    passes the BIGINT ε-test).

    Prep once with `similarity.semantic_contam_index(corpus, eval_set)`
    (cells trained on the existing corpus, eval probe table built);
    per micro-batch the body is stateless and narrow: literal-centroid
    cell assignment (no shuffle), one broadcast join against the probe
    table, per-vector verdict aggregate — batch-local, no state store,
    so statuses are independent of batching (screening, not dedup:
    verdicts depend only on the static eval side, making the
    stream trivially the fold of the batch operator).

    ``on_batch(batch_id, verdicts)`` receives the per-vector
    (vec_id, status, eval_hits, first_eval) frame, the batch operator's
    exact schema.
    """
    from cloudtrace_exporter_spark.operators.similarity import (
        _contam_verdicts,
        _nearest_scaled,
        _quantize,
        _self_dot_long,
    )

    qvec = _quantize(vec_col, scale)

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        corp = (
            batch_df.select(F.col(id_col).alias("id"), qvec.alias("v"))
            .withColumn("cell", _nearest_scaled("v", cents))
            .withColumn("n2", _self_dot_long())
        )
        verdicts = _contam_verdicts(corp, ev_cells, tau_num=tau_num, tau_den=tau_den)
        if on_batch is not None:
            on_batch(batch_id, verdicts)

    return (
        stream.writeStream.foreachBatch(_fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_phash_dedup(
    stream: DataFrame,
    checkpoint: str,
    index_dir: str,
    *,
    max_hamming: int = 4,
    hash_col: str = "ahash",
    hasher=None,
    on_batch=None,
):
    """STREAMING visual near-dup dedup (round 11): the image tier of
    the stream → dedup → sink family — binary payloads arrive, are
    perceptual-hashed (Arrow-batched mapInPandas, the committed
    multimodal decode path), probed against the accumulated hash index,
    and deduped with EXACTLY the batch operator
    ``multimodal.phash_dedup_incremental`` per micro-batch (statuses
    kept/corpus_dup/batch_dup, within-batch pigeonhole pairs collapsed
    via CC). Kept images' (doc_id, hash) rows append to ``index_dir``
    as the ``batch_id=N`` parquet partition — the same
    exactly-once/warm-start contract as `stream_minhash_dedup` (replay
    overwrites its own partition and never probes its own rows; seed a
    corpus as ``batch_id=-1``). The index stores RAW 64-bit hashes (one
    row per kept image — bands are recomputed by the narrow explode at
    probe time), so it doubles as the corpus-hash artifact batch
    consumers feed to `phash_near_dups`.

    ``hasher`` maps the raw batch frame to (doc_id, ``hash_col``) —
    default `multimodal.perceptual_hash` (BMP payloads); pass your own
    for other codecs, or ``hasher=lambda df: df`` when the stream
    already carries hashes.
    """
    from cloudtrace_exporter_spark.operators import multimodal as _mm

    spark = stream.sparkSession
    h_fn = hasher if hasher is not None else _mm.perceptual_hash

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        # persist: the hash frame feeds both the verdict join and the
        # index write — without it the (mapInPandas) decode runs twice
        # over the full batch
        hdf = h_fn(batch_df).select("doc_id", hash_col).persist()
        prior = _read_prior_partitions(spark, index_dir, batch_id)
        if prior is None:
            prior = hdf.limit(0)
        verdicts = _mm.phash_dedup_incremental(
            hdf, prior, max_hamming=max_hamming, hash_col=hash_col, _cache=False
        ).persist()
        kept = verdicts.filter(F.col("status") == "kept").select("doc_id")
        hdf.join(kept, "doc_id").write.mode("overwrite").parquet(
            f"{index_dir}/batch_id={batch_id}"
        )
        if on_batch is not None:
            on_batch(batch_id, verdicts)
        verdicts.unpersist()
        hdf.unpersist()

    return (
        stream.writeStream.foreachBatch(_fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
