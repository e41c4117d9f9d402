"""Streaming differential fuzzing (round-9 verdict item #1).

The batch surface has randomized differential evidence
(test_fuzz_differential.py: 5 waves, 119 families, 23 finds in round 8);
streaming (B26-B32) had only fixed-fixture unit tests — yet the
reference's actual core loop IS streaming (the ticker poll pipeline,
``/root/reference/pkg/adapter/adapter.go:158-210``). This wave feeds
SEEDED ADVERSARIAL event-time corpora through the streaming operators
via the file source in Trigger.AvailableNow drain mode and asserts the
streamed result equals a batch twin computed on the SAME parquet bytes:

- out-of-order bursts: rows are assigned to micro-batch files at RANDOM,
  so event time regresses wildly across batches,
- watermark-boundary ties: timestamps exactly on 5-minute window
  boundaries, at session-gap edges, and at the 999999-microsecond edge,
- pre-epoch rows (before the corpus' base day) mixed into late batches,
- duplicate event_ids straddling micro-batch boundaries (the
  at-least-once → effectively-once axis, A4/A14),
- NULL user_id / event_type / value at low rates (the NULL-key grouping
  and NULL-sum axes that found 23 batch-side divergences in r8),
- unicode / empty event types; single-file and single-row corpora
  (seed 0 is pinned degenerate).

Two assertion classes:

1. EQUALITY families (watermark delay ≫ corpus span, so nothing is ever
   late): multi-batch state — dedup state, window panes, session merge,
   applyInPandasWithState accumulators, join buffers — must reproduce
   the batch twin EXACTLY row for row. Any divergence is an engine-state
   bug, not watermark semantics.
2. WATERMARK-MODEL families (finite delay): the expected output is an
   explicit Python replay of the documented watermark contract over the
   per-file batch sequence (maxFilesPerTrigger=1, strictly increasing
   mtimes pin file→batch order). The drop/emit convention is asserted
   against a pinned probe corpus first, so a Spark behavior change fails
   loudly in the probe, not mysteriously in the fuzz.

Float discipline: streamed pandas folds use Python ``round``
(banker's) while batch twins use ``F.round`` (HALF_UP) — so all fuzzed
``value`` doubles are multiples of 1/4 (two exact decimal digits),
making every sum exactly representable and both roundings the identity.
The dyadic-pool rationale is the same as the batch harness'.
"""

from __future__ import annotations

import importlib.util
import math
import os
import random
from datetime import datetime, timedelta
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from cloudtrace_exporter_spark.streaming import (
    dedup_within_watermark,
    read_event_stream,
    session_windows,
    sliding_counts,
    stateful_running_totals,
    stream_static_enrich,
    stream_stream_interval_join,
    tumbling_counts,
)
from cloudtrace_exporter_spark.streaming.pipeline import (
    stateful_heavy_hitters,
    stateful_histogram_quantiles,
    stateful_kmv_distinct,
    stream_stream_outer_join,
)

_spec = importlib.util.spec_from_file_location(
    "oracle_check", "/root/repo/tools/oracle_check.py"
)
_oc = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_oc)

SEEDS_W6 = int(os.environ.get("SPARK_GRAFT_FUZZ_SEEDS_W6", "4"))

#: a delay far beyond any corpus span: nothing is ever late, so the
#: streamed result must EQUAL the batch twin while state still crosses
#: micro-batches
_NEVER_LATE = "3650 days"

_BASE = datetime(2024, 3, 1)

_TYPES = ["purchase", "error", "view", "καιρός", "北京", "", "purchase "]


def _qvalue(rng: random.Random) -> float | None:
    """NULL @10%, else a multiple of 0.25 in [-100, 100] (exact sums,
    round(x, 2) identity on both engines/runtimes)."""
    if rng.random() < 0.10:
        return None
    return rng.randint(-400, 400) / 4.0


def _qts(rng: random.Random) -> datetime:
    """Event times engineered around 5-minute pane boundaries: exact
    boundary hits, 1-microsecond-before-boundary, the 999999 edge, plus
    uniform jitter; ~8% land BEFORE the base day (pre-epoch regime)."""
    day_off = -rng.randint(1, 3) if rng.random() < 0.08 else rng.randint(0, 1)
    pane = rng.randint(0, 24) * 300  # a 5-min boundary within ~2h
    r = rng.random()
    if r < 0.25:
        micro = 0  # exactly ON the boundary
    elif r < 0.35:
        return _BASE + timedelta(
            days=day_off, seconds=pane - 1 if pane else 0, microseconds=999999
        )
    else:
        micro = rng.choice([0, 123456, 999999])
        pane += rng.randint(0, 299)
    return _BASE + timedelta(days=day_off, seconds=pane, microseconds=micro)


def _gen_stream_corpus(seed: int, root: Path) -> tuple[str, list[list[dict]]]:
    """Seeded adversarial event corpus written as N parquet files with
    STRICTLY INCREASING mtimes (file→micro-batch order is pinned for
    maxFilesPerTrigger=1 runs). Rows are dealt to files at RANDOM, so
    arrival order is violently out-of-order in event time. Returns
    (dir, per-file row dicts) so watermark-model families can replay the
    exact batch sequence in Python."""
    d = root / f"stream_seed{seed}"
    rng = random.Random(seed * 7_777_777 + 3)
    if seed == 0:
        n, n_files = 3, 2  # pinned degenerate: 3 rows over 2 batches
    else:
        n = rng.randint(40, 220)
        n_files = rng.randint(3, 6)
    users = [1, 2, 3, 4, 5, 2**40 + 7]
    rows = []
    for i in range(n):
        rows.append(
            {
                "event_id": i,
                "ts": _qts(rng),
                "user_id": None if rng.random() < 0.06 else rng.choice(users),
                "event_type": None if rng.random() < 0.06 else rng.choice(_TYPES),
                "value": _qvalue(rng),
                "props": None,
            }
        )
    # duplicate event_ids straddling batches: clone ~15% of rows (same
    # id, same ts — a redelivery), dealt to a DIFFERENT random file
    for r in rng.sample(rows, max(1, len(rows) // 7)):
        rows.append(dict(r))
    files: list[list[dict]] = [[] for _ in range(n_files)]
    for r in rows:
        files[rng.randrange(n_files)].append(r)
    if d.exists():
        return str(d), files
    d.mkdir(parents=True)
    for i, chunk in enumerate(files):
        tbl = pa.table(
            {
                "event_id": pa.array([r["event_id"] for r in chunk], pa.int64()),
                "ts": pa.array([r["ts"] for r in chunk], pa.timestamp("us")),
                "user_id": pa.array([r["user_id"] for r in chunk], pa.int64()),
                "event_type": pa.array(
                    [r["event_type"] for r in chunk], pa.string()
                ),
                "value": pa.array([r["value"] for r in chunk], pa.float64()),
                "props": pa.array([r["props"] for r in chunk], pa.string()),
            }
        )
        p = d / f"page_{i:03d}.parquet"
        pq.write_table(tbl, p)
        # strictly increasing mtimes pin the file source's batch order
        os.utime(p, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    return str(d), files


@pytest.fixture(scope="module")
def stream_fuzz_root(tmp_path_factory) -> Path:
    return tmp_path_factory.mktemp("stream_fuzz")


_NAME_N = [0]


def _drain(spark, stream_df, mode="append"):
    """availableNow → memory sink → DataFrame of everything emitted."""
    _NAME_N[0] += 1
    name = f"sfz_{_NAME_N[0]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {name}")


def _drain_batches(stream_df, mode="update"):
    """availableNow → foreachBatch capturing (batch_id, rows) — gives
    the per-micro-batch emission sequence, so 'final state per key' is
    well-defined for update-mode stateful operators."""
    captured: list[tuple[int, list]] = []

    def _sink(df, bid: int):
        captured.append((bid, df.collect()))

    q = (
        stream_df.writeStream.foreachBatch(_sink)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sorted(captured)


def _assert_same(qname, seed, sdf_stream, sdf_batch):
    scols, bcols = sdf_stream.columns, sdf_batch.columns
    assert sorted(scols) == sorted(bcols), f"{qname} seed={seed}: schema"
    a = _oc.canon_rows(scols, [tuple(r) for r in sdf_stream.collect()])
    b = _oc.canon_rows(bcols, [tuple(r) for r in sdf_batch.collect()])
    if a != b:
        sa = [r for r in a if r not in b][:4]
        sb = [r for r in b if r not in a][:4]
        pytest.fail(
            f"{qname} seed={seed}: {len(a)} streamed vs {len(b)} batch rows; "
            f"stream_only={sa}; batch_only={sb}"
        )


def _flatten_window(df, wcol="window"):
    return df.select(
        F.col(f"{wcol}.start").alias("w_start"),
        F.col(f"{wcol}.end").alias("w_end"),
        *[c for c in df.columns if c != wcol],
    ).drop(wcol)


# ---------------------------------------------------------------------------
# Equality families: delay >> span, multi-batch state must equal batch
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("seed", range(SEEDS_W6))
def test_sfz_dedup_watermark(spark, stream_fuzz_root, seed):
    """B30: cross-batch dedup state — redelivered event_ids straddling
    micro-batches collapse to exactly one emission per key."""
    d, _ = _gen_stream_corpus(seed, stream_fuzz_root)
    stream = read_event_stream(spark, d, max_files_per_trigger=1)
    out = _drain(
        spark,
        dedup_within_watermark(stream, delay=_NEVER_LATE).select("event_id"),
    )
    batch = spark.read.parquet(d).select("event_id").distinct()
    got = sorted(r.event_id for r in out.collect())
    want = sorted(r.event_id for r in batch.collect())
    assert got == want, f"seed={seed}: dedup {len(got)} vs {len(want)}"


@pytest.mark.parametrize("seed", range(SEEDS_W6))
def test_sfz_tumbling_counts(spark, stream_fuzz_root, seed):
    """B28/B29: tumbling panes accumulated across out-of-order batches
    (complete mode) == batch groupBy window — including boundary-tie
    rows and NULL types/values."""
    d, _ = _gen_stream_corpus(seed, stream_fuzz_root)
    stream = read_event_stream(spark, d, max_files_per_trigger=1)
    out = _drain(
        spark, tumbling_counts(stream, delay=_NEVER_LATE), mode="complete"
    )
    ev = spark.read.parquet(d)
    batch = ev.groupBy(F.window("ts", "5 minutes"), "event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
    )
    _assert_same("sfz_tumbling", seed, _flatten_window(out), _flatten_window(batch))


@pytest.mark.parametrize("seed", range(SEEDS_W6))
def test_sfz_sliding_counts(spark, stream_fuzz_root, seed):
    """B27/B28: overlapping panes — every event lands in 2 sliding
    windows; boundary rows pin the half-open [start, end) contract."""
    d, _ = _gen_stream_corpus(seed, stream_fuzz_root)
    stream = read_event_stream(spark, d, max_files_per_trigger=1)
    out = _drain(spark, sliding_counts(stream, delay=_NEVER_LATE), mode="complete")
    ev = spark.read.parquet(d)
    batch = ev.groupBy(F.window("ts", "10 minutes", "5 minutes")).agg(
        F.count(F.lit(1)).alias("n")
    )
    _assert_same("sfz_sliding", seed, _flatten_window(out), _flatten_window(batch))


@pytest.mark.parametrize("seed", range(SEEDS_W6))
def test_sfz_session_windows(spark, stream_fuzz_root, seed):
    """B28: session merge ACROSS micro-batches — an out-of-order row can
    bridge two open sessions into one; gap-edge ties pin the 'strictly
    less than gap' closure rule. NULL user_id is its own session key."""
    d, _ = _gen_stream_corpus(seed, stream_fuzz_root)
    stream = read_event_stream(spark, d, max_files_per_trigger=1)
    out = _drain(spark, session_windows(stream, delay=_NEVER_LATE), mode="complete")
    ev = spark.read.parquet(d)
    batch = ev.groupBy(F.session_window("ts", "5 minutes"), "user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("session_value"),
    )
    _assert_same(
        "sfz_session",
        seed,
        _flatten_window(out, "session_window"),
        _flatten_window(batch, "session_window"),
    )


@pytest.mark.parametrize("seed", range(SEEDS_W6))
def test_sfz_stateful_totals(spark, stream_fuzz_root, seed):
    """B-III stateful accumulator (applyInPandasWithState): the LAST
    update-mode emission per user must equal the batch lifetime totals.
    Values are 1/4-multiples so the pandas fold and F.sum agree exactly
    (the operator's zero-init fold makes an all-NULL user 0.0, matching
    coalesce(sum, 0))."""
    d, _ = _gen_stream_corpus(seed, stream_fuzz_root)
    stream = read_event_stream(spark, d, max_files_per_trigger=1)
    batches = _drain_batches(stateful_running_totals(stream))
    final: dict = {}
    for _, rows in batches:
        for r in rows:
            final[r.user_id] = (r.n_events_total, r.value_total)
    ev = spark.read.parquet(d)
    want = {
        r.user_id: (r.n, r.v)
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.coalesce(F.sum("value"), F.lit(0.0)), 2).alias("v"),
        )
        .collect()
    }
    assert final == want, f"seed={seed}: {final} != {want}"


@pytest.mark.parametrize("seed", range(SEEDS_W6))
def test_sfz_stream_stream_inner(spark, stream_fuzz_root, seed):
    """B32 stream-stream interval join: purchase→error correlation with
    both sides arriving out of order across batches; with delay >> span
    no buffered row is ever evicted, so the result is the batch join."""
    d, _ = _gen_stream_corpus(seed, stream_fuzz_root)
    stream = read_event_stream(spark, d, max_files_per_trigger=1)
    out = _drain(
        spark,
        stream_stream_interval_join(stream, within="30 minutes", delay=_NEVER_LATE),
    )
    ev = spark.read.parquet(d)
    left = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("l_user"),
        F.col("event_id").alias("left_id"),
        F.col("ts").alias("l_ts"),
    )
    right = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("r_user"),
        F.col("event_id").alias("right_id"),
        F.col("ts").alias("r_ts"),
    )
    batch = left.join(
        right,
        F.expr(
            "l_user = r_user AND r_ts >= l_ts AND r_ts <= l_ts + INTERVAL 30 minutes"
        ),
    ).select(F.col("l_user").alias("user_id"), "left_id", "right_id", "l_ts", "r_ts")
    _assert_same("sfz_ss_inner", seed, out, batch)


@pytest.mark.parametrize("seed", range(SEEDS_W6))
def test_sfz_stream_static_enrich(spark, stream_fuzz_root, seed):
    """B32 stream-static: per-batch dimension enrichment (left join,
    NULL keys preserved) == one batch join."""
    d, _ = _gen_stream_corpus(seed, stream_fuzz_root)
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver"), (3, "bronze"), (2**40 + 7, "whale")],
        "user_id long, tier string",
    )
    stream = read_event_stream(spark, d, max_files_per_trigger=1)
    out = _drain(
        spark,
        stream_static_enrich(stream, dim, on="user_id").select(
            "event_id", "user_id", "tier"
        ),
    )
    batch = (
        spark.read.parquet(d)
        .join(dim, on="user_id", how="left")
        .select("event_id", "user_id", "tier")
    )
    _assert_same("sfz_enrich", seed, out, batch)


# ---------------------------------------------------------------------------
# Sketch-state families: final state-store contents vs an order-free (or
# batch-sequence-replaying) Python model
# ---------------------------------------------------------------------------


def _md5_hash12(v: int) -> int:
    import hashlib

    return int(hashlib.md5(str(int(v)).encode()).hexdigest()[:12], 16)


@pytest.mark.parametrize("seed", range(SEEDS_W6))
def test_sfz_stateful_kmv(spark, stream_fuzz_root, seed):
    """Streaming KMV sketch in the state store: the final emission per
    group equals the one-pass batch sketch (k smallest md5 hashes) —
    order-free, so only the state roundtrip is under test. NULL user_ids
    must not poison the sketch (count-distinct semantics ignore NULL)."""
    d, _ = _gen_stream_corpus(seed, stream_fuzz_root)
    stream = read_event_stream(spark, d, max_files_per_trigger=1)
    batches = _drain_batches(stateful_kmv_distinct(stream, k=8))
    final: dict = {}
    for _, rows in batches:
        for r in rows:
            final[r.grp] = (r.n_sketch, r.kmv_estimate)
    want: dict = {}
    ev = spark.read.parquet(d).collect()
    grouped: dict = {}
    for r in ev:
        grouped.setdefault(r.event_type, set())
        if r.user_id is not None:
            grouped[r.event_type].add(_md5_hash12(r.user_id))
    for g, hs in grouped.items():
        best = sorted(hs)[:8]
        n = len(best)
        est = float(n) if n < 8 else round(7 * float(1 << 48) / best[-1], 1)
        want[g] = (n, est)
    assert final == want, f"seed={seed}: {final} != {want}"


@pytest.mark.parametrize("seed", range(SEEDS_W6))
def test_sfz_heavy_hitters(spark, stream_fuzz_root, seed):
    """Streaming Misra-Gries: the final counter table per group equals a
    Python replay of the SAME micro-batch sequence (files in mtime
    order, one batch per file — asserted), since MG results depend on
    arrival batching. Also asserts the classic guarantee against the
    true batch counts: every key with freq > n/capacity is present."""
    d, files = _gen_stream_corpus(seed, stream_fuzz_root)
    stream = read_event_stream(spark, d, max_files_per_trigger=1)
    batches = _drain_batches(stateful_heavy_hitters(stream, capacity=4))
    assert len(batches) >= len([f for f in files if f]), (
        f"seed={seed}: expected one micro-batch per non-empty file"
    )
    final: dict = {}
    for _, rows in batches:
        per_grp: dict = {}
        for r in rows:
            per_grp.setdefault(r.grp, {})[r.key] = r.est_count
        for g, items in per_grp.items():
            final[g] = items
    # Python replay of the documented weighted-MG merge, same batching
    model: dict = {}
    for chunk in files:
        batch_counts: dict = {}
        for r in chunk:
            if r["user_id"] is None or r["event_type"] is None:
                if r["user_id"] is None:
                    continue
            g = r["event_type"]
            batch_counts.setdefault(g, {})
            batch_counts[g][r["user_id"]] = batch_counts[g].get(r["user_id"], 0) + 1
        for g, bc in batch_counts.items():
            counters = model.setdefault(g, {})
            for bk in sorted(bc):
                w = bc[bk]
                if bk in counters:
                    counters[bk] += w
                    continue
                if len(counters) < 4:
                    counters[bk] = w
                    continue
                while w > 0:
                    m = min(counters.values())
                    dd = min(w, m)
                    w -= dd
                    counters = {
                        k2: c2 - dd for k2, c2 in counters.items() if c2 - dd > 0
                    }
                    if len(counters) < 4 and w > 0:
                        counters[bk] = w
                        w = 0
            model[g] = counters
    assert final == model, f"seed={seed}: {final} != {model}"
    # MG guarantee vs true counts: freq > n/capacity => key present
    for g, counters in model.items():
        true: dict = {}
        for chunk in files:
            for r in chunk:
                if r["event_type"] == g and r["user_id"] is not None:
                    true[r["user_id"]] = true.get(r["user_id"], 0) + 1
        n = sum(true.values())
        for k2, c2 in true.items():
            if c2 > n / 4:
                assert k2 in final.get(g, {}), (
                    f"seed={seed}: heavy key {k2} (freq {c2}/{n}) missing in {g}"
                )


@pytest.mark.parametrize("seed", range(SEEDS_W6))
def test_sfz_histogram_quantiles(spark, stream_fuzz_root, seed):
    """Streaming histogram quantiles: the final emission per group
    equals an order-free Python histogram over the group's non-NULL
    values (bin merge is commutative; values are exact 1/4-multiples so
    floor-binning is exact)."""
    d, _ = _gen_stream_corpus(seed, stream_fuzz_root)
    stream = read_event_stream(spark, d, max_files_per_trigger=1)
    batches = _drain_batches(
        stateful_histogram_quantiles(stream, bin_width=25.0, quantiles=(0.5, 0.95))
    )
    final: dict = {}
    for _, rows in batches:
        for r in rows:
            final[r.grp] = (r.n, r.p50, r.p95)
    ev = spark.read.parquet(d).collect()
    vals: dict = {}
    for r in ev:
        if r.value is not None:
            vals.setdefault(r.event_type, []).append(r.value)
    want: dict = {}
    for g, vs in vals.items():
        hist: dict = {}
        for v in vs:
            b = math.floor(v / 25.0)
            hist[b] = hist.get(b, 0) + 1
        items = sorted(hist.items())
        n = sum(hist.values())
        outq = []
        for q in (0.5, 0.95):
            target = max(1, math.ceil(q * n))
            acc, est = 0, None
            for b, c in items:
                acc += c
                if acc >= target:
                    est = b * 25.0
                    break
            outq.append(est)
        want[g] = (n, outq[0], outq[1])
    # groups whose every value is NULL emit n=0 rows streamed but have
    # no entry in the model — align by dropping n=0 groups on both sides
    final = {g: t for g, t in final.items() if t[0] > 0}
    assert final == want, f"seed={seed}: {final} != {want}"


# ---------------------------------------------------------------------------
# Watermark-model families: finite delay, explicit Python replay of the
# microbatch watermark contract. Spark runs a TWO-watermark protocol
# (SPARK-24634, verified empirically against this harness' pinned
# seed-0 corpus): in batch b, LATE-EVENT FILTERING uses the watermark
# of the previous batch (data through batch b-2), while EVICTION/
# EMISSION uses the current watermark (data through batch b-1). Any
# comparison that lands EXACTLY on a watermark is classified AMBIGUOUS
# (<= vs < is engine internals) — assertions are
# MUST ⊆ streamed ⊆ MUST ∪ AMBIGUOUS.
# ---------------------------------------------------------------------------

_DELAY_S = 420  # "7 minutes"
_PANE_S = 300  # 5-minute tumbling panes


def _late_watermarks(files: list[list[dict]], pred=None) -> tuple[list[float], float]:
    """Returns (W_late[b] for each batch b, W_evict_final).

    W_late[b] = max event time of batches <= b-2, minus delay (the
    previous batch's watermark — the late-filter bound in batch b).
    W_evict_final = max event time over everything, minus delay (the
    last eviction bound; availableNow runs a closing no-data batch when
    the watermark advanced past remaining state)."""
    maxes: list[float] = []
    cur = float("-inf")
    for chunk in files:
        for r in chunk:
            if pred is None or pred(r):
                t = r["ts"].timestamp()
                cur = max(cur, t)
        maxes.append(cur)
    w_late = []
    for b in range(len(files)):
        m = maxes[b - 2] if b >= 2 else float("-inf")
        w_late.append(m - _DELAY_S if m > float("-inf") else float("-inf"))
    final = maxes[-1] - _DELAY_S if maxes and maxes[-1] > float("-inf") else float("-inf")
    return w_late, final


def _pane_end(ts: datetime) -> float:
    e = ts.timestamp()
    return math.floor(e / _PANE_S) * _PANE_S + _PANE_S


@pytest.mark.parametrize("seed", range(SEEDS_W6))
def test_sfz_tumbling_append_late_drop(spark, stream_fuzz_root, seed):
    """B29 late-data semantics under a FINITE watermark, append mode:
    the total emission per pane must equal the Python replay — a row is
    dropped iff its pane end is below the LATE watermark of its batch;
    a pane appears in the output iff the FINAL eviction watermark passed
    its end. Streamed emissions are summed per pane (a pane evicted
    mid-run can re-open and legally emit again for rows in the
    late-vs-eviction watermark gap), so the count identity holds
    regardless of eviction timing."""
    d, files = _gen_stream_corpus(seed, stream_fuzz_root)
    stream = read_event_stream(spark, d, max_files_per_trigger=1)
    out = _drain(spark, tumbling_counts(stream, delay="7 minutes"), mode="append")
    got: dict = {}
    for r in _flatten_window(out).collect():
        key = (r.w_end.timestamp(), r.event_type)
        n0, s0 = got.get(key, (0, 0.0))
        got[key] = (n0 + r.n, s0 + (r.sum_value if r.sum_value is not None else 0.0))
    w_late, w_final = _late_watermarks(files)
    kept: dict = {}
    ambig: dict = {}
    for b, chunk in enumerate(files):
        for r in chunk:
            pe = _pane_end(r["ts"])
            key = (pe, r["event_type"])
            if pe < w_late[b]:
                continue  # definitely dropped as late
            target = ambig if pe == w_late[b] else kept
            n, s = target.get(key, (0, 0.0))
            target[key] = (n + 1, s + (r["value"] or 0.0))
    for key, (n_must, s_must) in kept.items():
        pe = key[0]
        n_amb = ambig.get(key, (0, 0.0))[0]
        if pe < w_final:
            assert key in got, (
                f"seed={seed}: pane {key} closed (W_final={w_final}) but absent"
            )
        elif pe > w_final:
            assert key not in got, (
                f"seed={seed}: pane {key} still open (W_final={w_final}) but emitted"
            )
        if key in got:
            n_got, s_got = got[key]
            assert n_must <= n_got <= n_must + n_amb, (
                f"seed={seed}: pane {key} n={n_got} outside "
                f"[{n_must}, {n_must + n_amb}]"
            )
            if n_amb == 0:
                # sums exact when membership is exact (NULL values fold
                # to 0 in the model; a pane of only-NULL values emits a
                # NULL sum which the got-fold also treats as 0)
                assert abs(s_got - round(s_must, 2)) < 1e-9, (
                    f"seed={seed}: pane {key} sum={s_got} != {round(s_must, 2)}"
                )
    for key in got:
        assert key in kept or key in ambig, (
            f"seed={seed}: emitted pane {key} absent from the replay model"
        )


@pytest.mark.parametrize("seed", range(SEEDS_W6))
def test_sfz_stream_stream_outer(spark, stream_fuzz_root, seed):
    """B32 LEFT OUTER stream-stream join under a finite watermark.
    Bounded differential (join-internal buffer timing is engine
    internals, and a left whose batch-side match was itself late or
    evicted LEGALLY flushes as unmatched):

    - streamed matches ⊆ batch inner join;
    - a null flush only for lefts that exist; never both null AND
      matched for the same left row;
    - a MUST-match pair (same batch, both sides strictly above the
      in-force eviction watermark — hence also above the lagging late
      watermark) is present, and its left never flushes null;
    - a batch-anti left strictly past its flush bound that was never in
      late-drop danger MUST flush null;
    - emission multiplicity per left id bounded by its redelivery count.
    """
    d, files = _gen_stream_corpus(seed, stream_fuzz_root)
    stream = read_event_stream(spark, d, max_files_per_trigger=1)
    out = _drain(
        spark,
        stream_stream_outer_join(stream, within="30 minutes", delay="7 minutes"),
    ).collect()
    ev = spark.read.parquet(d)
    left = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("l_user"),
        F.col("event_id").alias("left_id"),
        F.col("ts").alias("l_ts"),
    )
    right = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("r_user"),
        F.col("event_id").alias("right_id"),
        F.col("ts").alias("r_ts"),
    )
    cond = F.expr(
        "l_user = r_user AND r_ts >= l_ts AND r_ts <= l_ts + INTERVAL 30 minutes"
    )
    inner = {
        (r.left_id, r.right_id, r.l_ts, r.r_ts)
        for r in left.join(right, cond)
        .select("left_id", "right_id", "l_ts", "r_ts")
        .collect()
    }
    anti = {
        (r.left_id, r.l_ts)
        for r in left.join(right, cond, "left_anti").select("left_id", "l_ts").collect()
    }
    all_left_ids = {r.left_id for r in left.select("left_id").collect()}
    got_matches = {
        (r.left_id, r.right_id, r.l_ts, r.r_ts) for r in out if r.right_id is not None
    }
    got_nulls = {(r.left_id, r.l_ts) for r in out if r.right_id is None}
    assert got_matches <= inner, f"seed={seed}: spurious matches {got_matches - inner}"
    null_ids = {k[0] for k in got_nulls}
    assert null_ids <= all_left_ids, f"seed={seed}: null flush for non-left ids"
    assert not (null_ids & {k[0] for k in got_matches}), (
        f"seed={seed}: same left both matched and null-flushed"
    )
    # multiplicity: a redelivered (duplicate) left row may legally flush
    # once per delivery; a unique row at most once
    from collections import Counter

    deliveries: Counter = Counter()
    for chunk in files:
        for r in chunk:
            if r["event_type"] == "purchase":
                deliveries[r["event_id"]] += 1
    null_counts = Counter(r.left_id for r in out if r.right_id is None)
    for li, c in null_counts.items():
        assert c <= max(1, deliveries.get(li, 0)), (
            f"seed={seed}: left {li} null-flushed {c}x with "
            f"{deliveries.get(li, 0)} deliveries"
        )
    # per-side eviction watermarks in force per batch (data through b-1)
    def _side_w(pred):
        w, cur = [], float("-inf")
        for chunk in files:
            w.append(cur - _DELAY_S if cur > float("-inf") else float("-inf"))
            for r in chunk:
                if pred(r):
                    cur = max(cur, r["ts"].timestamp())
        w.append(cur - _DELAY_S if cur > float("-inf") else float("-inf"))
        return w

    w_l = _side_w(lambda r: r["event_type"] == "purchase")
    w_r = _side_w(lambda r: r["event_type"] == "error")
    w_glob = [min(a, b) for a, b in zip(w_l, w_r)]
    w_final = w_glob[-1]
    arrival: dict = {}
    for b, chunk in enumerate(files):
        for r in chunk:
            arrival.setdefault((r["event_type"], r["event_id"]), b)
    # completeness: unmatched left strictly past its bound, never in
    # late-drop danger -> must flush
    for left_id, l_ts in anti:
        b = arrival.get(("purchase", left_id))
        if b is None:
            continue
        never_late = l_ts.timestamp() > w_glob[b]
        bound = l_ts.timestamp() + 1800
        if never_late and bound < w_final:
            assert (left_id, l_ts) in got_nulls, (
                f"seed={seed}: left {left_id} bound={bound} < "
                f"W_final={w_final}, never late, but not flushed"
            )
    # completeness: same-batch strictly-live pair must match, and its
    # left must not ALSO flush null
    for li, ri, l_ts, r_ts in inner:
        bl = arrival.get(("purchase", li))
        br = arrival.get(("error", ri))
        if bl is None or br is None or bl != br:
            continue
        if l_ts.timestamp() > w_glob[bl] and r_ts.timestamp() > w_glob[br]:
            assert (li, ri, l_ts, r_ts) in got_matches, (
                f"seed={seed}: same-batch live pair ({li},{ri}) not matched"
            )


# ---------------------------------------------------------------------------
# Wave 2: the STATELESS serving operators (ANN/retrieval at ingest) under
# adversarial corpora — zero vectors, exact-duplicate and near-duplicate
# vectors, NULL labels, unicode/empty/duplicate documents. Twins apply
# the SAME operator body to the batch read of the same parquet, so any
# divergence is streaming plumbing (file source, Arrow batching,
# microbatch splits), the axis the fixture tests never vary.
# ---------------------------------------------------------------------------

_spec2 = importlib.util.spec_from_file_location(
    "fuzz_diff_gen", "/root/repo/tests/test_fuzz_differential.py"
)
_gen = importlib.util.module_from_spec(_spec2)
_spec2.loader.exec_module(_gen)


def _stream_dir(root: Path, name: str, seed: int, table) -> str:
    """An arrow table split into 3 mtime-ordered parquet files."""
    d = root / f"{name}_seed{seed}"
    if d.exists():
        return str(d)
    d.mkdir(parents=True)
    n = table.num_rows
    cuts = [0, max(1, n // 3), max(2, 2 * n // 3), n]
    for i in range(3):
        pq.write_table(table.slice(cuts[i], cuts[i + 1] - cuts[i]), d / f"p{i}.parquet")
        os.utime(d / f"p{i}.parquet", (1_700_000_000 + i * 10,) * 2)
    return str(d)


def _emb_stream(spark, root: Path, seed: int):
    import random as _random

    from cloudtrace_exporter_spark.schemas import FIXTURE_SCHEMAS

    rng = _random.Random(seed * 424_243 + 9)
    tbl = _gen._gen_embeddings(rng, 9 if seed == 0 else rng.randint(20, 80),
                               zero_heavy=(seed == 0))
    d = _stream_dir(root, "emb", seed, tbl)
    batch = spark.read.schema(FIXTURE_SCHEMAS["embeddings"]).parquet(d)
    stream = (
        spark.readStream.schema(FIXTURE_SCHEMAS["embeddings"])
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    return batch, stream


def _doc_stream(spark, root: Path, seed: int):
    import random as _random

    from cloudtrace_exporter_spark.schemas import FIXTURE_SCHEMAS

    rng = _random.Random(seed * 424_243 + 9)
    tbl = _gen._gen_documents(rng, 3 if seed == 0 else rng.randint(20, 90))
    d = _stream_dir(root, "docs", seed, tbl)
    batch = spark.read.schema(FIXTURE_SCHEMAS["documents"]).parquet(d)
    stream = (
        spark.readStream.schema(FIXTURE_SCHEMAS["documents"])
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    return batch, stream


def _rowset(df, cols):
    return {tuple(r[c] for c in cols) for r in df.select(*cols).collect()}


@pytest.mark.parametrize("seed", range(SEEDS_W6))
def test_sfz2_ivf_assign_and_pq_serving(spark, stream_fuzz_root, seed):
    """IVF cell assignment + PQ encode + ADC scoring at ingest over
    zero/duplicate/degenerate vectors: streamed results must equal the
    same narrow maps on the batch read (and the index/codebook builds
    must TOLERATE the degenerate corpora — empty cells, duplicate
    centroids — without crashing)."""
    from cloudtrace_exporter_spark.operators import similarity
    from cloudtrace_exporter_spark.streaming.pipeline import (
        stream_adc_scores,
        stream_assign_cells,
        stream_pq_encode,
    )

    batch, stream = _emb_stream(spark, stream_fuzz_root, seed)
    assigned, cents = similarity._scaled_kmeans(
        batch, n_centroids=4, lloyd_iters=2, scale=10**6
    )
    out = _drain(spark, stream_assign_cells(stream, cents, scale=10**6))
    assert _rowset(out, ["id", "cell"]) == _rowset(assigned, ["id", "cell"])
    books = similarity.pq_train(batch, m=8, k=4, lloyd_iters=1)
    out_codes = _drain(spark, stream_pq_encode(stream, books))
    s_codes = {(r.id, tuple(r.codes)) for r in out_codes.collect()}
    b_codes = {(r.id, tuple(r.codes)) for r in stream_pq_encode(batch, books).collect()}
    assert s_codes == b_codes
    qrows = [
        (r.vec_id, list(r.embedding))
        for r in batch.orderBy("vec_id").limit(2).collect()
    ]
    out_adc = _drain(spark, stream_adc_scores(stream, books, qrows))
    cols = ["query_id", "corpus_id", "approx_dist"]
    assert _rowset(out_adc, cols) == _rowset(
        stream_adc_scores(batch, books, qrows), cols
    )


@pytest.mark.parametrize("seed", range(SEEDS_W6))
def test_sfz2_lsh_probe_and_percolators(spark, stream_fuzz_root, seed):
    """Near-dup screening + BM25/keyword percolation at ingest over
    unicode/empty/duplicate documents: streamed (id, match, score) sets
    must equal the batch twins exactly."""
    from cloudtrace_exporter_spark.operators import dedup as dedup_ops
    from cloudtrace_exporter_spark.operators import text as text_ops
    from cloudtrace_exporter_spark.streaming.pipeline import (
        stream_lsh_dedup_probe,
        stream_score_bm25,
    )

    batch, stream = _doc_stream(spark, stream_fuzz_root, seed)
    index = dedup_ops.minhash_banded_index(batch.filter(F.col("doc_id") % 2 == 0)).cache()
    index.count()
    out = _drain(spark, stream_lsh_dedup_probe(stream, index, threshold=0.3))
    cols = ["new_id", "corpus_id", "est_jaccard"]
    assert _rowset(out, cols) == _rowset(
        stream_lsh_dedup_probe(batch, index, threshold=0.3), cols
    )
    index.unpersist()

    queries = [(0, "the cat"), (1, "αλφα 再见"), (2, "")]
    terms = sorted({t for _, q in queries for t in q.split(" ") if t})
    stats = text_ops.bm25_corpus_stats(batch, terms)
    out_bm = _drain(spark, stream_score_bm25(stream, queries, stats))
    cols = ["doc_id", "query_id", "score"]
    assert _rowset(out_bm, cols) == _rowset(
        stream_score_bm25(batch, queries, stats), cols
    )

    out_kw = _drain(spark, text_ops.keyword_percolate(stream))
    cols = ["doc_id", "rule_id"]
    assert _rowset(out_kw, cols) == _rowset(text_ops.keyword_percolate(batch), cols)


@pytest.mark.parametrize("seed", range(SEEDS_W6))
def test_sfz_dedup_finite_watermark(spark, stream_fuzz_root, seed):
    """A4+A14 under a FINITE watermark — the reference's actual
    semantics (state expires; a redelivery after expiry re-emits; a
    too-late first delivery is dropped). Bounded model on the
    two-watermark protocol, exact ties ambiguous:

    - a key with any delivery STRICTLY above its batch's late watermark
      is emitted at least once; a key whose every delivery is strictly
      below is never emitted;
    - emissions per key never exceed deliveries;
    - two deliveries with the dedup state PROVABLY live in between
      (every eviction watermark through the second arrival strictly
      below ts + delay) collapse to at most one emission.
    """
    from collections import Counter

    d, files = _gen_stream_corpus(seed, stream_fuzz_root)
    stream = read_event_stream(spark, d, max_files_per_trigger=1)
    batches = _drain_batches(
        dedup_within_watermark(stream, delay="7 minutes").select("event_id", "ts"),
        mode="append",
    )
    emitted = Counter()
    for _, rows in batches:
        for r in rows:
            emitted[r.event_id] += 1
    w_late, _ = _late_watermarks(files)
    # eviction watermark IN FORCE at batch b (data through b-1)
    w_evict = []
    cur = float("-inf")
    for chunk in files:
        w_evict.append(cur - _DELAY_S if cur > float("-inf") else float("-inf"))
        for r in chunk:
            cur = max(cur, r["ts"].timestamp())
    deliveries: dict = {}
    for b, chunk in enumerate(files):
        for r in chunk:
            deliveries.setdefault(r["event_id"], []).append((b, r["ts"].timestamp()))
    for key, dels in deliveries.items():
        n_emit = emitted.get(key, 0)
        assert n_emit <= len(dels), f"seed={seed}: key {key} over-emitted"
        live = [1 for b, ts in dels if ts > w_late[b]]
        dead = [1 for b, ts in dels if ts < w_late[b]]
        if live:
            assert n_emit >= 1, f"seed={seed}: key {key} never emitted"
        elif len(dead) == len(dels):
            assert n_emit == 0, (
                f"seed={seed}: key {key} emitted though every delivery was late"
            )
        # collapse: any two deliveries bridged by provably-live state
        # must not both emit — count an upper bound on emissions as the
        # number of state-expiry-separated delivery groups
        dels_sorted = sorted(dels)
        groups = 1
        for (b1, ts1), (b2, ts2) in zip(dels_sorted, dels_sorted[1:]):
            # state for ts1's key is live through b2 iff no eviction
            # watermark up to b2 strictly passed ts1 + delay
            if any(w_evict[bb] > ts1 + _DELAY_S for bb in range(b1, b2 + 1)):
                groups += 1
        assert n_emit <= max(groups, 1) + sum(
            1 for b, ts in dels if ts == w_late[b]
        ), f"seed={seed}: key {key} emitted {n_emit}x with {groups} live groups"


# ---------------------------------------------------------------------------
# Sink-fault families (round 10): A13's delivered/failed accounting under
# injected transport failures, and at-least-once replay across a restart
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("seed", range(SEEDS_W6))
def test_sfz_sink_fault_counters(spark, stream_fuzz_root, seed, tmp_path):
    """Tolerated per-batch transport faults: with counters attached, a
    failing batch is counted failed=1 (reference multierror tolerance),
    the query never dies, and the sink file holds EXACTLY the rows of
    the non-failed batches — counters must equal a Python replay of the
    pinned file→batch order."""
    import json as _json
    from collections import Counter

    from cloudtrace_exporter_spark.streaming.sinks import (
        DeliveryCounters,
        foreach_batch_jsonl_sender,
    )

    src, files = _gen_stream_corpus(seed, stream_fuzz_root)
    n_files = len(files)
    rng = random.Random(seed * 31 + 11)
    fail = set(rng.sample(range(n_files), max(1, n_files // 2)))
    out = str(tmp_path / "sink.jsonl")
    counters = DeliveryCounters()

    def flaky_transport(lines: list[str], epoch: int) -> None:
        if epoch in fail:
            raise RuntimeError(f"injected transport fault @ batch {epoch}")
        with open(out, "a", encoding="utf-8") as fh:
            for r in lines:
                fh.write(r + "\n")

    sink = foreach_batch_jsonl_sender(out, counters, transport=flaky_transport)
    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    expected_delivered = sum(len(files[b]) for b in range(n_files) if b not in fail)
    assert counters.delivered == expected_delivered, f"seed={seed}"
    assert counters.failed == len(fail), f"seed={seed}"
    assert counters.batches == n_files, f"seed={seed}"
    assert len(counters.errors) == len(fail), f"seed={seed}"
    got = Counter()
    if os.path.exists(out):
        with open(out, encoding="utf-8") as fh:
            for line in fh:
                got[_json.loads(line)["event_id"]] += 1
    want = Counter(
        r["event_id"] for b in range(n_files) if b not in fail for r in files[b]
    )
    assert got == want, f"seed={seed}: sink content != non-failed batches"


@pytest.mark.parametrize("seed", range(SEEDS_W6))
def test_sfz_sink_fault_restart_exactly_once(spark, stream_fuzz_root, seed, tmp_path):
    """Escalated transport fault + restart: without counters the sink
    re-raises, the query dies mid-stream, and a restart from the SAME
    checkpoint replays ONLY the uncommitted batch — every corpus row
    lands in the sink exactly once (committed batches are never
    re-sent), and the failed batch's transport sees exactly 2 attempts."""
    import json as _json
    from collections import Counter

    from cloudtrace_exporter_spark.streaming.sinks import foreach_batch_jsonl_sender

    src, files = _gen_stream_corpus(seed, stream_fuzz_root)
    n_files = len(files)
    rng = random.Random(seed * 97 + 5)
    kill_batch = rng.randrange(n_files)
    out = str(tmp_path / "sink.jsonl")
    ckpt = str(tmp_path / "ckpt")
    attempts: dict[int, int] = {}

    def flaky_transport(lines: list[str], epoch: int) -> None:
        attempts[epoch] = attempts.get(epoch, 0) + 1
        if epoch == kill_batch and attempts[epoch] == 1:
            raise RuntimeError("transient transport fault (first attempt)")
        with open(out, "a", encoding="utf-8") as fh:
            for r in lines:
                fh.write(r + "\n")

    def run():
        sink = foreach_batch_jsonl_sender(out, None, transport=flaky_transport)
        stream = read_event_stream(spark, src, max_files_per_trigger=1)
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    with pytest.raises(Exception, match="transient transport fault"):
        run()
    run()  # resume: replays ONLY batch kill_batch, then drains the rest
    got = Counter()
    with open(out, encoding="utf-8") as fh:
        for line in fh:
            got[_json.loads(line)["event_id"]] += 1
    want = Counter(r["event_id"] for chunk in files for r in chunk)
    assert got == want, f"seed={seed}: restart lost or duplicated rows"
    assert attempts[kill_batch] == 2, f"seed={seed}: failed batch attempts"
    assert all(
        v == 1 for b, v in attempts.items() if b != kill_batch
    ), f"seed={seed}: a committed batch was re-sent: {attempts}"
