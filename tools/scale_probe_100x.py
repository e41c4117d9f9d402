"""100x scaling probe (round 7, SCALE.md evidence) — one order of
magnitude past the 10x tier, for the three families whose failure modes
are provably scale-ONLY:

1. **global numbering / range partitioning** (`global_row_number`): the
   round-6 rank-duplication bug appeared at >=50k rows (sparse range-
   boundary sampling made two un-reused exchanges disagree). This probe
   runs 50k / 500k / 5M synthesized rows and ASSERTS the bijection
   (n distinct ranks, min 1, max n) at every tier — wall is reported,
   but the point is that the materialize-once fix holds when boundary
   sampling is 100x sparser still.

2. **banded MinHash-LSH** (`minhash_lsh_pairs`, portable family): bucket
   occupancy and posting caps are the scale risk — a skew blow-up shows
   as superlinear wall or a straggler. Synthesized corpus (12-token docs
   over a 50k-word vocabulary, ~1% planted near-dup partners) at 200k /
   2M docs (10x and 100x the sf0.1 documents table). Planted-pair
   recall is asserted, so the probe cannot pass by finding nothing.

3. **watermark dedup state** (`dedup_within_watermark` on the parquet
   file source): the 10x probe scaled BACKLOG DEPTH at constant batch
   size; this one scales ROWS PER BATCH (~90k -> ~900k) with 10M total
   events and 10M-key state (~2.8 GB) — the axis that breaks first on a
   real cluster, since state-store commit cost is per-batch.

Usage:
    python tools/scale_probe_100x.py [--family rank|lsh|stream|all]

Timings are warm-session best-of-1 (plans compiled by the smaller tier
first), matching the 10x probe's methodology. Paste into SCALE.md.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F


def probe_rank(spark) -> None:
    from cloudtrace_exporter_spark.operators.analytics import global_row_number

    for n in (50_000, 500_000, 5_000_000):
        # key is a full-range permutation-ish hash (forces real range
        # sampling work; monotone ids would make boundaries trivial)
        df = spark.range(n).select(
            (F.col("id") * 2654435761 % 4294967296).alias("k"), F.col("id").alias("i")
        )
        t0 = time.time()
        rn = global_row_number(df, ["k", "i"])
        stats = rn.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("rn").alias("d"),
            F.min("rn").alias("lo"),
            F.max("rn").alias("hi"),
        ).collect()[0]
        wall = time.time() - t0
        ok = stats["n"] == stats["d"] == stats["hi"] == n and stats["lo"] == 1
        print(f"global_row_number n={n:>9,}: {wall:6.2f} s  bijection={'OK' if ok else 'BROKEN'}")
        assert ok, f"rank bijection broken at n={n}: {stats}"


def _synth_docs(spark, n: int):
    """12-token docs over a 50M-word vocabulary (wide enough that no two
    base ids collide by accident at n=2M — a 50k vocabulary made texts
    repeat every 50k ids and the probe measured its own 39.8M-pair
    output instead of the banded join); ~1% planted twin pairs (doc k
    and k+1 share text for k % 100 == 0) so recall is assertable."""
    base = F.when(F.col("id") % 100 == 1, F.col("id") - 1).otherwise(F.col("id"))
    words = F.concat_ws(
        " ",
        *[
            F.concat(
                F.lit("w"), ((base * (j * 2 + 3) + j * j) % 50_000_000).cast("string")
            )
            for j in range(12)
        ],
    )
    return spark.range(n).select(F.col("id").alias("doc_id"), words.alias("text"))


def probe_lsh(spark) -> None:
    from cloudtrace_exporter_spark.operators import dedup

    for n in (200_000, 2_000_000):
        docs = _synth_docs(spark, n).repartition(64).cache()
        docs.count()
        planted = n // 100  # ids 1, 101, 201, ... pair with id-1
        t0 = time.time()
        pairs = dedup.minhash_lsh_pairs(docs, threshold=0.9).cache()
        total = pairs.count()
        found = pairs.filter(
            (F.col("doc_b") == F.col("doc_a") + 1) & (F.col("doc_a") % 100 == 0)
        ).count()
        wall = time.time() - t0
        print(
            f"minhash_lsh_pairs n={n:>9,}: {wall:6.2f} s  pairs={total:,} "
            f"planted recall={found}/{planted}"
        )
        assert found == planted, "identical planted twins must all collide"
        pairs.unpersist()
        docs.unpersist()


def probe_passjoin(spark) -> None:
    """PassJoin at 10×/50× the sf0.1 docs count — the bench notes name
    its candidate volume as the scale risk to watch. Prefixes are
    md5-derived (two random 20-hex strings are never within 3 edits, so
    incidental pairs are structurally absent — numeric-id prefixes
    would differ in ≤3 digits constantly and the probe would measure
    its own workload again); 1% planted twins flip the first char
    (edit distance exactly 1) and recall is asserted."""
    from cloudtrace_exporter_spark.operators import dedup

    for n in (200_000, 1_000_000):
        base = F.when(F.col("id") % 100 == 1, F.col("id") - 1).otherwise(F.col("id"))
        pfx = F.substring(F.md5(base.cast("string").cast("binary")), 1, 20)
        text = F.when(
            F.col("id") % 100 == 1, F.concat(F.lit("z"), F.substring(pfx, 2, 19))
        ).otherwise(pfx)
        docs = (
            spark.range(n)
            .select(F.col("id").alias("doc_id"), text.alias("text"))
            .repartition(64)
            .cache()
        )
        docs.count()
        planted = n // 100
        t0 = time.time()
        pairs = dedup.passjoin_edit_pairs(docs).cache()
        total = pairs.count()
        found = pairs.filter(
            (F.col("doc_b") == F.col("doc_a") + 1) & (F.col("doc_a") % 100 == 0)
        ).count()
        wall = time.time() - t0
        print(
            f"passjoin_edit_pairs n={n:>9,}: {wall:6.2f} s  pairs={total:,} "
            f"planted recall={found}/{planted}"
        )
        assert found == planted, "pigeonhole candidates must have NO false negatives"
        pairs.unpersist()
        docs.unpersist()


def probe_stream(spark) -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from streaming_probe import build_trace_parquet, run_pipeline_file_source

    # 100x corpus (10.1M rows incl. dups) in 11 page files -> ~918k rows
    # per micro-batch, 10M-key state by the final batch
    root = tempfile.mkdtemp(prefix="stream_probe_100x_")
    pages = os.path.join(root, "pages")
    try:
        landed = build_trace_parquet(
            spark, "/root/testdata/sf0.1", pages, copies=100, n_files=11
        )
        wall, counters, batches = run_pipeline_file_source(
            spark, pages, root, files_per_trigger=1
        )
        for b in batches:
            print(
                f"  batch {b['batch']:>3}: in={b['rows_in']:>8} "
                f"trigger={b['trigger_ms']:>7} ms state_rows={b['state_rows']:>9} "
                f"state={b['state_mb']:.1f} MB"
            )
        dropped = landed - counters.delivered
        print(
            f"STREAM 100x-batch TOTAL: landed={landed} delivered={counters.delivered} "
            f"dup_dropped={dropped} failed={counters.failed} "
            f"batches={len(batches)} stream_wall={wall:.1f} s"
        )
        assert counters.failed == 0 and dropped > 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def probe_dbscan(spark) -> None:
    """Injected-pair DBSCAN (the q_dbscan_lsh posture) at 100k / 1M
    vectors — round-8 tier above the 10× probe. 1% of vectors form
    planted 4-member clusters (group members share their base vector
    EXACTLY on the first n_bits coordinates, so sign-block recall is
    deterministic by construction, and differ by one 5e-4 nudge on a
    coordinate ≥ 40 — far inside the cos ≥ 0.95 ball); background
    vectors are iid uniform [-0.125, 0.125]^64 — UNIT-SCALE, i.e. ‖v‖≈0.72,
    inside the ε-test's documented 2⁶³ budget (quantized ‖a‖² ≈ 1e6; the
    first draft used [-1,1] coords, ‖v‖≈4.6, and num²·‖a‖²·‖b‖² genuinely
    overflowed BIGINT at the 1M tier — the budget boundary is real, and
    embeddings are unit-normalized in every production pipeline this
    serves; normalize_vectors is the in-repo path). Pairwise cos still
    concentrates at std ≈ 1/8 (scale-invariant), so a spurious ε-pair is
    a ≥7.6σ event — zero expected.
    Block bits are occupancy-scaled with n (the SCALE.md rule), and the
    probe ASSERTS planted recovery (every member core, cluster = min
    group id), zero spurious clusters, and candidate-volume linearity
    (pairs < 2n at both tiers)."""
    from cloudtrace_exporter_spark.operators import similarity

    for n, n_bits in ((100_000, 17), (1_000_000, 20)):
        groups = n // 400
        planted_n = groups * 4
        gid = F.floor(F.col("id") / 4).cast("long")
        is_p = F.col("id") < planted_n
        seed = F.when(is_p, gid + 10_000_000_000).otherwise(F.col("id") + 20_000_000_000)
        nudge_pos = F.lit(40) + F.pmod(F.col("id"), F.lit(4))
        vec = F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda j: (
                (F.pmod(F.xxhash64(seed, j), F.lit(2001)) - 1000) / 8000.0
                + F.when(is_p & (j == nudge_pos), F.lit(0.004)).otherwise(F.lit(0.0))
            ),
        )
        emb = (
            spark.range(n)
            .select(F.col("id").alias("vec_id"), vec.alias("embedding"))
            .repartition(64)
            .cache()
        )
        emb.count()
        t0 = time.time()
        pairs = similarity.sign_block_pairs(emb, n_bits=n_bits).cache()
        n_pairs = pairs.count()
        res = similarity.dbscan_embeddings(
            emb, cos_num=95, cos_den=100, min_pts=4, pairs=pairs
        ).cache()
        planted = res.filter(F.col("vec_id") < planted_n).cache()
        bad_role = planted.filter(F.col("role") != "core").count()
        bad_cluster = planted.filter(
            F.col("cluster") != (F.floor(F.col("vec_id") / 4) * 4).cast("long")
        ).count()
        spurious = res.filter(
            (F.col("vec_id") >= planted_n) & (F.col("role") != "noise")
        ).count()
        wall = time.time() - t0
        print(
            f"dbscan_injected n={n:>9,} bits={n_bits}: {wall:6.2f} s  "
            f"candidates={n_pairs:,} ({n_pairs / n:.2f}/vec)  "
            f"planted {planted_n - bad_role - bad_cluster}/{planted_n} recovered  "
            f"spurious={spurious}"
        )
        assert bad_role == 0 and bad_cluster == 0, "planted clusters must recover"
        assert spurious == 0, "background must all be noise"
        assert n_pairs < 2 * n, "candidate volume must stay linear"
        planted.unpersist()
        res.unpersist()
        pairs.unpersist()
        emb.unpersist()


def probe_textrank(spark) -> None:
    """TextRank keywords (q_textrank_keywords posture) at 200k / 2M
    synthesized docs (10×/100× the sf0.1 documents table) — round-9
    tier for the one-exchange PageRank round + edge-list cache. Each
    doc is 12 tokens: even positions cycle through 10 planted HUB words
    (hub of a near-star co-occurrence graph), odd positions draw iid
    from a 50k-word satellite vocabulary via xxhash64 — so every
    adjacency is (hub, satellite), hub degree is ~n·6/10 while satellite
    degree concentrates at ~12·n/50k, and the true top-10 by PageRank is
    exactly the 10 hubs. The probe ASSERTS that recovery (it cannot pass
    by returning anything frequency-shaped: satellites in aggregate
    outnumber hubs 50k:10) and reports wall + edge volume. Word-graph
    size is vocab-bounded (50,010 nodes) — the axis that grows with
    corpus size is EDGE multiplicity, which the distinct() collapses;
    wall should therefore grow sublinearly doc-wise."""
    from cloudtrace_exporter_spark.operators import text as text_ops

    for n in (200_000, 2_000_000):
        tok = F.transform(
            F.sequence(F.lit(0), F.lit(11)),
            lambda j: F.when(
                j % 2 == 0,
                F.concat(F.lit("hubword"), F.pmod(F.col("id"), F.lit(10))),
            ).otherwise(
                F.concat(
                    F.lit("sat"),
                    F.lpad(F.pmod(F.xxhash64(F.col("id"), j), F.lit(50_000)), 5, "0"),
                )
            ),
        )
        docs = (
            spark.range(n)
            .select(F.col("id").alias("doc_id"), F.concat_ws(" ", tok).alias("text"))
            .repartition(64)
            .cache()
        )
        docs.count()
        t0 = time.time()
        top = text_ops.textrank_keywords(docs, top_k=10).collect()
        wall = time.time() - t0
        got = {r["word"] for r in top}
        want = {f"hubword{k}" for k in range(10)}
        print(
            f"textrank n={n:>9,}: {wall:6.2f} s  top10={'OK' if got == want else got}"
        )
        assert got == want, f"hub recovery failed: {got ^ want}"
        docs.unpersist()


def probe_triangle(spark) -> None:
    """Triangle participation over the banded LSH pair graph at 200k /
    2M docs (10×/100× the sf0.1 documents table) — round-8 tier for the
    wedge-join family. The _synth_docs recipe is extended from planted
    PAIRS to planted TRIPLES (ids k, k+1, k+2 share text for k%100==0 —
    one 3-clique per 100 docs, no larger cliques so counts are exact);
    asserts every planted member participates in exactly 1 triangle,
    total = planted count, and Σ participation = 3 × triangle census."""
    from cloudtrace_exporter_spark.operators import dedup, graph

    for n in (200_000, 2_000_000):
        base = F.when(F.col("id") % 100 <= 2, F.col("id") - F.col("id") % 100).otherwise(
            F.col("id")
        )
        words = F.concat_ws(
            " ",
            *[
                F.concat(
                    F.lit("w"), ((base * (j * 2 + 3) + j * j) % 50_000_000).cast("string")
                )
                for j in range(12)
            ],
        )
        docs = (
            spark.range(n)
            .select(F.col("id").alias("doc_id"), words.alias("text"))
            .repartition(64)
            .cache()
        )
        docs.count()
        triples = n // 100
        t0 = time.time()
        # materialize-before-fan-out: triangle_counts consumes the edge
        # list in THREE subtrees (two wedge sides + the closure semi-join)
        # — uncached, the whole banded-LSH plan re-executes per subtree
        # (measured 449 s vs ~90 s at the 2M tier)
        pairs = (
            dedup.minhash_lsh_pairs(docs, threshold=0.9)
            .select("doc_a", "doc_b")
            .cache()
        )
        pairs.count()
        tri = graph.triangle_counts(pairs).cache()
        total_participation = tri.agg(F.sum("n_triangles")).collect()[0][0] or 0
        members = tri.count()
        wrong = tri.filter(
            (F.col("n_triangles") != 1) | (F.pmod(F.col("doc_id"), F.lit(100)) > 2)
        ).count()
        wall = time.time() - t0
        print(
            f"triangle_counts n={n:>9,}: {wall:6.2f} s  members={members:,} "
            f"(expect {3 * triples:,})  sum={total_participation:,} wrong={wrong}"
        )
        assert members == 3 * triples, "every planted triple member participates"
        assert total_participation == 3 * triples, "sum = 3 x census (1 tri each)"
        assert wrong == 0, "no spurious triangles, none counted twice"
        tri.unpersist()
        pairs.unpersist()
        docs.unpersist()


def _synth_docs_lifecycle(spark, n: int):
    """_synth_docs plus the lifecycle's required columns: a 3-way lang
    mix (stratified-sample stratum) and a source tag. Texts pass the
    quality gate by construction (12 distinct long words, no punct), so
    the curation funnel's shrinkage is the en-downsample + dedup, both
    assertable."""
    return _synth_docs(spark, n).select(
        "doc_id",
        "text",
        F.element_at(
            F.array(F.lit("en"), F.lit("de"), F.lit("fr")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("lang"),
        F.lit("probe").alias("source"),
    )


def probe_lifecycle(spark) -> None:
    """100x lifecycle probe (round-9 verdict item #6): the full
    checkpointed pipeline (ingest → events → graph → dedup → curated →
    layout) over a 1,000,000-document corpus (1000x the fixture test)
    with sf0.01 trace pages, asserting per-stage wall + funnel counts +
    planted-dup collapse — then a REAL kill -9 mid-pipeline in a child
    process and an in-process resume that must skip completed stages
    and reproduce the full run's counts exactly (deterministic inputs:
    the corpus is a pure function of doc_id)."""
    import json
    import subprocess

    from cloudtrace_exporter_spark import lifecycle
    from cloudtrace_exporter_spark.operators import normalize
    from cloudtrace_exporter_spark.runner import AuthContext
    from cloudtrace_exporter_spark.sources import cts_pages, tables

    n_docs = 1_000_000
    planted = n_docs // 100  # exact twin of doc k-1 at every k%100==1
    work = tempfile.mkdtemp(prefix="lifecycle100x_")
    pages = os.path.join(work, "pages")
    traces = normalize.events_as_traces(
        tables.load_table(spark, "/root/testdata/sf0.01", "events")
    )
    cts_pages.write_trace_pages(traces, pages)
    docs = _synth_docs_lifecycle(spark, n_docs)
    ctx = AuthContext(source="probe", region="r1", domain="d1", tenant="t1")

    out_full = os.path.join(work, "full")
    t0 = time.time()
    man = lifecycle.run_lifecycle(
        spark, pages_dir=pages, docs=docs, out_dir=out_full, ctx=ctx
    )["stages"]
    wall = time.time() - t0
    stage_walls = {k: s.get("wall_sec") for k, s in man.items()}
    print(f"lifecycle 1M docs: total {wall:6.1f} s  stages={stage_walls}")
    print(f"  funnel: " + " -> ".join(f"{k}={man[k]['rows']:,}" for k in lifecycle.STAGES))
    assert man["ingest"]["rows"] == 10_000
    assert 0 < man["events"]["rows"] <= man["ingest"]["rows"]
    assert man["graph"]["rows"] > man["events"]["rows"]
    # every planted exact twin must collapse in the near-dup stage
    assert man["dedup"]["rows"] <= n_docs - planted, (
        f"dedup kept {man['dedup']['rows']:,} — planted twins survived"
    )
    assert 0 < man["curated"]["rows"] <= man["dedup"]["rows"]
    assert man["layout"]["rows"] == man["curated"]["rows"]
    # en is downsampled to 25%: curated must sit near (1/3*0.25 + 2/3)
    frac = man["curated"]["rows"] / man["dedup"]["rows"]
    assert 0.70 <= frac <= 0.80, f"curated fraction {frac:.3f} off the mixture plan"

    # --- kill -9 mid-pipeline (child process), resume in-process ---
    out_kill = os.path.join(work, "killed")
    child = f"""
import sys
sys.path.insert(0, "/root/repo"); sys.path.insert(0, "/root/repo/tools")
from cloudtrace_exporter_spark.session import get_spark
from cloudtrace_exporter_spark import lifecycle
from cloudtrace_exporter_spark.runner import AuthContext
import importlib.util
spec = importlib.util.spec_from_file_location("p100", "/root/repo/tools/scale_probe_100x.py")
p100 = importlib.util.module_from_spec(spec); spec.loader.exec_module(p100)
spark = get_spark("lifecycle_victim")
docs = p100._synth_docs_lifecycle(spark, {n_docs})
lifecycle.run_lifecycle(spark, pages_dir={pages!r}, docs=docs,
                        out_dir={out_kill!r},
                        ctx=AuthContext(source="probe", region="r1", domain="d1", tenant="t1"))
"""
    proc = subprocess.Popen([sys.executable, "-c", child],
                            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    manifest_path = os.path.join(out_kill, "manifest.json")
    killed_after = None
    deadline = time.time() + 900
    while time.time() < deadline and proc.poll() is None:
        if os.path.exists(manifest_path):
            try:
                done = json.load(open(manifest_path))["stages"]
            except (json.JSONDecodeError, KeyError):
                done = {}
            if "graph" in done:  # >= 3 stages committed, dedup in flight
                proc.kill()  # SIGKILL — no cleanup, no atexit
                killed_after = sorted(done)
                break
        time.sleep(0.5)
    proc.wait()
    assert killed_after is not None, "child finished before the kill window"
    # resume with the SAME deterministic inputs
    man2 = lifecycle.run_lifecycle(
        spark, pages_dir=pages, docs=docs, out_dir=out_kill, ctx=ctx
    )["stages"]
    skipped = sorted(k for k, s in man2.items() if s["skipped"])
    recomputed = sorted(k for k, s in man2.items() if not s["skipped"])
    print(f"  kill/resume: killed after {killed_after}; resume skipped={skipped} "
          f"recomputed={recomputed}")
    assert set(killed_after) <= set(skipped), "a completed stage was recomputed"
    assert recomputed, "nothing left to recompute — kill landed too late"
    assert {k: s["rows"] for k, s in man2.items()} == {
        k: s["rows"] for k, s in man.items()
    }, "resumed run diverged from the uninterrupted run"
    shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    fam = "all"
    if "--family" in sys.argv:
        fam = sys.argv[sys.argv.index("--family") + 1]
    from cloudtrace_exporter_spark.session import get_spark

    spark = get_spark("scale_probe_100x")
    if fam in ("rank", "all"):
        probe_rank(spark)
    if fam in ("lsh", "all"):
        probe_lsh(spark)
    if fam in ("passjoin", "all"):
        probe_passjoin(spark)
    if fam in ("stream", "all"):
        probe_stream(spark)
    if fam in ("dbscan", "all"):
        probe_dbscan(spark)
    if fam in ("textrank", "all"):
        probe_textrank(spark)
    if fam in ("triangle", "all"):
        probe_triangle(spark)
    if fam in ("lifecycle", "all"):
        probe_lifecycle(spark)


if __name__ == "__main__":
    main()
