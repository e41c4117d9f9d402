"""Plan health report — one line per query: join strategies, exchange
count, pushed filters, and scan schema width, read from the physical plan.

The per-operator design contracts (broadcast dims, pushdown, no cartesian,
TakeOrdered top-k, shuffle budgets) are ASSERTED in tests/test_plans.py;
this tool is the human-readable sweep across the whole query surface.

Usage:
    python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, "/root/repo")


_SECTION_HEADERS = ("== Final Plan ==", "== Initial Plan ==", "== Current Plan ==")


def _col(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-"))


def _skip_tree(lines: list[str], i: int, floor: int, prev: int, bare: int = 0) -> int:
    """Index of the first line at or after ``i`` outside the tree being
    skipped: a blank line, a section header, a line at column <=
    ``floor``, a line more than two levels right of the line before it
    (a child prints 3 columns right of its parent, an inner child such
    as a cached plan 6), or — inside a section (see _skip_sections),
    whose lines carry no prefix of the enclosing tree — a line with a
    tree mark left of column ``bare``."""
    while i < len(lines):
        s = lines[i].lstrip(" :+-")
        col = len(lines[i]) - len(s)
        if (
            not s
            or s.startswith(_SECTION_HEADERS)
            or col <= floor
            or col > prev + 6
            or lines[i][:bare].strip()
        ):
            return i
        prev, i = col, i + 1
        if s.startswith("AdaptiveSparkPlan") and i < len(lines):
            if lines[i].lstrip(" :+-").startswith(_SECTION_HEADERS):
                # its plan prints in the sections, so it has no child
                # lines: the tree resumes at its own column or left of it
                i, prev = _skip_sections(lines, i), col - 6
    return i


def _skip_sections(lines: list[str], i: int) -> int:
    """Skip the ``== Final Plan ==`` / ``== Initial Plan ==`` sections an
    executed AdaptiveSparkPlan prints. Spark indents each section by the
    AdaptiveSparkPlan's depth in its own sub-plan, not under the
    enclosing tree, so a materialized cache's sections can sit LEFT of
    the InMemoryRelation that owns them; each section is its header and
    one tree whose root starts at the header's column; the Initial Plan
    section comes last."""
    while i < len(lines) and lines[i].lstrip(" :+-").startswith(_SECTION_HEADERS):
        last = lines[i].lstrip(" :+-").startswith("== Initial Plan ==")
        h = _col(lines[i])
        i = _skip_tree(lines, i + 2, h, h, bare=h)  # header, root at column h
        if last:
            break
    return i


def _strip_cached_subplans(plan: str) -> tuple[str, int]:
    """Drop the build plans printed inline under InMemoryRelation nodes.

    A cached subtree's exchanges run ONCE at cache materialization (or
    zero times when already warm), not per query — counting them per
    consumer would overstate the steady-state shuffle budget 2-3× for
    any plan that reuses a cached index (LSH signatures, as-of carry
    maps). Returns (stripped plan text, number of InMemoryRelations).
    """
    lines = plan.splitlines()
    out = []
    n_cached = 0
    i = 0
    while i < len(lines):
        ln = lines[i]
        if ln.lstrip(" :+-").startswith("InMemoryRelation"):
            n_cached += 1
            i = _skip_tree(lines, i + 1, _col(ln), _col(ln))
            continue
        out.append(ln)
        i += 1
    return "\n".join(out), n_cached


def audit(plan: str) -> dict:
    plan, n_cached = _strip_cached_subplans(plan)
    joins = {
        "BHJ": plan.count("BroadcastHashJoin"),
        "SMJ": plan.count("SortMergeJoin"),
        "SHJ": plan.count("ShuffledHashJoin"),
        "BNLJ": plan.count("BroadcastNestedLoopJoin"),
        "CART": plan.count("CartesianProduct"),
    }
    # stop at end-of-line too: Spark abbreviates long filter lists with a
    # trailing "..." and no closing bracket, which a greedy [^]]* would
    # swallow across lines (reporting pushed=0 for fully-pushed scans)
    pushed = re.findall(r"PushedFilters: \[([^\]\n]*)", plan)
    n_pushed = sum(1 for p in pushed for f in p.split(",") if f.strip() and f.strip() != "[]")
    schemas = re.findall(r"ReadSchema: struct<([^>]*)", plan)
    widths = [len(s.split(",")) for s in schemas] or [0]
    n_broadcast = plan.count("BroadcastExchange")
    n_reused = plan.count("ReusedExchange")
    # a SinglePartition exchange feeds a global aggregate: its input is
    # the map-side PARTIAL rows (one row per task), KBs by construction —
    # a scalar/offset/funnel-count branch, not a data movement. Report it
    # separately so the many-exchanges flag tracks real repartitions.
    n_single = plan.count("Exchange SinglePartition")
    return {
        "joins": "/".join(f"{k}:{v}" for k, v in joins.items() if v),
        # data shuffles only — broadcast exchanges move dimension-sized
        # data and are the POINT of the broadcast-join design, not a
        # smell; a ReusedExchange is the SAME shuffle read twice (one
        # write, two reads), not an additional shuffle
        "exchanges": plan.count("Exchange") - n_broadcast - n_reused - n_single,
        "tiny": n_single,
        "broadcasts": n_broadcast,
        "cached": n_cached,
        "pushed_filters": n_pushed,
        "scan_cols": max(widths),
    }


def _textrank_edge_build(spark, sf_dir: str):
    import __spark_entry__ as entry_mod
    from pyspark.sql import functions as F
    from cloudtrace_exporter_spark.operators import text as _text

    docs = entry_mod.load_table(spark, sf_dir, "documents")
    # doc_id + 0 defeats CacheManager sameResult matching: if textrank ran
    # earlier in this session its cache_once(und) would otherwise swap an
    # InMemoryTableScan in for the whole build and the fingerprint would
    # read 0 exchanges (the exact blindness this aux entry exists to fix).
    # Cache matching happens on analyzed plans, before constant folding,
    # so the physical SHAPE is identical to the production edge build.
    docs = docs.withColumn("doc_id", F.col("doc_id") + F.lit(0))
    return _text.word_cooccurrence_graph(docs)


# Sub-plans fingerprinted ALONGSIDE the registered queries: iterative
# operators whose registered plan starts from an eager localCheckpoint
# LogicalRDD (so the snapshot of the final frame is all zeros and blind
# to interior regressions) get their pre-checkpoint build plan pinned
# here instead (round-10 review note on q_textrank_keywords).
def _containment_index_build(spark, sf_dir: str):
    import __spark_entry__ as entry_mod
    from pyspark.sql import functions as F
    from cloudtrace_exporter_spark.operators import dedup as _dedup

    docs = entry_mod.load_table(spark, sf_dir, "documents")
    # +0 defeats CacheManager sameResult matching (see _textrank note);
    # _cache=False keeps the df-index build out of InMemoryRelation so
    # the fingerprint sees its exchanges, not a cache-scan stub.
    docs = docs.withColumn("doc_id", F.col("doc_id") + F.lit(0))
    return _dedup.containment_pairs_blocked(docs, _cache=False)


AUX_PLANS = {
    "q_textrank_keywords__edge_build": _textrank_edge_build,
    "q_containment_pairs__index_build": _containment_index_build,
}

# Non-headline keys whose plan shape is still worth holding to a
# fingerprint (round 11): the snapshot pins them without putting them
# on the bench clock.
SNAPSHOT_EXTRA = [
    "q_minhash_incremental",
    "q_semantic_contamination",
    "q_phash_incremental_verified",
]


def snapshot_fingerprints(spark, names: list[str], sf_dir: str) -> dict:
    """Per-query PLAN FINGERPRINT (join-strategy counts, data-shuffle
    count, broadcast count) for the regression snapshot: a future change
    that silently loses a broadcast, adds a shuffle, or introduces a
    cartesian product diffs against this. Regenerate deliberately with
    ``python tools/plan_audit.py --snapshot`` after an INTENTIONAL plan
    change."""
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    out = {}
    for name in names:
        df = (
            AUX_PLANS[name](spark, sf_dir)
            if name in AUX_PLANS
            else qs[name](spark, sf_dir)
        )
        plan, _ = (
            df._jdf.queryExecution().executedPlan().toString(),
            None,
        )
        stripped, _n = _strip_cached_subplans(plan)
        out[name] = {
            "cart": stripped.count("CartesianProduct"),
            "bnlj": stripped.count("BroadcastNestedLoopJoin"),
            "smj": stripped.count("SortMergeJoin"),
            "shj": stripped.count("ShuffledHashJoin"),
            "bhj": stripped.count("BroadcastHashJoin"),
            "exchanges": audit(plan)["exchanges"],
            "broadcasts": stripped.count("BroadcastExchange"),
        }
    return out


def main() -> None:
    if "--snapshot" in sys.argv:
        import json

        import bench
        from cloudtrace_exporter_spark.session import get_spark

        spark = get_spark("plan-audit")
        sf_dir = "/root/testdata/sf0.01"
        snap = snapshot_fingerprints(
            spark, bench.HEADLINE + sorted(AUX_PLANS) + SNAPSHOT_EXTRA, sf_dir
        )
        path = "/root/repo/tests/plan_snapshot.json"
        with open(path, "w") as f:
            json.dump(snap, f, indent=1, sort_keys=True)
        print(f"wrote {len(snap)} fingerprints to {path}")
        return
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from cloudtrace_exporter_spark.session import get_spark

    spark = get_spark("plan-audit")
    for name, fn in entry_mod.queries().items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            info = audit(df._jdf.queryExecution().executedPlan().toString())
            flags = []
            if "CART" in info["joins"]:
                flags.append("!! cartesian")
            if info["exchanges"] > 6:
                flags.append("!! many exchanges")
            print(
                f"{name:28s} joins[{info['joins'] or '-':24s}] "
                f"shuf={info['exchanges']:<2d} bcast={info['broadcasts']:<2d} "
                f"pushed={info['pushed_filters']:<2d} "
                f"scan_cols={info['scan_cols']:<2d} "
                f"{'tiny=' + str(info['tiny']) + ' ' if info['tiny'] else ''}"
                f"{'cached=' + str(info['cached']) + ' ' if info['cached'] else ''}"
                f"{' '.join(flags)}"
            )
        except Exception as exc:  # keep sweeping
            print(f"{name:28s} ERROR {type(exc).__name__}: {exc}")


if __name__ == "__main__":
    main()
