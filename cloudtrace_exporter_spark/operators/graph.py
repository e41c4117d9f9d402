"""Graph materialization — set-oriented replacement for the Neo4j MERGE sink.

The reference loads each event into Neo4j as a star-shaped subgraph with
one Cypher transaction per event (/root/reference/pkg/neo4j/client.go:10-21,
50-84): 6 ``MERGE`` nodes + 5 ``MERGE`` edges, where MERGE-by-key makes
re-delivery idempotent. The set-oriented Spark equivalent: build one
DataFrame per node label and per edge type from a micro-batch (or the
whole history) and ``dropDuplicates`` on the MERGE key — identical
semantics, but O(batch) shuffles instead of O(events) transactions.

Layout follows the GraphFrames convention: node frames carry an ``id``
(or composite key) + attributes; edge frames carry ``src``/``dst``.

Scale note (100 TB): each builder is select+dropDuplicates — one shuffle
per node/edge table, all on narrow key columns. Dimension tables
(regions/statuses/tenants) collapse to a handful of rows, so downstream
joins against them are broadcasts. ``actions`` is the fact table; keep it
partitioned by its id (the dedup shuffle already does).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cloudtrace_exporter_spark.schemas import NODE_KEYS

# Every node and edge table of the MERGE template as (column, event
# column) pairs. A node's MERGE key is its NODE_KEYS prefix; an edge's is
# its whole row. build_nodes/build_edges, GRAPH_TABLE_KEYS and the
# streaming sink's single anti-join all read these two maps.
NODE_COLUMNS: dict[str, tuple[tuple[str, str], ...]] = {
    # MERGE (region:REGION{name:$region})            client.go:10
    "regions": (("name", "region"),),
    # MERGE (status:STATUS{id:$status})               client.go:11
    "statuses": (("id", "status"),),
    # MERGE (subject:SUBJECT{id:$subject})            client.go:12
    "subjects": (("id", "subject"),),
    # MERGE (tenant:TENANT{tenantId,domainId})        client.go:13 (composite key)
    "tenants": (("tenant_id", "tenant"), ("domain_id", "domain")),
    # MERGE (resource:RESOURCE{id:$resourceId})       client.go:14
    "resources": (("id", "resource_id"),),
    # MERGE (action:ACTION{id,timestamp,source,type}) client.go:15
    "actions": (("id", "event_id"), ("timestamp", "event_time"), ("source", "source"), ("type", "type")),
}

# The Cypher states APPLIED_ON twice (client.go:15 and :18) — redundant
# but MERGE-idempotent; here it is naturally a single dedup'd edge set.
# The composite tenant key is carried as two columns.
EDGE_COLUMNS: dict[str, tuple[tuple[str, str], ...]] = {
    # ACTION-[:APPLIED_ON]->RESOURCE                  client.go:15,18
    "applied_on": (("src", "event_id"), ("dst", "resource_id")),
    # TENANT-[:LOCATED_AT]->REGION                    client.go:16
    "located_at": (("src", "tenant"), ("src_domain", "domain"), ("dst", "region")),
    # RESOURCE-[:MEMBER_OF]->TENANT                   client.go:17
    "member_of": (("src", "resource_id"), ("dst", "tenant"), ("dst_domain", "domain")),
    # ACTION-[:WITH_STATUS]->STATUS                   client.go:19
    "with_status": (("src", "event_id"), ("dst", "status")),
    # ACTION-[:PERFORMED_BY]->SUBJECT                 client.go:20
    "performed_by": (("src", "event_id"), ("dst", "subject")),
}


def _project(events: DataFrame, cols: tuple[tuple[str, str], ...], keys: list[str]) -> DataFrame:
    """``cols`` selected from an EVENT_SCHEMA frame, dedup'd on ``keys``."""
    return events.select(
        *[F.col(ev) if ev == name else F.col(ev).alias(name) for name, ev in cols]
    ).dropDuplicates(keys)


def build_nodes(events: DataFrame) -> dict[str, DataFrame]:
    """EVENT_SCHEMA frame → the 6 node tables (client.go:10-15), dedup'd by key."""
    return {name: _project(events, cols, NODE_KEYS[name]) for name, cols in NODE_COLUMNS.items()}


def build_edges(events: DataFrame) -> dict[str, DataFrame]:
    """EVENT_SCHEMA frame → the 5 edge tables (client.go:15-20), dedup'd."""
    return {
        name: _project(events, cols, [c for c, _ in cols]) for name, cols in EDGE_COLUMNS.items()
    }


def build_graph(events: DataFrame) -> tuple[dict[str, DataFrame], dict[str, DataFrame]]:
    """Full graph build for a batch of events (A14, set-oriented)."""
    return build_nodes(events), build_edges(events)


# MERGE key of every node/edge table (client.go:10-21), in output order.
# Keys are column tuples of the NORMALIZED event frame, not of the built
# tables — that is what lets the summary below run off one scan.
GRAPH_TABLE_KEYS: dict[str, tuple[str, ...]] = dict(
    sorted(
        [
            (f"node:{n}", tuple(ev for _, ev in cols[: len(NODE_KEYS[n])]))
            for n, cols in NODE_COLUMNS.items()
        ]
        + [(f"edge:{n}", tuple(ev for _, ev in cols)) for n, cols in EDGE_COLUMNS.items()]
    )
)

#: Store path of every table ("nodes/regions") → (its columns, the length
#: of its MERGE key, which leads the columns).
GRAPH_TABLES: dict[str, tuple[tuple[tuple[str, str], ...], int]] = {
    f"{kind}s/{name}": (cols, len(GRAPH_TABLE_KEYS[f"{kind}:{name}"]))
    for kind, spec in (("node", NODE_COLUMNS), ("edge", EDGE_COLUMNS))
    for name, cols in spec.items()
}

#: Key slots of the long graph frame. A table with a shorter key fills the
#: rest with a constant, on the batch side and the store side alike.
KEY_SLOTS = ("k1", "k2", "k3")


def graph_rows(events: DataFrame) -> DataFrame:
    """Every node and edge row of ``events`` as ONE long frame
    ``(table, k1, k2, k3, <payload>)``, deduplicated once on
    ``(table, k1, k2, k3)``.

    ``table`` is the store path (``nodes/regions``), the key slots hold the
    table's MERGE key and the payload holds the non-key columns (the
    action's ``timestamp``, ``source`` and ``type``), null for every other
    table. One scan and one dedup stand for the 11 of ``build_graph``;
    ``table_rows`` turns a table's slice back into its own columns. A null
    key is kept once per table, as ``dropDuplicates`` keeps it, and never
    equals a stored key in an anti-join.
    """
    types = {f.name: f.dataType for f in events.schema}
    payload = {name: ev for cols, n in GRAPH_TABLES.values() for name, ev in cols[n:]}
    structs = []
    for path, (cols, n) in GRAPH_TABLES.items():
        keys = [F.col(ev) for _, ev in cols[:n]] + [F.lit("")] * (len(KEY_SLOTS) - n)
        own = {name for name, _ in cols[n:]}
        structs.append(
            F.struct(
                F.lit(path).alias("table"),
                *[k.alias(slot) for k, slot in zip(keys, KEY_SLOTS)],
                *[
                    (F.col(ev) if name in own else F.lit(None).cast(types[ev])).alias(name)
                    for name, ev in payload.items()
                ],
            )
        )
    return (
        events.select(F.explode(F.array(*structs)).alias("r"))
        .select("r.*")
        .dropDuplicates(["table", *KEY_SLOTS])
    )


def table_rows(rows: DataFrame, path: str) -> DataFrame:
    """One table's slice of a ``graph_rows`` frame, with the table's own
    column names and types (those of ``build_graph``)."""
    cols, n = GRAPH_TABLES[path]
    return rows.filter(F.col("table") == path).select(
        *[F.col(slot).alias(name) for (name, _), slot in zip(cols[:n], KEY_SLOTS)],
        *[name for name, _ in cols[n:]],
    )


def table_keys(table: DataFrame, path: str) -> DataFrame:
    """A stored table's MERGE keys in the ``graph_rows`` key shape
    ``(table, k1, k2, k3)``, the other side of the batch's anti-join."""
    cols, n = GRAPH_TABLES[path]
    keys = [F.col(name) for name, _ in cols[:n]] + [F.lit("")] * (len(KEY_SLOTS) - n)
    return table.select(
        F.lit(path).alias("table"), *[k.alias(slot) for k, slot in zip(keys, KEY_SLOTS)]
    )


def summarize_graph(events: DataFrame) -> DataFrame:
    """Per-table cardinality of the full graph build — in ONE scan.

    Building all 11 tables and counting each separately costs 11 scans of
    the event history plus 11 dedup shuffles; at 100 TB that is 11 full
    passes for what is semantically one multi-distinct aggregation. This
    computes every table's MERGE-key distinct count in a single
    aggregation (Catalyst plans the multi-distinct via one Expand over one
    scan), then unpivots to (table, n) rows.

    Each key tuple is wrapped in a struct so null keys count as a group —
    identical to ``dropDuplicates`` on the built table (bare
    count(DISTINCT a, b) would skip tuples containing a null).
    """
    aggs = [
        F.count_distinct(F.struct(*cols)).alias(name)
        for name, cols in GRAPH_TABLE_KEYS.items()
    ]
    wide = events.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(F.lit(name).alias("table"), F.col(f"`{name}`").alias("n"))
            for name in GRAPH_TABLE_KEYS
        ]
    )
    return (
        wide.select(F.explode(pairs).alias("kv"))
        .select("kv.table", "kv.n")
        .orderBy("table")
    )


def upsert_nodes(existing: DataFrame, incoming: DataFrame, key_cols: list[str]) -> DataFrame:
    """MERGE-into-existing semantics without a transactional table format:

    keep every existing row, add only incoming keys not already present
    (anti-join + union). This is the batch analog of re-running the
    reference's Cypher MERGE over a new micro-batch. With Delta/Iceberg on
    the cluster this becomes a real ``MERGE INTO``; the jars aren't in
    this image, so the composition stays format-agnostic.
    """
    fresh = incoming.join(existing, on=key_cols, how="left_anti")
    return existing.unionByName(fresh)


def degree_distribution(edges: DataFrame, *, node_col: str = "dst") -> DataFrame:
    """Degree histogram of one endpoint of an edge table: (degree,
    n_nodes). The graph-health profile the reference's Neo4j would serve
    with a degree query — two shuffles, both with map-side partials, the
    second on the tiny degree domain."""
    deg = edges.groupBy(node_col).agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


def pagerank(
    edges: DataFrame,
    *,
    damping: float = 0.85,
    n_iter: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Power-iteration PageRank over a directed edge table → (id, pagerank).

    Fixed iteration count (deterministic output shape); each round is one
    join of ranks onto edges + one sum-aggregation — the classic
    distributed formulation. Lineage is truncated per round with
    localCheckpoint (same pattern as IVF k-means / connected components)
    so the plan stays flat across iterations. Out-degrees are computed
    once and reused. Dangling nodes keep teleport mass only (their
    outflow is not redistributed — document-ranking semantics don't need
    it; add a dangling-sum broadcast per round if mass conservation
    matters). |V| enters via one scalar count, not per-row collects.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = e.select(F.col("src").alias("id")).union(
        e.select(F.col("dst").alias("id"))
    ).distinct()
    n = nodes.count()
    if n == 0:
        # EMPTY graph (A12): no vertices, empty rank table — not an error
        return nodes.withColumn("rank", F.lit(0.0)).select("id", "rank")
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    weighted = e.join(out_deg, "src").persist()
    # ONE-EXCHANGE round (round 9): the old shape was agg(contribs) +
    # LEFT JOIN back onto nodes to re-seat missing ids (3 exchanges/
    # round); instead every node contributes a 0-stub row into the SAME
    # aggregation, so the teleport re-seat IS the agg — and the rank join
    # needs no new exchange because `weighted` is hash-partitioned on src
    # from its build join while ranks leave each round hash-partitioned
    # on id (the join keys). Values are bit-identical: sum(c ∪ {0}) =
    # coalesce(sum(c), 0). Checkpoints are lazy until the LAST round:
    # result-stage work is deferred and every round's RDD stays
    # persisted, so nothing recomputes — but with AQE enabled each
    # round's toRdd still materializes its shuffle stages, so don't
    # expect a literal single action when tuning n_iter.
    stub = nodes.withColumn("c", F.lit(0.0)).persist()
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _it in range(n_iter):
        msgs = weighted.join(ranks, weighted["src"] == ranks["id"]).select(
            F.col("dst").alias("id"), (F.col("rank") / F.col("out_deg")).alias("c")
        )
        ranks = (
            msgs.unionByName(stub)
            .groupBy("id")
            .agg(
                (F.lit((1 - damping) / n) + damping * F.sum("c")).alias("rank")
            )
            .localCheckpoint(eager=(_it == n_iter - 1))
        )
    weighted.unpersist()
    stub.unpersist()
    return ranks.select("id", F.round("rank", 6).alias("pagerank"))


def _pagerank_scaled_local(
    edge_rows, *, n_iter: int, scale: int
) -> list[tuple]:
    """Exact driver-side body of pagerank_scaled's small-graph fast path:
    the identical BIGINT trajectory (floor-div contributions, 85/100
    damping, teleport floor) over a bounded collected edge list. BIGINT
    sums are associative, so summation order cannot change a single
    value — bit-identical to the distributed rounds by construction.
    Returns (id, rank) tuples."""
    nodes = set()
    out_deg: dict = {}
    for s, d in edge_rows:
        nodes.add(s)
        nodes.add(d)
        if s is not None:
            out_deg[s] = out_deg.get(s, 0) + 1
    n = len(nodes)
    if n == 0:
        return []
    teleport = (scale * 15) // (100 * n)
    ranks = {i: scale // n for i in nodes}
    for _ in range(n_iter):
        csum: dict = {}
        for s, d in edge_rows:
            # a NULL src never matches the rank join (SQL null equality),
            # so its edge contributes nothing — but NULL is still a node
            # (the union-distinct keeps one null row) and a NULL dst still
            # RECEIVES contributions, exactly like the distributed rounds
            if s is None:
                continue
            csum[d] = csum.get(d, 0) + ranks[s] // out_deg[s]
        ranks = {
            i: teleport + (85 * csum.get(i, 0)) // 100 for i in nodes
        }
    # no sort: a None id is unorderable and row order is meaningless in
    # the returned relation
    return list(ranks.items())


def pagerank_scaled(
    edges: DataFrame,
    *,
    n_iter: int = 10,
    scale: int = 10**12,
    src: str = "src",
    dst: str = "dst",
    small_graph_edges: int = 200_000,
) -> DataFrame:
    """ORACLE-EXACT PageRank twin: the same fixed-iteration power method
    as :func:`pagerank`, but over INTEGER-scaled ranks (rank ≈ true
    pagerank × ``scale``, damping 0.85 as the exact 85/100 rational,
    floor division throughout). Float power iteration accumulates
    engine-specific summation-order noise; with every operation a BIGINT
    floor-div/multiply/sum, the whole 10-round trajectory is bit-exact
    across engines and replays in DuckDB as an unrolled CTE chain (the
    k-core recursive-CTE precedent, applied to PageRank). Rank error vs
    the float method is O(n_iter · max_in_degree / scale) — ~1e-9 at
    scale=1e12 — so ordering agrees except at genuine ties.

    Per-round plan shape is identical to :func:`pagerank`: one
    rank-onto-edges join + one incoming-sum aggregation, lineage
    truncated per round; |V| enters via one scalar count.

    Small-graph fast path (round 11, superseding the round-10 coalesce
    tier): when the edge list holds ≤ ``small_graph_edges`` rows, the
    whole ``n_iter``-round trajectory runs as ONE bounded driver-side
    loop over the collected edges (the connected_components union-find
    discipline — a 200k-edge list is ~3 MB of ids) and the ranks
    re-enter the plan as a LocalRelation. On a word-graph-sized input
    the distributed rounds are pure job/codegen overhead: 10 rounds ×
    (join + agg + localCheckpoint) ≈ 30 scheduled jobs for a few
    hundred edges (measured on the sf0.1 TextRank graph: ~12 CPU-s for
    the coalesced round-10 shape vs ~1 s collected). Every operation is
    a BIGINT floor-div/multiply/sum replayed verbatim in Python, so the
    values are bit-identical to the distributed rounds (the same
    argument that makes the DuckDB unrolled-CTE oracle exact). Larger
    graphs keep the partitioned per-round shape untouched;
    ``small_graph_edges=0`` forces the distributed path (its tests).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if small_graph_edges:
        probe = e.limit(small_graph_edges + 1).collect()
        if len(probe) <= small_graph_edges:
            id_type = dict(e.dtypes)["src"]
            ranked = _pagerank_scaled_local(
                [(r[0], r[1]) for r in probe], n_iter=n_iter, scale=scale
            )
            return e.sparkSession.createDataFrame(
                ranked, f"id {id_type}, pagerank_scaled bigint"
            )
    nodes = e.select(F.col("src").alias("id")).union(
        e.select(F.col("dst").alias("id"))
    ).distinct()
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("pagerank_scaled", F.lit(0).cast("long")).select(
            "id", "pagerank_scaled"
        )
    teleport = (scale * 15) // (100 * n)
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    weighted = e.join(out_deg, "src")
    # one-exchange round + lazy-until-last checkpoint cascade — see
    # pagerank; sum(c ∪ {0}) = coalesce(sum(c), 0) keeps the BIGINT
    # trajectory bit-identical to the unrolled DuckDB CTE replay
    stub = nodes.withColumn("c", F.lit(0).cast("long"))
    ranks = nodes.withColumn("rank", F.lit(scale // n).cast("long"))
    if n <= 50_000:
        weighted, stub, ranks = (
            weighted.coalesce(1),
            stub.coalesce(1),
            ranks.coalesce(1),
        )
    weighted = weighted.persist()
    stub = stub.persist()
    for _it in range(n_iter):
        msgs = weighted.join(ranks, weighted["src"] == ranks["id"]).select(
            F.col("dst").alias("id"), F.expr("rank DIV out_deg").alias("c")
        )
        ranks = (
            msgs.unionByName(stub)
            .groupBy("id")
            .agg(
                (
                    F.lit(teleport).cast("long")
                    + F.expr("85 * sum(c) DIV 100")
                ).alias("rank")
            )
            .localCheckpoint(eager=(_it == n_iter - 1))
        )
    weighted.unpersist()
    stub.unpersist()
    return ranks.select("id", F.col("rank").alias("pagerank_scaled"))


def neighbor_jaccard(
    edges: DataFrame,
    *,
    min_shared: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Link prediction by neighborhood overlap: for every pair of source
    nodes sharing at least ``min_shared`` destination neighbors, the
    Jaccard similarity of their neighbor sets — the classic
    common-neighbors predictor ("these two subjects touch the same
    resources, they're probably related") run over the bipartite
    subject→resource graph.

    Plan shape is the co-occurrence join, NOT an n² node self-join:
    dedup'd edges self-join on the SHARED DESTINATION (each resource's
    subject list pairs within itself — O(Σ deg²), the bounded quantity),
    count shared neighbors per pair, and fetch the two degrees from a
    broadcast degree table. The ``min_shared`` floor prunes the noise
    pairs BEFORE the degree join. Hub destinations are the skew risk at
    100 TB — cap or sample their adjacency like the LSH bucket caps.
    Emits (src_a, src_b, shared, deg_a, deg_b, jaccard), id-ordered.
    """
    # the dedup'd adjacency feeds three consumers (both join sides +
    # degrees): materialize it once — persisting the adjacency list is
    # the standard first step of any neighborhood-similarity job, and
    # without it each consumer replays the scan+distinct
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .distinct()
        .localCheckpoint()
    )
    deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    a, b = e.alias("a"), e.alias("b")
    shared = (
        a.join(b, (F.col("a.d") == F.col("b.d")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("src_a"), F.col("b.s").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
    da = F.broadcast(deg.select(F.col("s").alias("src_a"), F.col("deg").alias("deg_a")))
    db = F.broadcast(deg.select(F.col("s").alias("src_b"), F.col("deg").alias("deg_b")))
    return (
        shared.join(da, "src_a")
        .join(db, "src_b")
        .select(
            "src_a",
            "src_b",
            "shared",
            "deg_a",
            "deg_b",
            F.round(
                F.col("shared")
                / (F.col("deg_a") + F.col("deg_b") - F.col("shared")),
                6,
            ).alias("jaccard"),
        )
    )


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 10,
) -> DataFrame:
    """Multi-source BFS hop distances over an undirected edge list →
    (node, dist). The Cypher ``shortestPath((a)-[*]-(b))`` parity the
    reference's Neo4j graph serves (README.md:39-48) — unbounded
    variable-length paths, where the fixed-hop joins (q_subject_reach)
    stop at a known depth.

    Frontier-at-a-time (Pregel-style): each hop expands only the nodes
    discovered last round, anti-joins against everything already
    settled, and stops early when the frontier empties. Per hop that is
    one equi-join keyed on node id + one node-sized anti-join — the
    fact-scale edge list is symmetrized and checkpointed ONCE, and
    lineage is truncated every round (localCheckpoint) so the plan does
    not deepen with hop count. `sources` is a 1-column frame of seed
    ids; distances are exact minimum hop counts because a node is
    settled the first round it appears.
    """
    sym = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .union(edges.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    dist = (
        sources.select(F.col(sources.columns[0]).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0))
        .localCheckpoint(eager=True)
    )
    frontier = dist.select("node")
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(sym, frontier["node"] == sym["s"])
            .select(F.col("d").alias("node"))
            .distinct()
            .join(dist, "node", "left_anti")
            .withColumn("dist", F.lit(hop))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        dist = dist.union(nxt).localCheckpoint(eager=True)
        frontier = nxt.select("node")
    return dist


def kcore(
    edges: DataFrame,
    *,
    k: int = 2,
    max_iters: int = 50,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-core decomposition: the maximal subgraph where every node has
    degree ≥ k (undirected; parallel edges and self-loops collapsed).
    Returns the surviving nodes with their in-core degree — the standard
    "dense kernel" extractor for near-dup cluster quality, spam rings,
    and community seeding.

    Iterative peeling: drop nodes under degree k, re-derive degrees,
    repeat to fixpoint. Each round is one degree aggregation + two
    semi-joins on the (small, shrinking) survivor set; lineage is
    truncated per round (localCheckpoint — same posture as pagerank /
    connected components) and the convergence probe moves ONE scalar per
    round. Round count is bounded by the peeling depth (≤ max degree),
    max_iters is the adversarial backstop.
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
    )
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).localCheckpoint(
        eager=True
    )
    n_prev = und.count()
    for _ in range(max_iters):
        deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("a")
        und = (
            und.join(keep, "a", "left_semi")
            .join(keep.withColumnRenamed("a", "b"), "b", "left_semi")
            .localCheckpoint(eager=True)
        )
        n_now = und.count()
        if n_now == n_prev:
            break
        n_prev = n_now
    return (
        und.groupBy("a")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .filter(F.col("core_degree") >= k)
        .select(F.col("a").alias("id"), "core_degree")
    )


def label_propagation(
    edges: DataFrame,
    *,
    n_rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Deterministic synchronous label propagation (community
    detection): every node starts as its own label; each round, a node
    adopts the most frequent label among its neighbors AND itself
    (self-inclusive voting), ties broken by SMALLEST label — the
    Raghavan et al. 2007 algorithm with the random tie-flip replaced
    by a total order and the known synchronous-update oscillation on
    bipartite structures damped by the self-vote, so the trajectory is
    a pure function of the graph (and a DuckDB CTE chain replays it
    round for round). A fixed ``n_rounds`` keeps the unrolled oracle
    finite; on this family of graphs 4 rounds is past the fixpoint for
    the dense cores.

    Scale shape: per round ONE neighbor-label join + ONE (node, label)
    aggregation — both keyed shuffles on the (shrinking-entropy) label
    frame; lineage truncated per round (localCheckpoint, the
    pagerank/k-core posture). Labels are the node ids themselves
    (strings) — no hash, engine-portable ordering.

    Returns (id, community) for every node with ≥1 edge.
    """
    e = (
        edges.select(
            F.col(src).cast("string").alias("a"), F.col(dst).cast("string").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    und = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = und.select(F.col("a").alias("id")).distinct().withColumn("lbl", F.col("id"))
    for _it in range(n_rounds):
        nbr = und.join(
            labels.withColumnRenamed("id", "b"), "b"
        ).select(F.col("a").alias("id"), "lbl")
        votes = nbr.unionByName(labels.select("id", "lbl"))
        counts = votes.groupBy("id", "lbl").agg(F.count(F.lit(1)).alias("cnt"))
        labels = (
            counts.groupBy("id")
            .agg(F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("lbl"))).alias("m"))
            .select("id", F.col("m.lbl").alias("lbl"))
            # fixed-round loop, no convergence probe → lazy-until-last
            # checkpoint cascade (one materializing action total; each
            # round's RDD is still persisted + lineage-cut — the
            # pagerank posture)
            .localCheckpoint(eager=(_it == n_rounds - 1))
        )
    return labels.select("id", F.col("lbl").alias("community")).orderBy("id")


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected edge set — the local
    clustering signal on the near-dup graph: a document in many
    triangles sits in a densely mutual duplicate cluster (template spam,
    mirror farms), while a chain of pairwise-similar docs has none. The
    standard compact-forward/node-iterator formulation: with edges
    oriented ``a < b``, every triangle a<b<c is counted exactly once as
    (ab, bc, ac).

    Input: first two columns = endpoint ids (any names); orientation
    and duplicate edges are normalized here. All equi-joins — wedge
    enumeration joins edges on the shared middle vertex, closure is a
    semi-join back on (a, c); at 100 TB this is the join plan every
    distributed triangle counter (e.g. Cohen's MapReduce scheme) uses,
    with the LSH-bounded pair set keeping wedge volume linear-ish.
    Output: (doc_id, n_triangles) for every vertex in ≥1 triangle.
    """
    from cloudtrace_exporter_spark.session import cache_once

    ca, cb = edges.columns[:2]
    # the oriented distinct edge set fans out THREE ways below (both
    # wedge sides + the closure semi-join); without materialization each
    # consumer replays the upstream pair build — for an LSH-banded input
    # that's the whole signature/bucket join × 3 (round 10: the
    # q_triangle_degree 29-shuffle bill). cache_once keys on the logical
    # plan, so repeated queries over the same (corpus, banding) share it.
    e = cache_once(
        edges.select(
            F.least(F.col(ca), F.col(cb)).alias("a"),
            F.greatest(F.col(ca), F.col(cb)).alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    ab = e.select(F.col("a"), F.col("b"))
    bc = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    wedges = ab.join(bc, "b")
    tri = wedges.join(
        e.select(F.col("a"), F.col("b").alias("c")), ["a", "c"], "left_semi"
    ).select("a", "b", "c")
    # one evaluation of the wedge+closure chain, not three: the 3-way
    # unionAll re-ran the semi-join probe per branch (a 96-task stage at
    # local[32] — each branch reads the reused shuffle but replays the
    # join+project). explode(array(a,b,c)) emits the identical vertex
    # multiset in a single pass (round 12, guide §2.4 — the union was an
    # accidental 3x of the final join stage).
    nodes = tri.select(
        F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("doc_id")
    )
    return (
        nodes.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
        .orderBy("doc_id")
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity of an undirected graph (Newman 2002) — the
    Pearson correlation of endpoint degrees over edges: positive means
    hubs link to hubs (one giant template family), negative means
    hub-and-spoke (a boilerplate page pairing with many singletons) —
    structure the triangle/k-core numbers alone can't separate.

    Exactness strategy: degrees are integer counts; each undirected
    edge contributes BOTH orientations (the standard symmetric
    formulation, which also makes Σx = Σy by construction); all five
    sufficient statistics (m, Σx, Σxy, Σx² — the Σy twins coincide by
    that symmetry) are exact BIGINTs, and because var(x) = var(y) the
    Pearson sqrt CANCELS: r = (m·Σxy − (Σx)²)/(m·Σx² − (Σx)²) — ONE
    pinned division, round(·, 6). Integer domain: m·Σxy < 2⁶³ holds
    while edges·max-degree² ≲ 10¹⁸ — posting-capped near-dup graphs
    stay far under it. A degenerate
    graph (all degrees equal, zero variance) emits NULL, never a
    crash. One row out: (n_edges, n_nodes, assortativity).

    Scale shape: one degree aggregate, one broadcast-joinable degree
    lookup per endpoint (ids only), one global reduce. Never touches
    payloads.
    """
    ca, cb = edges.columns[:2]
    e = (
        edges.select(
            F.least(F.col(ca), F.col(cb)).alias("a"),
            F.greatest(F.col(ca), F.col(cb)).alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = und.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("d"))
    pairs = (
        und.join(deg.withColumnRenamed("a", "a").withColumnRenamed("d", "dx"), "a")
        .join(
            deg.select(F.col("a").alias("b"), F.col("d").alias("dy")),
            "b",
        )
        .select("dx", "dy")
    )
    s = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("m2"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
    )
    nodes = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    num = (F.col("m2") * F.col("sxy") - F.col("sx") * F.col("sx")).cast("double")
    var = (F.col("m2") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return (
        s.crossJoin(F.broadcast(nodes))
        .select(
            (F.col("m2") / 2).cast("long").alias("n_edges"),
            "n_nodes",
            F.when(var > 0, F.round(num / var, 6)).alias("assortativity"),
        )
    )
