"""Distributed connected components + near-duplicate clustering
(SURVEY.md §2.4b P-family extension, r3).

The dedup operators (``minhash_lsh_pairs`` / ``simhash_pairs`` /
``near_dup_cosine_lsh``) emit PAIRS; an actual dedup pass needs the
transitive closure of those pairs — duplicate GROUPS — so one canonical
document per group can be kept. That closure is connected components
over the pair graph.

``connected_components`` implements the alternating large-star /
small-star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond", public) as plain DataFrame rounds:

- large-star: every node hooks its LARGER neighbors onto the minimum
  of its closed neighborhood — one hash aggregate + one equi-join, no
  collect_list, so a 10^8-degree hub never materializes its adjacency
  in a single row.
- small-star: every node hooks its smaller-or-equal neighbors (and
  itself) onto its minimum smaller neighbor.

Both steps strictly reduce a monotone potential and converge to star
graphs whose centers are the component minima in O(log n) rounds on
real graphs (near-dup clusters have tiny diameters: 2-4 rounds).

This is an ITERATIVE operator — the documented exception to the
"fixed lazy plan" rule (driver brief: "genuinely non-SQL-expressible
ops ... iterative algorithms"): each round materializes the shrunken
edge set (persist + a count/bit_xor action for the convergence check)
exactly like GraphFrames' CC does. The per-round driver work is one
3-column aggregate row; everything else is distributed. When the
diameter bound is known (dedup clusters), pass ``rounds=k`` for k
rounds with zero driver actions — lazily checkpointed per round so
the analyzed plan stays constant-size.

Oracle strategy: connected components ARE SQL-expressible on small
inputs via a recursive CTE (min-label transitive closure), so the
driver gate runs a completely independent DuckDB ``WITH RECURSIVE``
implementation — not a replay (q_connected_components, q_dedup_groups).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "bfs_hops",
    "sssp",
    "pagerank",
    "triangle_count",
    "clustering_coefficient",
    "kcore",
    "connected_components",
    "near_dup_groups",
    "link_predict",
    "dedup_canonical",
    "random_walks",
    "walk_pairs",
    "maximal_matching",
    "node2vec_walks",
    "personalized_pagerank",
    "negative_samples",
    "luby_mis",
    "topo_layers",
    "adamic_adar",
    "scc",
    "mis_coloring",
    "tree_betweenness",
]


def _large_star(e: DataFrame) -> DataFrame:
    """Edges (u,v) -> edges (larger neighbor, min of closed nbhd)."""
    sym = e.select("u", "v").union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("_mn"))
        .select("u", F.least(F.col("_mn"), F.col("u")).alias("m"))
    )
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient large->small, then hook each node + its smaller neighbors
    onto its minimum smaller neighbor."""
    oriented = (
        e.select(
            F.greatest(F.col("u"), F.col("v")).alias("u"),
            F.least(F.col("u"), F.col("v")).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    j = oriented.join(oriented.groupBy("u").agg(F.min("v").alias("m")), "u")
    return (
        j.select(F.col("u").alias("a"), F.col("m"))
        .union(j.select(F.col("v").alias("a"), F.col("m")).where(F.col("v") != F.col("m")))
        .select(F.col("a").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int | None = None,
    max_rounds: int = 50,
) -> DataFrame:
    """Connected components of the undirected graph given by
    ``edges[src, dst]``. Returns ``(node, component)`` for every node
    that appears in the edge list, where ``component`` is the MINIMUM
    node id in the component (deterministic, engine-independent).

    ``rounds=None`` (default) iterates large-star/small-star to the
    fixpoint, checking convergence with one (count, bit_xor-of-hash)
    aggregate per round — O(log n) rounds, each round two narrow
    shuffles. Each round's edge set is ``localCheckpoint``-ed: one
    round references its input ~6 times, so WITHOUT truncating the
    LOGICAL plan Catalyst re-analysis is 6^rounds — the classic
    iterative-DataFrame trap (persist alone truncates computation,
    not analysis). This is the documented iterative exception to the
    fixed-lazy-plan rule, the same pattern GraphFrames CC uses.

    ``rounds=k`` runs exactly k rounds with NO convergence checks — no
    per-round collect round-trips, no fixpoint actions — correct when
    2^k exceeds the graph diameter (near-dup clusters: k=4 covers any
    realistic corpus). Each round ends in ``localCheckpoint
    (eager=False)``: one star step references its input ~30 times, so
    without truncating the LOGICAL plan each round would multiply the
    analyzed tree ~30x (k=4 -> ~10^6 leaves, minutes of pure Catalyst
    analysis — measured). The checkpoint physical-plans each round once
    (constant size; pinned by test). Note Spark cannot hold a
    multi-round star plan fully lazy: under AQE the intermediate
    shuffle stages materialize when the checkpointed RDD is built, so
    the distributed work starts at build — the point is the bounded
    plan and the absence of driver pacing, not deferral.
    """
    if rounds is not None and not 1 <= rounds <= 64:
        raise ValueError(f"rounds must be in [1, 64], got {rounds}")
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # nodes BEFORE dropping self-loops: a (x, x) edge still names x,
    # which must come back as its own singleton component
    nodes = raw.select(F.col("u").alias("node")).union(raw.select(F.col("v").alias("node"))).distinct()
    e = raw.where(F.col("u") != F.col("v")).distinct()

    if rounds is not None:
        for _ in range(rounds):
            e = _small_star(_large_star(e)).localCheckpoint(eager=False)
    else:
        prev_sig = None
        for _ in range(max_rounds):
            # localCheckpoint truncates the LOGICAL plan (not just the
            # computed lineage) so round r+1 analyzes a constant-size
            # plan instead of a ~6^r tree
            nxt = _small_star(_large_star(e)).localCheckpoint(eager=True)
            sig = nxt.agg(
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(xxhash64(u, v))").alias("h"),
            ).collect()[0]
            sig = (sig["n"], sig["h"])
            e = nxt
            if sig == prev_sig:
                break
            prev_sig = sig
        else:
            raise ValueError(f"connected_components did not converge in {max_rounds} rounds")

    # Converged star edges point (member -> component min); a root (the
    # min itself) only appears on the v side. min() is a no-op safety
    # net for the fixed-rounds variant mid-convergence.
    comp = e.groupBy("u").agg(F.min("v").alias("component")).select(F.col("u").alias("node"), "component")
    return (
        nodes.join(comp, "node", "left")
        .select("node", F.coalesce("component", F.col("node")).alias("component"))
    )


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    max_hops: int = 24,
) -> DataFrame:
    """Minimum hop distance from any source node over the UNDIRECTED
    graph ``edges[src, dst]`` — the routing-reachability primitive over
    an OSM way network (edges = consecutive way node pairs). Returns
    ``(node, hops)`` for every node within ``max_hops`` of a source
    (sources themselves at hops=0); unreachable nodes are absent.

    Frontier-parallel BFS (Pregel-style): round h joins the frontier to
    the symmetrized edges, anti-joins the visited set, checkpoints the
    new frontier. Per round: one equi-join + one anti-join shuffle, all
    frontier-width parallel — the iterative exception, like
    ``connected_components(rounds=None)``. The driver sees one count
    per round (loop control), never row data.

    The oracle contract for the driver gate: a DuckDB recursive CTE
    enumerating (node, hops<=max_hops) pairs and taking min(hops) —
    both sides cap at the SAME max_hops, so results agree even when the
    graph's eccentricity exceeds the cap.
    """
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    frontier = sources.select(F.col(node).alias("node")).distinct().localCheckpoint(eager=True)
    visited = frontier.select("node", F.lit(0).alias("hops")).localCheckpoint(eager=True)
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(sym, frontier["node"] == sym["u"])
            .select(F.col("v").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        frontier = nxt
        visited = visited.union(nxt.select("node", F.lit(h).alias("hops"))).localCheckpoint(
            eager=True
        )
    return visited


def sssp(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    node: str = "node",
    max_rounds: int = 24,
) -> DataFrame:
    """Single-source (well, source-SET) shortest path over the
    UNDIRECTED weighted graph ``edges[src, dst, weight]`` — distributed
    Bellman-Ford: round r relaxes every edge from the current distance
    frontier with one join + one min-aggregate. Returns ``(node,
    dist)`` for every node reachable within ``max_rounds`` edges
    (sources at dist 0). Paths needing more than ``max_rounds`` hops
    keep the best <=``max_rounds``-hop distance — cap the oracle the
    same way.

    Weights should be EXACT (integers or dyadic): path distances are
    sums, and only exact sums are reproducible across engines and
    partitionings. Negative weights are rejected (undirected graph: a
    negative edge is a negative cycle).

    Per round: frontier ⋈ edges (one shuffle) + union + min-groupBy
    (one shuffle), checkpointed; driver sees only the frontier count —
    the iterative exception, same contract as ``bfs_hops``. Early-exits
    when no distance improves.
    """
    if max_rounds < 0:
        raise ValueError(f"max_rounds must be >= 0, got {max_rounds}")
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"), F.col(weight).alias("w"))
    sym = (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"), "w"))
        .where(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    if sym.where(F.col("w") < 0).limit(1).count() > 0:
        raise ValueError("sssp requires non-negative weights")
    dist = (
        sources.select(F.col(node).alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("long").alias("dist"))
        .localCheckpoint(eager=True)
    )
    frontier = dist  # rows whose distance improved last round
    for _ in range(max_rounds):
        relaxed = frontier.join(sym, frontier["node"] == sym["u"]).select(
            F.col("v").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
        )
        nxt = (
            dist.union(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
        # improved rows = new best strictly below the old best (or new node)
        old = dist.select("node", F.col("dist").alias("_old"))
        frontier = (
            nxt.join(old, "node", "left")
            .where(F.col("_old").isNull() | (F.col("dist") < F.col("_old")))
            .select("node", "dist")
            .localCheckpoint(eager=True)
        )
        dist = nxt
        if frontier.isEmpty():
            break
    return dist


def near_dup_groups(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    pair_a: str = "id_a",
    pair_b: str = "id_b",
    rounds: int | None = 4,
) -> DataFrame:
    """Assign every document its near-duplicate group id = the minimum
    doc id in its duplicate cluster (singletons map to themselves).

    ``pairs`` is the output of any pair-generating dedup operator
    (minhash_lsh_pairs / simhash_pairs / near_dup_cosine_lsh). The
    default ``rounds=4`` needs no driver pacing at all: verified
    near-dup clusters have diameter << 2^4 (a chain of 16+ distinct
    hops of >=threshold similarity is not a duplicate cluster, it is a
    drifted corpus — pass rounds=None to iterate to fixpoint if that
    is genuinely the regime).
    """
    cc = connected_components(pairs, src=pair_a, dst=pair_b, rounds=rounds)
    return (
        docs.select(F.col(id_col))
        .join(cc.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("group_id"),
        )
    )


def dedup_canonical(groups: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Survivor set: one row per group — the canonical (minimum-id)
    document plus the group size. Input is ``near_dup_groups`` output."""
    return groups.groupBy("group_id").agg(
        F.min(id_col).alias(id_col),
        F.count(F.lit(1)).alias("group_size"),
    ).select(id_col, "group_id", "group_size")


def pagerank(
    edges: DataFrame,
    iterations: int = 6,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**12,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """INTEGER-QUANTIZED PageRank over the DIRECTED edge set (duplicate
    edges are collapsed; self-loops dropped). Returns ``(node,
    rank: bigint)`` where rank is in units of ``1/scale`` of a
    probability: every arithmetic step is int64 with floor division

        rank' = (scale*(den-num)) div den
                + (num * sum(rank_in div outdeg_in)) div den

    so the result is EXACTLY reproducible in any engine and under any
    partitioning / summation order — which is what makes it gateable
    (float PageRank sums doubles in shuffle order; its last bits are
    nondeterministic). The quantization error vs real PageRank is
    < iterations * n / scale — irrelevant at scale=10^12 — and the
    dangling-node mass is dropped (the common simplification; the
    oracle replays the same rule).

    Fixed ``iterations`` (power iteration converges geometrically at
    rate num/den; 6-10 rounds ranks web-shaped graphs). Per round: one
    equi-join of ranks onto edges + one hash aggregate on dst + one
    left join back to the node set — two shuffles, lazily checkpointed
    so the analyzed plan stays constant-size; NO driver actions at all
    (the loop is bounded, not convergence-paced).

    Overflow bound: num * (incoming mass) <= num * n * scale must stay
    below 2^63 — at scale 10^12 that is n <= ~10^5 nodes per CONNECTED
    sink; lower ``scale`` for larger graphs (scale 10^9 -> n <= 10^8).
    """
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0, got {iterations}")
    if not (0 < damping_num < damping_den):
        raise ValueError("need 0 < damping_num < damping_den")
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    base = (int(scale) * (damping_den - damping_num)) // damping_den
    ranks = nodes.select("node", F.lit(int(scale)).cast("long").alias("rank"))
    for _ in range(iterations):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("rank div outdeg").alias("c"),
            )
        )
        incoming = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = (
            nodes.join(incoming, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(f"({damping_num} * coalesce(s, 0L)) div {damping_den}")
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Exact global triangle count of the undirected simple graph
    (duplicate edges collapsed, self-loops dropped). Returns ONE row
    ``(n_nodes, n_edges, n_triangles)``.

    Algorithm: DEGREE-ORDERED edge orientation (the standard
    distributed trick — Suri & Vassilvitskii's MapReduce triangle
    counting): orient every edge from the endpoint with the smaller
    (degree, id) to the larger, enumerate wedges from each node's
    out-neighbors, and close them against the oriented edge set. Under
    this orientation every node's out-degree is O(sqrt(m)), so wedge
    volume is bounded by O(m^1.5) even on power-law graphs — a hub of
    degree 10^6 contributes almost NO wedges because nearly all its
    edges point INTO it. Without the ordering, wedges at hubs are
    degree^2 and the job dies at scale.

    Plan: degree aggregate + two equi-joins (wedge build, wedge close),
    all on node keys; the closing edge's orientation is forced by the
    same ordering, so each triangle is counted exactly once — no
    dedup stage. The oracle counts i<j<k triples by PLAIN ID ordering
    (a different orientation scheme) — equality of the totals checks
    both."""
    raw = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col("a") != F.col("b")
    )
    und = raw.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    ).distinct()
    deg = (
        und.select(F.col("u").alias("node"))
        .union(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    j = und.join(du, "u").join(dv, "v")
    ku = F.struct(F.col("du").alias("d"), F.col("u").alias("n"))
    kv = F.struct(F.col("dv").alias("d"), F.col("v").alias("n"))
    oriented = j.select(
        F.when(ku < kv, F.col("u")).otherwise(F.col("v")).alias("x"),
        F.when(ku < kv, F.col("v")).otherwise(F.col("u")).alias("y"),
        F.when(ku < kv, kv).otherwise(ku).alias("ykey"),
    )
    a = oriented.select(F.col("x"), F.col("y").alias("p"), F.col("ykey").alias("pk"))
    b = oriented.select(F.col("x"), F.col("y").alias("q"), F.col("ykey").alias("qk"))
    wedges = a.join(b, "x").where(F.col("pk") < F.col("qk")).select("p", "q")
    closing = oriented.select(F.col("x").alias("p"), F.col("y").alias("q"))
    tris = wedges.join(closing, ["p", "q"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    counts = und.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    return counts.crossJoin(tris).select("n_nodes", "n_edges", "n_triangles")


def kcore(
    edges: DataFrame,
    k: int,
    rounds: int | None = 8,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-core decomposition by synchronous peeling (Matula & Beck 1983,
    the distributed variant): repeatedly drop every node whose degree
    within the CURRENT alive subgraph is < k; the fixpoint is the
    k-core — the standard graph-mining densest-region primitive (and
    the unique maximal subgraph with min degree >= k, so the result is
    order-independent and gateable).

    Plan per round: one degree hash-aggregate + two semi-joins pruning
    the symmetric edge set — three node/edge-keyed shuffles, lazily
    ``localCheckpoint``-ed so the analyzed plan stays constant-size.
    Fixed ``rounds`` runs with ZERO driver actions (the oracle replays
    the identical round count, so the gate matches even pre-fixpoint);
    ``rounds=None`` peels to the fixpoint with one count action per
    round — the documented iterative exception (same convention as
    ``connected_components``). Synchronous peeling converges in at most
    the graph's degeneracy-ordering depth — tens of rounds on
    real-world graphs.

    Returns ``(node, degree)`` of the alive subgraph after the final
    round (degree measured WITHIN it).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    e0 = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col("a") != F.col("b")
    )
    und = (
        e0.union(e0.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def peel(e: DataFrame) -> DataFrame:
        keep = (
            e.groupBy("a")
            .agg(F.count(F.lit(1)).alias("_d"))
            .where(F.col("_d") >= k)
            .select("a")
        )
        return (
            e.join(keep, "a", "left_semi")
            .join(keep.withColumnRenamed("a", "b"), "b", "left_semi")
            .select("a", "b")
        )

    e = und
    if rounds is not None:
        for _ in range(rounds):
            e = peel(e).localCheckpoint(eager=False)
    else:
        while True:
            nxt = peel(e).localCheckpoint(eager=True)
            # fixpoint <=> no edge dropped (symmetric set: count suffices)
            if nxt.count() == e.count():
                e = nxt
                break
            e = nxt
    return (
        e.groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node local clustering coefficient of the undirected simple
    graph:  cc(v) = 2·T(v) / (d(v)·(d(v)−1)), T(v) = triangles at v —
    the standard community-structure signal (Watts-Strogatz).

    Reuses :func:`triangle_count`'s degree-ordered orientation so wedge
    volume stays O(m^1.5) on power-law graphs; each closed triangle
    {x, p, q} is found exactly once and credited to its THREE nodes via
    one native explode. cc is a ratio of exact integers evaluated as
    one correctly-rounded IEEE division — gate-hashable bits (the
    q_clustering_coeff oracle counts neighbor pairs by plain id order,
    a different scheme).

    Returns (node, degree, n_tri, cc:double); d < 2 ⇒ cc = 0.0.
    """
    raw = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col("a") != F.col("b")
    )
    und = raw.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    ).distinct()
    deg = (
        und.select(F.col("u").alias("node"))
        .union(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("dv"))
    j = und.join(du, "u").join(dv, "v")
    ku = F.struct(F.col("du").alias("d"), F.col("u").alias("n"))
    kv = F.struct(F.col("dv").alias("d"), F.col("v").alias("n"))
    oriented = j.select(
        F.when(ku < kv, F.col("u")).otherwise(F.col("v")).alias("x"),
        F.when(ku < kv, F.col("v")).otherwise(F.col("u")).alias("y"),
        F.when(ku < kv, kv).otherwise(ku).alias("ykey"),
    )
    a = oriented.select(F.col("x"), F.col("y").alias("p"), F.col("ykey").alias("pk"))
    b = oriented.select(F.col("x"), F.col("y").alias("q"), F.col("ykey").alias("qk"))
    wedges = a.join(b, "x").where(F.col("pk") < F.col("qk")).select("x", "p", "q")
    closing = oriented.select(F.col("x").alias("p"), F.col("y").alias("q"))
    tri_nodes = (
        wedges.join(closing, ["p", "q"])
        .select(F.explode(F.array("x", "p", "q")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    out = deg.join(tri_nodes, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("n_tri"), F.lit(0).cast("bigint")).alias("n_tri"),
    )
    cc = F.when(
        F.col("degree") >= 2,
        (F.lit(2) * F.col("n_tri")).cast("double")
        / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
    ).otherwise(F.lit(0.0))
    return out.select("node", "degree", "n_tri", cc.alias("cc"))


def sssp_matrix(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    node: str = "node",
    max_rounds: int = 24,
) -> DataFrame:
    """Origin-destination distance matrix: per-SOURCE shortest
    distances over the undirected weighted graph — :func:`sssp` keeps
    the min over the source SET; this keeps every source's own label,
    i.e. the many-to-many routing primitive behind OD matrices,
    accessibility scoring and travel-time isochrone batteries.

    Same distributed Bellman-Ford shape with the state keyed by
    (origin, node): round r joins the improved frontier to the edge
    list and min-aggregates per (origin, node) — state is
    |sources| x |reached nodes| rows, the honest cost of a matrix (at
    10^4+ origins batch the sources). Same exactness contract
    (integer weights => reproducible sums), same iterative exception
    (per-round localCheckpoint; the driver sees only loop-control
    counts), same <=``max_rounds``-hop capped semantics — cap the
    oracle identically.

    Returns (origin, node, dist) for every (source, node) pair
    reachable within ``max_rounds`` edges.
    """
    if max_rounds < 0:
        raise ValueError(f"max_rounds must be >= 0, got {max_rounds}")
    e = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v"), F.col(weight).alias("w")
    )
    sym = (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"), "w"))
        .where(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    if sym.where(F.col("w") < 0).limit(1).count() > 0:
        raise ValueError("sssp_matrix requires non-negative weights")
    dist = (
        sources.select(F.col(node).alias("origin"))
        .distinct()
        .select("origin", F.col("origin").alias("node"), F.lit(0).cast("long").alias("dist"))
        .localCheckpoint(eager=True)
    )
    frontier = dist
    for _ in range(max_rounds):
        relaxed = frontier.join(sym, frontier["node"] == sym["u"]).select(
            "origin",
            F.col("v").alias("node"),
            (F.col("dist") + F.col("w")).alias("dist"),
        )
        nxt = (
            dist.union(relaxed)
            .groupBy("origin", "node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
        old = dist.select("origin", "node", F.col("dist").alias("_old"))
        frontier = (
            nxt.join(old, ["origin", "node"], "left")
            .where(F.col("_old").isNull() | (F.col("dist") < F.col("_old")))
            .select("origin", "node", "dist")
            .localCheckpoint(eager=True)
        )
        dist = nxt
        if frontier.isEmpty():
            break
    return dist


def label_propagation(
    edges: DataFrame,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan
    et al. 2007, made deterministic): over the symmetrized simple graph,
    every node starts as its own label and each round takes the label
    that is MOST FREQUENT among its neighbors, ties broken toward the
    SMALLEST label. Returns ``(node, label)``.

    Classic LPA is scan-order-dependent (asynchronous updates, random
    tie-breaks); this variant is the gateable one: synchronous rounds +
    (count DESC, label ASC) argmax make every round a pure function of
    the previous labeling, so any engine replays it exactly — the
    driver oracle unrolls the same rounds as a CTE chain (the
    pagerank/kcore convention). Synchronous LPA can oscillate on
    bipartite structures rather than converge; fixed ``rounds`` (the
    power-iteration convention) sidesteps that and keeps the loop free
    of driver actions.

    Per round: one equi-join of labels onto the symmetric edge set, one
    (node, label) count aggregate, one argmax aggregate — argmax via
    ``max(struct(cnt, -label))`` so the smallest label wins ties
    without a window shuffle. Isolated nodes keep their own label via
    the final left join. Lazily checkpointed per round (constant-size
    analyzed plan; zero driver actions).
    """
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = e.select(F.col("a").alias("node")).distinct().localCheckpoint(eager=False)
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(rounds):
        nbr = e.join(
            labels.select(F.col("node").alias("b"), "label"), "b"
        ).select(F.col("a").alias("node"), "label")
        counts = nbr.groupBy("node", "label").agg(F.count(F.lit(1)).alias("cnt"))
        picked = (
            counts.groupBy("node")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))).alias("m"))
            .select("node", (-F.col("m.nl")).alias("label"))
        )
        labels = (
            nodes.join(picked, "node", "left")
            .select("node", F.coalesce("label", "node").alias("label"))
            .localCheckpoint(eager=False)
        )
    return labels


def terminal_labels(
    ptr: DataFrame,
    rounds: int = 16,
    node_col: str = "node",
    next_col: str = "next",
    check_converged: bool = True,
) -> DataFrame:
    """Terminal (root) labels of a CLOSED functional graph — every node
    has exactly one outgoing pointer and terminals point to THEMSELVES
    — by POINTER DOUBLING: each round replaces next(x) with
    next(next(x)), so after r rounds every pointer has jumped 2^r
    steps; once it lands on a self-loop it stays. ceil(log2(longest
    path)) rounds suffice — the technique that makes path-following
    O(log n) shuffles instead of O(n) (Wyllie's list ranking; the same
    trick behind parallel union-find path halving). The canonical use
    here: hydrology basin labeling (follow D8 flow to each cell's pit
    — see q_basins), but any parent-pointer forest works (org
    hierarchies, redirect chains, symlink trees).

    Contract: the graph must be CLOSED (every ``next`` value appears
    as a ``node``) — flow_direction with pits kept self-looped yields
    exactly that; an unresolved pointer silently drops its node from
    an inner join, so closure is the caller's invariant. With
    ``check_converged`` (default), any node whose final label is NOT a
    terminal — i.e. ``rounds`` was too small for the longest path —
    raises loudly via a zero-row union branch on the output (the
    frequent_items guard pattern: a WHERE on a side path would be
    removed by AQE empty-relation propagation when it matters least).

    Plan: ``rounds`` self-equi-joins, each one keyed shuffle,
    lazily localCheckpoint-ed (the CC/LPA lineage convention); zero
    driver actions. Returns ``(node, root)``.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    p = ptr.select(
        F.col(node_col).alias("node"), F.col(next_col).alias("next")
    )
    base = p
    for _ in range(rounds):
        p = (
            p.alias("a")
            .join(p.alias("b"), F.col("a.next") == F.col("b.node"))
            .select(F.col("a.node").alias("node"), F.col("b.next").alias("next"))
            .localCheckpoint(eager=False)
        )
    out = p.select("node", F.col("next").alias("root"))
    if not check_converged:
        return out
    # root must be a terminal: join the FINAL labels back onto the
    # ORIGINAL pointers; root whose own pointer moves = not converged
    bad = (
        out.join(
            base.select(
                F.col("node").alias("root"), F.col("next").alias("_rn")
            ),
            "root",
        )
        .where(F.col("_rn") != F.col("root"))
        .limit(1)
        .select(
            F.raise_error(
                F.concat(
                    F.lit("terminal_labels: node "),
                    F.col("node").cast("string"),
                    F.lit(" did not reach a terminal in "
                          f"{rounds} rounds (2^{rounds} steps); "
                          "raise rounds"),
                )
            ).cast(out.schema["node"].dataType).alias("node"),
            F.lit(None).cast(out.schema["root"].dataType).alias("root"),
        )
    )
    return out.unionByName(bad)


def link_predict(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 1,
) -> DataFrame:
    """Common-neighbor / Jaccard link prediction over the undirected
    simple graph (Liben-Nowell & Kleinberg 2003): for every
    NON-adjacent pair {u, v} with >= ``min_common`` shared neighbors,
    emit the classic similarity scores — the recommendation /
    missing-edge primitive (who-to-follow, co-purchase, road-network
    gap finding).

    All-integer except the final ratio: ``n_common``, degrees and the
    Jaccard denominator ``deg_u + deg_v - n_common`` are exact int64;
    ``jaccard`` is ONE correctly-rounded IEEE division of the two ->
    gate-hashable bits (the clustering_coefficient posture).

    Returns ``(u, v, n_common, deg_u, deg_v, jaccard:double)`` with
    u < v, ordered-free.

    Plan shape (100-TB posture): symmetrize+dedup (one shuffle), wedge
    self-join on the center node (each common neighbor contributes the
    pair once via the b1 < b2 emission rule - multiplicity == n_common,
    collapsed by ONE (u,v) hash agg), LEFT ANTI join away existing
    edges, two slim degree joins. Wedge volume is sum_c deg(c)^2 —
    power-law hubs dominate; at web scale prefilter hub centers
    (deg > cap) exactly as the paper's common-neighbor variants do
    (documented recall change; the gate graph is bounded).
    """
    raw = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col("a") != F.col("b")
    )
    und = raw.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    ).distinct()
    sym = und.select(F.col("u").alias("c"), F.col("v").alias("n")).unionAll(
        und.select(F.col("v").alias("c"), F.col("u").alias("n"))
    )
    deg = sym.groupBy(F.col("c").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    l = sym.select("c", F.col("n").alias("u"))
    r = sym.select("c", F.col("n").alias("v"))
    pairs = (
        l.join(r, "c")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .where(F.col("n_common") >= int(min_common))
    )
    cand = pairs.join(und, ["u", "v"], "left_anti")
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("deg_v"))
    out = cand.join(du, "u").join(dv, "v")
    return out.select(
        "u",
        "v",
        "n_common",
        "deg_u",
        "deg_v",
        (
            F.col("n_common").cast("double")
            / (F.col("deg_u") + F.col("deg_v") - F.col("n_common")).cast("double")
        ).alias("jaccard"),
    )


def _md5_mod(parts: list, mod: "F.Column") -> "F.Column":
    """Deterministic uniform draw in [0, mod): conv of the first 10 hex
    chars of md5(':'-joined parts) — 2^40 keyspace, engine-replayable
    (DuckDB rebuilds it with nibble shifts)."""
    h = F.md5(F.concat_ws(":", *[p.cast("string") for p in parts]))
    return F.conv(F.substring(h, 1, 10), 16, 10).cast("bigint") % mod


def random_walks(
    edges: DataFrame,
    n_steps: int,
    walks_per_node: int = 1,
    src: str = "src",
    dst: str = "dst",
    max_degree: int | None = None,
    seed: str = "w",
) -> DataFrame:
    """Deterministic hash-seeded random walks — the DeepWalk / node2vec
    TRAINING-DATA generator: ``walks_per_node`` walks of ``n_steps``
    steps from every node, emitted LONG form ``(start, rep, step,
    node)`` (step 0 = the start; a walk reaching a sink node simply
    stops — no padding rows).

    Determinism spec (replayable in any engine — no RNG state): the
    step leaving ``cur`` at step ``t`` of walk ``(start, rep)`` picks
    sorted-neighbor index ``md5_40(seed:start:rep:t:cur) % deg(cur)``.
    Adjacency = DISTINCT non-loop edges as given (directed), neighbor
    lists sorted ascending; ``max_degree`` keeps only the SMALLEST
    ``max_degree`` neighbors of a hub (deterministic truncation — the
    documented hub knob, same recall-change contract as the LSH caps).

    Plan (100-TB posture): one adjacency aggregate (collect_list is
    bounded by max_degree when set — unbounded hubs are the caller's
    contract otherwise), then ``n_steps`` chained equi-joins of the
    frontier against adjacency — the standard distributed DeepWalk
    shape (each round shuffles the frontier on cur; no driver action,
    one lazy plan). ``n_steps`` is expected small (<= ~20); beyond
    that, checkpoint between rounds.

    Oracle strategy: DuckDB ``WITH RECURSIVE`` re-walks the identical
    spec with its own recursion + list indexing (q_random_walks).
    """
    if n_steps < 0:
        raise ValueError(f"n_steps must be >= 0, got {n_steps}")
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    adj = e.groupBy(F.col("a").alias("node")).agg(
        F.sort_array(F.collect_list("b")).alias("nbrs")
    )
    if max_degree is not None:
        adj = adj.select("node", F.slice("nbrs", 1, int(max_degree)).alias("nbrs"))
    adj = adj.select("node", "nbrs", F.size("nbrs").cast("bigint").alias("deg"))

    nodes = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .distinct()
    )
    reps = F.explode(
        F.sequence(F.lit(0), F.lit(int(walks_per_node) - 1))
    ).alias("rep")
    state = nodes.select(
        F.col("node").alias("start"), reps, F.lit(0).cast("int").alias("step"),
        F.col("node").alias("node"),
    )
    out = state
    for _ in range(int(n_steps)):
        nxt = state.join(adj, "node").select(
            "start",
            "rep",
            (F.col("step") + F.lit(1)).cast("int").alias("step"),
            F.element_at(
                "nbrs",
                (
                    _md5_mod(
                        [F.lit(seed), F.col("start"), F.col("rep"),
                         F.col("step"), F.col("node")],
                        F.col("deg"),
                    )
                    + F.lit(1)
                ).cast("int"),
            ).alias("node"),
        )
        out = out.unionByName(nxt)
        state = nxt
    return out


def walk_pairs(
    walks: DataFrame,
    window: int,
) -> DataFrame:
    """Skip-gram (center, context) pair extraction from random_walks
    output — the co-occurrence table a node-embedding trainer consumes:
    every ordered pair of walk positions within ``window`` steps,
    aggregated to ``(center, context, n_pairs)``.

    One self-join per walk key on a BETWEEN step band (theta-join on
    the tiny walk length, equi on the walk id) + one hash agg.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    a = walks.select(
        F.col("start").alias("s"), F.col("rep").alias("r"),
        F.col("step").alias("i"), F.col("node").alias("center"),
    )
    b = walks.select(
        F.col("start").alias("s"), F.col("rep").alias("r"),
        F.col("step").alias("j"), F.col("node").alias("context"),
    )
    return (
        a.join(b, ["s", "r"])
        .where(
            (F.col("i") != F.col("j"))
            & (F.abs(F.col("i") - F.col("j")) <= int(window))
        )
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Newman modularity Q of a community labeling — the standard
    quality score for what :func:`label_propagation` (or any
    clustering of the graph) produced:

        Q = intra/m - sum_c (d_c / 2m)^2

    over the symmetrized simple graph (self-loops dropped, duplicate
    edges collapsed — the convention every op in this module uses),
    where m = #undirected edges, intra = #edges inside one community,
    d_c = sum of degrees in community c.

    EXACT-INTEGER spec: clear denominators —

        q_num = 4*m*intra - sum_c d_c^2,   Q = q_num / (4*m^2)

    q_num is an exact int64 (|q_num| <= 4m^2; keep m under ~10^9) and
    Q is ONE IEEE division — gate-hashable. Nodes missing from
    ``labels`` raise loudly via an anti-join guard riding the output
    union (AQE-safe: the guard is an aggregate branch, not a pruned
    projection).

    Returns one row ``(m, intra, q_num, modularity)``.

    Plan: one dedup aggregate for the undirected edge set, two keyed
    joins onto labels, one degree aggregate + one label aggregate,
    all native — the link_predict scale class.
    """
    e = edges.select(
        F.col(src).cast("bigint").alias("a"), F.col(dst).cast("bigint").alias("b")
    ).where(F.col("a") != F.col("b"))
    und = (
        e.select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        ).distinct()
    )
    lab = labels.select(
        F.col(node_col).cast("bigint").alias("_n"), F.col(label_col).alias("_l")
    )
    ju = und.join(lab.withColumnRenamed("_n", "u"), "u", "left").withColumnRenamed(
        "_l", "_lu"
    )
    jv = ju.join(
        lab.withColumnRenamed("_n", "v").withColumnRenamed("_l", "_lv"), "v", "left"
    )
    # missing-label guard: one always-present aggregate row that
    # raises when any endpoint had no label, zero rows when sound
    miss = jv.agg(
        F.sum(
            (F.col("_lu").isNull() | F.col("_lv").isNull()).cast("bigint")
        ).alias("_miss")
    ).where(
        F.when(
            F.coalesce(F.col("_miss"), F.lit(0)) > 0,
            F.raise_error(
                F.concat(
                    F.lit("modularity: "),
                    F.col("_miss").cast("string"),
                    F.lit(" edges have unlabeled endpoints"),
                )
            ),
        ).otherwise(F.lit(False))
    )
    tot = jv.agg(
        F.count(F.lit(1)).alias("m"),
        F.coalesce(
            F.sum((F.col("_lu") == F.col("_lv")).cast("bigint")), F.lit(0)
        ).alias("intra"),
    )
    deg = (
        jv.select(F.col("u").alias("node"), F.col("_lu").alias("lbl"))
        .unionAll(jv.select(F.col("v").alias("node"), F.col("_lv").alias("lbl")))
        .groupBy("node", "lbl")
        .agg(F.count(F.lit(1)).alias("_d"))
        .groupBy("lbl")
        .agg(F.sum("_d").alias("_dc"))
        .agg(F.sum(F.col("_dc") * F.col("_dc")).alias("sum_dc2"))
    )
    j = tot.crossJoin(deg)
    q_num = (
        F.lit(4) * F.col("m") * F.col("intra") - F.coalesce("sum_dc2", F.lit(0))
    ).cast("bigint")
    out = j.select(
        "m",
        "intra",
        q_num.alias("q_num"),
        F.when(
            F.col("m") > 0,
            q_num.cast("double")
            / (F.lit(4) * F.col("m") * F.col("m")).cast("double"),
        ).alias("modularity"),
    )
    guard = miss.select(
        F.lit(None).cast("bigint").alias("m"),
        F.lit(None).cast("bigint").alias("intra"),
        F.lit(None).cast("bigint").alias("q_num"),
        F.lit(None).cast("double").alias("modularity"),
    )
    return out.unionByName(guard)


def line_dissolve(
    edges: DataFrame,
    edge_id: str = "edge_id",
    a_col: str = "a",
    b_col: str = "b",
    cc_rounds: int | None = None,
) -> DataFrame:
    """Merge degree-2 chains of a line network — the cartographic
    dissolve (and the road-network simplification every router
    preprocesses with): consecutive segments that meet at a node
    touching EXACTLY two segments belong to one chain; junctions
    (degree != 2) break chains. A pure ring (every node degree 2)
    dissolves into one closed chain.

    Returns ``(edge_id, chain_id, n_edges)`` — one row per input
    edge; ``chain_id`` = MIN edge_id in the chain (deterministic),
    ``n_edges`` the chain size. Self-loop edges (a = b) are their own
    single-edge chains and never link (documented).

    Plan: incidence explode (2 rows/edge) -> degree agg -> per-
    degree-2-node pairing of its two incident edges (a 2-bounded
    collect per node — never a join explosion) -> connected
    components over the EDGE-link graph (the pointer-doubling CC
    already in this module; pass ``cc_rounds`` = known diameter bound
    to stay action-free) -> one labels join back + one chain-size
    agg. Everything is keyed shuffles of edge-sized slim rows.
    """
    e = edges.select(
        F.col(edge_id).cast("bigint").alias("eid"),
        F.col(a_col).cast("bigint").alias("na"),
        F.col(b_col).cast("bigint").alias("nb"),
    )
    plain = e.where(F.col("na") != F.col("nb"))
    inc = plain.select(F.col("na").alias("node"), "eid").unionAll(
        plain.select(F.col("nb").alias("node"), "eid")
    )
    deg2 = (
        inc.groupBy("node")
        .agg(F.count(F.lit(1)).alias("_d"), F.collect_list("eid").alias("_es"))
        .where(F.col("_d") == 2)
        # the two incident edges of a degree-2 node link; a node seeing
        # the SAME edge twice cannot occur (self-loops excluded above)
        .select(
            F.array_min("_es").alias("u"), F.array_max("_es").alias("v")
        )
        .where(F.col("u") != F.col("v"))
    )
    comp = connected_components(deg2, src="u", dst="v", rounds=cc_rounds)
    labeled = (
        e.select("eid")
        .join(comp, e["eid"] == comp["node"], "left")
        .select(
            "eid",
            F.coalesce(F.col("component"), F.col("eid")).alias("chain_id"),
        )
    )
    sizes = labeled.groupBy("chain_id").agg(F.count(F.lit(1)).alias("n_edges"))
    return labeled.join(sizes, "chain_id").select(
        F.col("eid").alias(edge_id), "chain_id", "n_edges"
    )


def bipartite_project(
    df: DataFrame,
    left_col: str,
    right_col: str,
    min_weight: int = 1,
    max_right_degree: int | None = None,
) -> DataFrame:
    """Project a bipartite (left, right) edge set onto the LEFT side:
    ``(left_a, left_b, weight)`` with weight = number of shared right
    neighbors (doc–token → doc–doc co-occurrence, user–item →
    user–user affinity). Pairs are emitted once (left_a < left_b).

    100-TB posture (the minhash_lsh hot-bucket discipline): the
    self-join on the right key is quadratic in a key's degree, so
    ``max_right_degree`` DROPS right nodes above the cap before the
    join (stopword/hub removal — a documented recall knob, exactly
    reproduced by the oracle, not a silent truncation). Plan: distinct
    → degree semi-join → one keyed self-join → one pair aggregate.
    """
    e = df.select(
        F.col(left_col).alias("_l"), F.col(right_col).alias("_r")
    ).distinct()
    if max_right_degree is not None:
        deg = e.groupBy("_r").agg(F.count(F.lit(1)).alias("_d"))
        keep = deg.where(F.col("_d") <= max_right_degree).select("_r")
        e = e.join(keep, "_r", "left_semi")
    a = e.select(F.col("_r").alias("_k"), F.col("_l").alias("left_a"))
    b = e.select(F.col("_r").alias("_k"), F.col("_l").alias("left_b"))
    pairs = a.join(b, "_k").where(F.col("left_a") < F.col("left_b"))
    out = pairs.groupBy("left_a", "left_b").agg(
        F.count(F.lit(1)).alias("weight")
    )
    return out.where(F.col("weight") >= min_weight)


def k_truss(
    edges: DataFrame,
    k: int,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-truss by synchronous support peeling — the triangle-density
    community core beside :func:`kcore` (every kept edge must sit in
    ≥ k−2 triangles of the kept subgraph; trusses are cohesive where
    cores can be star-shaped).

    Per round: triangle support per DIRECTED edge of the symmetric
    set via a wedge join (e(a,c) ⋈ e(b,c) closing e(a,b)), then drop
    edges with support < k−2 — both directions drop together because
    support is symmetric. Fixed ``rounds`` with ZERO driver actions
    (kcore convention: the oracle replays the identical round count,
    so the gate matches even pre-fixpoint). Edges in no triangle
    vanish in round 1 (they have no support row — k ≥ 3 makes that
    the correct fate).

    Returns the surviving edges ``(a, b, support)`` with a < b and
    support measured in the FINAL subgraph. Plan per round: one
    self-join pair + one hash aggregate, lazily checkpointed.
    Triangle enumeration is the cost — at 100 TB, pre-filter to the
    (k−1)-core first (a cheap upper bound that shrinks the join).
    """
    if k < 3:
        raise ValueError(f"k must be >= 3 for k-truss, got {k}")
    e0 = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col("a") != F.col("b")
    )
    und = (
        e0.union(e0.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def support(e: DataFrame) -> DataFrame:
        wedge = e.join(
            e.select(F.col("a"), F.col("b").alias("c")), "a"
        ).where(F.col("c") != F.col("b"))
        closed = wedge.join(
            e.select(F.col("a").alias("b"), F.col("b").alias("c")),
            ["b", "c"],
        )
        return closed.groupBy("a", "b").agg(
            F.count(F.lit(1)).alias("support")
        )

    e = und
    for _ in range(rounds):
        e = (
            support(e)
            .where(F.col("support") >= k - 2)
            .select("a", "b")
            .localCheckpoint(eager=False)
        )
    return support(e).where(F.col("a") < F.col("b"))


def hits_scores(
    edges: DataFrame,
    iterations: int = 4,
    scale: int = 10**12,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """INTEGER-QUANTIZED HITS (Kleinberg): hub/authority scores over
    the directed edge set — the bipartite-flavored companion of
    :func:`pagerank` (a page is a good hub if it points at good
    authorities, and vice versa).

    Update order pinned by the spec: per round, ``h~ = Σ a_{t−1}``
    over out-neighbors, then ``a~ = Σ h_t`` over in-neighbors (a is
    computed from the ALREADY-UPDATED h). MAX-normalization in pure
    integers: ``q = greatest(max(raw) DIV scale, 1)`` then
    ``v = raw DIV q`` — the naive ``raw·scale DIV max`` overflows
    int64 (raw ≤ maxdeg·scale). Every step is int64 with truncating
    DIV, so any engine reproduces the exact bits (float HITS
    normalizes by an order-dependent double norm). Dangling nodes
    keep score 0 on the starved side.

    Overflow bound: maxdeg·scale under 2^63 ⇒ max degree ≤ ~9×10⁶ at
    scale 10^12 (lower scale for hub-ier graphs). Plan per round: two
    equi-join + aggregate passes and two broadcast 1-row max joins —
    no driver actions; lazily checkpointed. Returns
    ``(node, hub, auth)``.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    a = nodes.select("node", F.lit(int(scale)).cast("long").alias("val"))
    h = a

    def _norm(raw: DataFrame) -> DataFrame:
        q = raw.agg(
            F.greatest(
                F.expr(f"max(raw) DIV {int(scale)}"), F.lit(1).cast("long")
            ).alias("_q")
        )
        return (
            nodes.join(raw, "node", "left")
            .crossJoin(F.broadcast(q))
            .select(
                "node",
                F.expr("coalesce(raw, 0L) DIV _q").alias("val"),
            )
        )

    for _ in range(iterations):
        hraw = (
            e.join(a.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("val").alias("raw"))
        )
        h = _norm(hraw).localCheckpoint(eager=False)
        araw = (
            e.join(h.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("val").alias("raw"))
        )
        a = _norm(araw).localCheckpoint(eager=False)
    return (
        h.withColumnRenamed("val", "hub")
        .join(a.withColumnRenamed("val", "auth"), "node", "full_outer")
        .select(
            "node",
            F.coalesce("hub", F.lit(0)).alias("hub"),
            F.coalesce("auth", F.lit(0)).alias("auth"),
        )
    )


def assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree assortativity of the undirected simple graph — Pearson
    correlation of the endpoint degrees over the symmetric edge list
    (Newman's r: do hubs attach to hubs?). Composes the exact-moment
    :func:`osm_pbf_spark.operators.stats.pearson_corr` machinery, so
    the coefficient is one fixed chain on exact int64 sums.

    Plan: one degree aggregate + two broadcast joins onto the edge
    list + one 1-row moment aggregate. Returns (n, corr) — n counts
    DIRECTED endpoint pairs (2·|edges|).
    """
    from osm_pbf_spark.operators.stats import pearson_corr

    e0 = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col("a") != F.col("b")
    )
    sym = e0.union(
        e0.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("_d"))
    j = (
        sym.join(F.broadcast(deg), "a")
        .withColumnRenamed("_d", "da")
        .join(
            F.broadcast(deg.withColumnRenamed("a", "b")).withColumnRenamed(
                "_d", "db"
            ),
            "b",
        )
    )
    return pearson_corr(j, "da", "db")


def harmonic_closeness(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    node: str = "node",
    max_rounds: int = 16,
) -> DataFrame:
    """Sampled harmonic centrality: per NODE, ``Σ_origins 1/d(o, n)``
    over a seeded origin set — the landmark approximation that scales
    where exact all-pairs closeness cannot. Composes
    :func:`sssp_matrix`; contributions are the EXACT integers
    ``2^40 DIV d`` (the rrf_fuse posture — float 1/d sums are
    shuffle-order-dependent), so ``harm_u`` is gate-hashable and
    ``harm = harm_u / 2^40`` is one division.

    Returns (node, n_reached, harm_u, harm) — n_reached counts
    origins at finite nonzero distance; the origin's own 0-distance
    row contributes nothing.
    """
    d = sssp_matrix(
        edges,
        sources,
        src=src,
        dst=dst,
        weight=weight,
        node=node,
        max_rounds=max_rounds,
    )
    pos = d.where(F.col("dist") > 0)
    agg = pos.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_reached"),
        F.sum(F.expr("1099511627776 DIV dist")).alias("harm_u"),
    )
    return agg.select(
        "node",
        "n_reached",
        "harm_u",
        (F.col("harm_u").cast("double") / F.lit(1099511627776.0)).alias(
            "harm"
        ),
    )


def maximal_matching(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
    tail_threshold: int = 200_000,
) -> DataFrame:
    """Deterministic greedy MAXIMAL matching (r4): a pairwise-disjoint
    edge set no remaining edge can extend — the distributed
    pair-selection primitive (dedup merge pairs: each record joins at
    most one merge this pass; entity-resolution conflict-free apply;
    Luby-class symmetry breaking).

    Spec (engine-replayable): every normalized edge (u < v, self-loops
    dropped, distinct) gets the priority tuple
    ``(md5_40("u:v"), u, v)`` — a TOTAL order, no arrival-order or
    partitioning dependence. The matching equals sequential greedy by
    that order (take an edge iff both endpoints are still free); it is
    computed in locally-minimal rounds — an edge joins the matching
    when it is the min-priority incident edge of BOTH its endpoints —
    which reaches the same fixpoint in O(log E) expected rounds
    (adjacent edges share an endpoint, so per-round winners are
    conflict-free by the total order).

    Plan per round: one both-direction Generate -> per-vertex min
    (ONE map-side-combinable agg), two equi-joins back, two left-anti
    joins to drop matched vertices, then ``localCheckpoint`` (the CC
    iterative exception: truncate the logical plan each round) + one
    count as the emptiness fixpoint check. No collect of data rows —
    driver state is one integer per round.

    TAIL FINISH (the r4-verdict fix for eff 0.235): after round 1-2
    the surviving frontier collapses to a sliver, and O(log E) more
    distributed rounds are pure fixed stage overhead (4+ shuffles per
    round over near-empty inputs). Once the frontier is <=
    ``tail_threshold`` edges, the remaining rounds run as ONE
    single-task Arrow kernel replaying the identical per-round
    locally-minimal rule — same winners, same round numbers, zero
    further stages. The kernel's input is executor-side (repartition
    to one task), so the no-driver-data-rows discipline holds.

    Returns matched pairs ``(u, v, round)`` (round = 1-based round the
    pair entered).
    """
    import pandas as pd
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    pri = F.conv(
        F.substring(
            F.md5(F.concat(F.col("u").cast("string"), F.lit(":"), F.col("v").cast("string"))),
            1,
            10,
        ),
        16,
        10,
    ).cast("bigint")
    e = e.select("u", "v", pri.alias("_p"))
    u_t = e.schema["u"].dataType.simpleString()
    v_t = e.schema["v"].dataType.simpleString()

    def _tail_kernel(rnd0: int):
        def fn(it):
            rows = []
            for pdf in it:
                rows.extend(
                    zip(pdf["_p"].tolist(), pdf["u"].tolist(), pdf["v"].tolist())
                )
            alive = [(int(p), u, v) for p, u, v in rows]
            out_u, out_v, out_r = [], [], []
            rnd = rnd0
            while alive:
                if rnd > max_rounds:
                    raise ValueError(
                        f"maximal_matching did not converge in {max_rounds} rounds"
                    )
                vmin: dict = {}
                for key in alive:
                    for x in (key[1], key[2]):
                        m = vmin.get(x)
                        if m is None or key < m:
                            vmin[x] = key
                winners = [
                    k for k in alive if vmin[k[1]] == k and vmin[k[2]] == k
                ]
                matched = set()
                for _, u, v in winners:
                    out_u.append(u)
                    out_v.append(v)
                    out_r.append(rnd)
                    matched.add(u)
                    matched.add(v)
                alive = [
                    k for k in alive if k[1] not in matched and k[2] not in matched
                ]
                rnd += 1
            if out_u:
                yield pd.DataFrame({"u": out_u, "v": out_v, "round": out_r})

        return fn

    matched_parts = []
    out = None
    for rnd in range(1, max_rounds + 1):
        n_alive = e.count()
        if n_alive == 0:
            break
        if n_alive <= tail_threshold:
            matched_parts.append(
                e.repartition(1).mapInPandas(
                    _tail_kernel(rnd), f"u {u_t}, v {v_t}, round int"
                ).localCheckpoint(eager=True)
            )
            break
        ekey = F.struct(F.col("_p"), F.col("u"), F.col("v"))
        incid = e.select(F.col("u").alias("_x"), ekey.alias("_e")).unionAll(
            e.select(F.col("v").alias("_x"), ekey.alias("_e"))
        )
        vmin = incid.groupBy("_x").agg(F.min("_e").alias("_m"))
        # an edge wins iff it is the min incident edge of BOTH
        # endpoints <=> it survives the (vertex, min) join twice:
        # ONE join on _x (ReuseExchange with vmin's own aggregation
        # shuffle) + one count-by-edge, instead of the r4 two
        # edge-side equi-joins (two extra full-e Exchanges per round)
        win = (
            incid.join(vmin, "_x")
            .where(F.col("_e") == F.col("_m"))
            .groupBy("_e")
            .agg(F.count(F.lit(1)).alias("_c"))
            .where(F.col("_c") == 2)
            .select(F.col("_e.u").alias("u"), F.col("_e.v").alias("v"))
            .localCheckpoint(eager=True)
        )
        n_matched = win.count()
        matched_parts.append(win.select("u", "v", F.lit(rnd).alias("round")))
        mv = win.select(F.col("u").alias("_x")).unionAll(
            win.select(F.col("v").alias("_x"))
        )
        # matched vertices are bounded by |V|/round, usually tiny vs
        # |E|: broadcast the anti side when it fits, killing both
        # edge-side shuffles; past the bound fall back to shuffle anti
        small = n_matched <= 2_000_000
        mv_u = mv.withColumnRenamed("_x", "u")
        mv_v = mv.withColumnRenamed("_x", "v")
        e = (
            e.join(F.broadcast(mv_u) if small else mv_u, "u", "left_anti")
            .join(F.broadcast(mv_v) if small else mv_v, "v", "left_anti")
            .select("u", "v", "_p")
            .localCheckpoint(eager=True)
        )
    else:
        # the for exhausted WITHOUT the emptiness break firing — but
        # the LAST round may have just emptied e (converged exactly at
        # the budget), so check once more before declaring failure
        if not e.isEmpty():
            raise ValueError(
                f"maximal_matching did not converge in {max_rounds} rounds"
            )
    if not matched_parts:
        return e.select("u", "v", F.lit(0).alias("round")).limit(0)
    out = matched_parts[0]
    for part in matched_parts[1:]:
        out = out.unionAll(part)
    return out


def node2vec_walks(
    edges: DataFrame,
    n_steps: int,
    walks_per_node: int = 1,
    w_return: int = 1,
    w_in: int = 4,
    w_out: int = 1,
    src: str = "src",
    dst: str = "dst",
    max_degree: int | None = None,
    seed: str = "n2v",
) -> DataFrame:
    """Deterministic SECOND-ORDER (node2vec, Grover & Leskovec 2016)
    biased walks (r4) — the BFS/DFS-interpolating corpus generator
    random_walks cannot express: the step out of ``cur`` is biased by
    where the walk CAME from. Integer weights replace the paper's
    1/p, 1, 1/q (no rationals, no floats — pass (w_return, w_in,
    w_out) = e.g. (2, 4, 1) for a BFS-ish walk): candidate x gets
    ``w_return`` if x == prev, else ``w_in`` if (prev -> x) is an
    edge (triangle-closing), else ``w_out``.

    Determinism spec (engine-replayable): step 1 from ``start`` picks
    sorted-neighbor index ``md5_40(seed:start:rep:1:cur) % deg``
    (exactly random_walks' first hop); step t >= 2 draws
    ``r = md5_40(seed:start:rep:t:cur:prev) % total_weight`` and takes
    the FIRST sorted neighbor whose cumulative weight exceeds r.
    Adjacency = DISTINCT non-loop directed edges, sorted neighbor
    lists, ``max_degree`` smallest-id hub truncation — all identical
    to random_walks. Emits ``(start, rep, step, node)`` long form;
    sink nodes stop their walk.

    Plan per step: frontier-join to adjacency, ONE posexplode
    candidate Generate, ONE left equi-join to the edge set for the
    triangle flag, ONE per-walk window (cumulative + total weight in
    one pass) — then ``localCheckpoint(eager=False)`` (the CC
    iterative exception: three shuffles per round would otherwise
    stack a super-linear logical plan). Frontier-sized shuffles only;
    no driver actions.
    """
    if n_steps < 0:
        raise ValueError(f"n_steps must be >= 0, got {n_steps}")
    for nm, w in (("w_return", w_return), ("w_in", w_in), ("w_out", w_out)):
        if int(w) < 0 or int(w) > 1_000_000:
            raise ValueError(f"{nm} must be in [0, 1e6], got {w}")
    if int(w_return) + int(w_in) + int(w_out) == 0:
        raise ValueError("at least one of w_return/w_in/w_out must be > 0")
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    adj = e.groupBy(F.col("a").alias("node")).agg(
        F.sort_array(F.collect_list("b")).alias("nbrs")
    )
    if max_degree is not None:
        adj = adj.select("node", F.slice("nbrs", 1, int(max_degree)).alias("nbrs"))
    adj = adj.select("node", "nbrs", F.size("nbrs").cast("bigint").alias("deg"))

    nodes = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .distinct()
    )
    reps = F.explode(
        F.sequence(F.lit(0), F.lit(int(walks_per_node) - 1))
    ).alias("rep")
    state = nodes.select(
        F.col("node").alias("start"),
        reps,
        F.lit(0).cast("int").alias("step"),
        F.lit(None).cast(nodes.schema["node"].dataType).alias("prev"),
        F.col("node").alias("node"),
    )
    out = state.select("start", "rep", "step", "node")
    flagged_edges = e.select(
        F.col("a").alias("prev"), F.col("b").alias("_x"),
        F.lit(1).alias("_tri"),
    )
    for t in range(1, int(n_steps) + 1):
        if t == 1:
            nxt = state.join(adj, "node").select(
                "start",
                "rep",
                F.lit(1).cast("int").alias("step"),
                F.col("node").alias("prev"),
                F.element_at(
                    "nbrs",
                    (
                        _md5_mod(
                            [F.lit(seed), F.col("start"), F.col("rep"),
                             F.lit(1), F.col("node")],
                            F.col("deg"),
                        )
                        + F.lit(1)
                    ).cast("int"),
                ).alias("node"),
            )
        else:
            cand = state.join(adj, "node").select(
                "start",
                "rep",
                F.col("node").alias("cur"),
                F.col("prev"),
                F.posexplode("nbrs").alias("_pos", "_x"),
            )
            cand = cand.join(flagged_edges, ["prev", "_x"], "left")
            w = (
                F.when(F.col("_x") == F.col("prev"), F.lit(int(w_return)))
                .when(F.col("_tri") == 1, F.lit(int(w_in)))
                .otherwise(F.lit(int(w_out)))
                .cast("bigint")
            )
            wk = Window.partitionBy("start", "rep").orderBy("_pos")
            wtot = Window.partitionBy("start", "rep")
            scored = cand.select(
                "start", "rep", "cur", "prev", "_x",
                F.sum(w).over(
                    wk.rowsBetween(Window.unboundedPreceding, 0)
                ).alias("_cum"),
                w.alias("_w"),
                F.sum(w).over(wtot).alias("_tot"),
            ).where(F.col("_tot") > 0)
            r = _md5_mod(
                [F.lit(seed), F.col("start"), F.col("rep"), F.lit(t),
                 F.col("cur"), F.col("prev")],
                F.col("_tot"),
            )
            nxt = scored.where(
                (F.col("_cum") > r) & (F.col("_cum") - F.col("_w") <= r)
            ).select(
                "start",
                "rep",
                F.lit(t).cast("int").alias("step"),
                F.col("cur").alias("prev"),
                F.col("_x").alias("node"),
            )
        nxt = nxt.localCheckpoint(eager=False)
        out = out.unionByName(nxt.select("start", "rep", "step", "node"))
        state = nxt
    return out


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 6,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**12,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """INTEGER-QUANTIZED personalized PageRank (r4) — ``pagerank``'s
    query-time sibling: the teleport mass returns to the SEED SET
    instead of everywhere, so ranks measure proximity to the seeds
    (similar-node / recommendation / local-community scoring; the
    random-walk analogue of an ego search).

    Same exact-integer discipline as pagerank (every step int64 floor
    division, reproducible under any partitioning/engine):

        rank'(v) = [v in seeds] * ((scale*(den-num)) div den)
                   + (num * sum_in(rank_u div outdeg_u)) div den

    — each seed gets the full per-node teleport base, non-seed nodes
    get 0 (ranks are per-seed-mass units, comparable ACROSS seed-set
    sizes; divide by |S| for a probability reading). Init:
    seeds start at ``scale``, everything else 0 (total mass |S|*scale;
    mass leaks through dangling nodes exactly like pagerank — the
    documented simplification, replayed by the oracle).

    Plan identical to pagerank: per round one rank-edge join + one dst
    aggregate + one left join back, lazily checkpointed, zero driver
    actions. Overflow bound: num * |S| * scale * maxdeg-mass must stay
    under 2^63 — same n <= ~10^5-per-sink rule at scale 10^12.

    Returns ``(node, rank)`` for every node of the graph.
    """
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0, got {iterations}")
    if not (0 < damping_num < damping_den):
        raise ValueError("need 0 < damping_num < damping_den")
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    seed_set = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .join(nodes, "node")  # seeds outside the graph contribute nothing
        .select("node", F.lit(1).alias("_is_seed"))
        .localCheckpoint(eager=True)
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    base = (int(scale) * (damping_den - damping_num)) // damping_den
    ranks = nodes.join(seed_set, "node", "left").select(
        "node",
        F.when(F.col("_is_seed") == 1, F.lit(int(scale)))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rank"),
    )
    for _ in range(iterations):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("rank div outdeg").alias("c"),
            )
        )
        incoming = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = (
            nodes.join(incoming, "node", "left")
            .join(seed_set, "node", "left")
            .select(
                "node",
                (
                    F.when(F.col("_is_seed") == 1, F.lit(base)).otherwise(F.lit(0))
                    + F.expr(f"({damping_num} * coalesce(s, 0L)) div {damping_den}")
                ).cast("long").alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks


def negative_samples(
    pairs: DataFrame,
    vocab: DataFrame,
    k: int = 4,
    center_col: str = "center",
    context_col: str = "context",
    node_col: str = "node",
    seed: str = "neg",
) -> DataFrame:
    """Deterministic SGNS negative sampling (r4) — the other half of
    the skip-gram training table ``walk_pairs`` builds: for every
    (center, context) positive, draw ``k`` uniform negatives from the
    vocabulary (word2vec's unigram draw simplified to uniform — the
    md5 spec has no weighted alias table; callers wanting the 3/4-power
    distribution can pre-expand vocab rows by integer multiplicity).

    Determinism spec: vocab ids are DENSELY indexed by their sorted
    order (one ranking window over the distinct vocab — partitioning
    cannot change it); draw j of pair (c, x) picks sorted-vocab index
    ``md5_40(seed:c:x:j) % |V|``. A draw that lands on the pair's own
    center or context is DROPPED, not resampled (documented: resample
    loops are kept-state-dependent; expected loss 2k/|V| — negligible
    at vocabulary scale). Duplicate (c, x) input rows contribute once
    (distinct) — multiplicity-weighted sampling would couple draws to
    pair counts and break replay under dedup.

    Plan: one distinct + one vocab ranking window (|V|-sized, one
    shuffle) + a k-literal Generate + ONE equi-join on the drawn
    index — never a crossJoin. Returns (center, context, neg, draw).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    v = (
        vocab.select(F.col(node_col).alias("neg")).distinct()
    )
    wv = Window.orderBy("neg")
    # single global window over the vocab: |V| rows, the bounded
    # dimension side (vocab, not pairs) — acceptable one-partition
    # sort exactly like the exported-codebook collects
    vi = v.select(
        "neg", (F.row_number().over(wv) - 1).cast("bigint").alias("_vi")
    )
    nv = vi.count()
    p = pairs.select(
        F.col(center_col).alias("center"), F.col(context_col).alias("context")
    ).distinct()
    draws = p.select(
        "center",
        "context",
        F.explode(F.sequence(F.lit(0), F.lit(int(k) - 1))).alias("draw"),
    )
    idx = _md5_mod(
        [F.lit(seed), F.col("center"), F.col("context"), F.col("draw")],
        F.lit(int(nv)),
    )
    drawn = draws.withColumn("_vi", idx).join(vi, "_vi").drop("_vi")
    return drawn.where(
        (F.col("neg") != F.col("center")) & (F.col("neg") != F.col("context"))
    ).select("center", "context", "neg", F.col("draw").cast("int").alias("draw"))


def luby_mis(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 60,
) -> DataFrame:
    """Deterministic Luby-class MAXIMAL INDEPENDENT SET (r5) — the
    vertex sibling of maximal_matching (which is MIS on the line
    graph): a vertex set with no internal edge that no outside vertex
    can join — the distributed symmetry-breaking primitive (conflict
    grouping, frequency reuse, parallel scheduling slots).

    Spec (engine-replayable): vertex priority is the TOTAL order
    ``(md5_40(str(v)), v)``; the MIS equals sequential greedy by that
    order (take v iff no already-taken neighbor). Computed in
    locally-minimal rounds: v joins when its priority beats every
    still-alive neighbor's (isolated survivors join unconditionally),
    then winners + their neighbors leave — the maximal_matching
    fixpoint argument verbatim.

    Plan per round: one neighbor-min aggregate over the alive
    adjacency (map-side combinable), one left join back, anti joins
    with ADAPTIVE broadcast (the removed set is bounded by vertices,
    not edges), localCheckpoint each round.

    Returns ``(node, round)`` (1-based round of joining the MIS).
    """
    raw = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col("a") != F.col("b")
    )
    und = raw.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    ).distinct()
    adj = und.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        und.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    pri_of = lambda c: F.struct(  # noqa: E731
        F.conv(F.substring(F.md5(F.col(c).cast("string")), 1, 10), 16, 10)
        .cast("bigint")
        .alias("h"),
        F.col(c).alias("n"),
    )
    alive = adj.select(F.col("a").alias("node")).distinct().select(
        "node", pri_of("node").alias("_pri")
    ).localCheckpoint(eager=True)
    adj = adj.localCheckpoint(eager=True)
    parts = []
    for rnd in range(1, max_rounds + 1):
        if alive.isEmpty():
            break
        nbrmin = (
            adj.join(
                alive.select(F.col("node").alias("b"), F.col("_pri").alias("_pb")),
                "b",
            )
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("_pb").alias("_nm"))
        )
        winners = (
            alive.join(nbrmin, "node", "left")
            .where(F.col("_nm").isNull() | (F.col("_pri") < F.col("_nm")))
            .select("node")
            .localCheckpoint(eager=True)
        )
        n_win = winners.count()
        parts.append(winners.select("node", F.lit(rnd).alias("round")))
        nbrs = (
            adj.join(winners.withColumnRenamed("node", "a"), "a")
            .select(F.col("b").alias("node"))
        )
        removed = winners.unionAll(nbrs).distinct().localCheckpoint(eager=True)
        n_rm = removed.count()
        bc = lambda df: F.broadcast(df) if n_rm <= 2_000_000 else df  # noqa: E731
        alive = alive.join(bc(removed), "node", "left_anti").localCheckpoint(
            eager=True
        )
        adj = (
            adj.join(bc(removed.withColumnRenamed("node", "a")), "a", "left_anti")
            .join(bc(removed.withColumnRenamed("node", "b")), "b", "left_anti")
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        _ = n_win
    else:
        if not alive.isEmpty():
            raise ValueError(f"luby_mis did not converge in {max_rounds} rounds")
    if not parts:
        return und.select(F.col("u").alias("node"), F.lit(0).alias("round")).limit(0)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def topo_layers(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 200,
) -> DataFrame:
    """DAG topological LAYERS (r5): layer(v) = length of the longest
    directed path ending at v (sources = 0) — the level-schedule /
    critical-path primitive (build systems, dataflow stage planning,
    dependency-wave batch execution: every layer can run in parallel).

    Iterative max-relaxation to fixpoint: layer starts at 0
    everywhere; each round layer(v) = max(layer(v), 1 + max layer of
    in-neighbors). Converges in longest-path-length rounds on a DAG;
    NOT converging within ``max_rounds`` means a directed cycle — the
    operator raises loudly (a cycle has no topological layer).

    Returns ``(node, layer)``.
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .distinct()
    )
    lay = nodes.select("node", F.lit(0).cast("long").alias("layer")).localCheckpoint(
        eager=True
    )
    for _ in range(max_rounds):
        cand = (
            e.join(lay.withColumnRenamed("node", "a").withColumnRenamed("layer", "_la"), "a")
            .groupBy(F.col("b").alias("node"))
            .agg((F.max("_la") + 1).alias("_new"))
        )
        upd = lay.join(cand, "node", "left").select(
            "node",
            F.greatest(F.col("layer"), F.coalesce(F.col("_new"), F.lit(0))).alias(
                "layer"
            ),
            (F.coalesce(F.col("_new"), F.lit(0)) > F.col("layer")).alias("_chg"),
        )
        upd = upd.localCheckpoint(eager=True)
        n_chg = upd.where("_chg").count()
        lay = upd.select("node", "layer")
        if n_chg == 0:
            return lay
    raise ValueError(
        f"topo_layers did not converge in {max_rounds} rounds — the input "
        "graph has a directed cycle (or raise max_rounds for a longer DAG)"
    )


def adamic_adar(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 1,
) -> DataFrame:
    """Adamic-Adar link prediction (r5) — the degree-weighted upgrade
    of link_predict's common-neighbor count (Adamic & Adar 2003):
    score(u, v) = sum over common neighbors w of 1 / ln(deg(w)), so a
    shared OBSCURE neighbor is worth more than a shared hub — the
    measurably better who-to-follow / co-purchase ranker.

    Exactness: counts and degrees are exact int64; each term is one
    IEEE-correct 1/ln(deg) (deg >= 2 for any common neighbor, so ln >
    0) and the sum is rounded to 1e-6 in BOTH engines — the float
    surface is term-count additions of O(1) values, where 6 decimals
    absorb cross-engine ulp drift (the house rounding discipline for
    transcendental chains).

    Plan: the link_predict wedge shape with the center's degree joined
    BEFORE the pair aggregate (one extra slim broadcast-ready join),
    one (u, v) hash agg; anti join away existing edges. Same hub
    caveat as link_predict: wedge volume is sum_c deg(c)^2 — prefilter
    hub centers at web scale.

    Returns ``(u, v, n_common, aa_score)`` with u < v.
    """
    raw = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col("a") != F.col("b")
    )
    und = raw.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    ).distinct()
    sym = und.select(F.col("u").alias("c"), F.col("v").alias("n")).unionAll(
        und.select(F.col("v").alias("c"), F.col("u").alias("n"))
    )
    deg = sym.groupBy("c").agg(F.count(F.lit(1)).alias("_dc"))
    l = sym.select("c", F.col("n").alias("u"))
    r = sym.select("c", F.col("n").alias("v"))
    pairs = (
        l.join(r, "c")
        .where(F.col("u") < F.col("v"))
        .join(deg, "c")
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.round(F.sum(F.lit(1.0) / F.log(F.col("_dc"))), 6).alias("aa_score"),
        )
        .where(F.col("n_common") >= int(min_common))
    )
    return pairs.join(und, ["u", "v"], "left_anti").select(
        "u", "v", "n_common", "aa_score"
    )


def scc(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 200,
) -> DataFrame:
    """STRONGLY connected components of a DIRECTED graph (r5) — the
    directed sibling of connected_components (which ignores edge
    direction): u and v share a component iff each reaches the other.
    The cycle-structure primitive (dependency knots, currency
    arbitrage loops, link-farm detection, deadlock cliques).

    Algorithm: iterative FW-MIN coloring + in-color backward closure
    (the Orzan / FW-BW-MIN family — the standard distributed SCC):

      1. forward min-label to fixpoint: f(v) = min id forward-
         reachable from v (including v), so f(v) == c means v reaches c;
      2. every color-class leader c (f(c) == c) anchors one SCC:
         SCC(c) = {v : f(v) == c and c reaches v} — and any c -> v
         path stays inside the color class (proved in-line below), so
         the closure from the leader runs on SAME-COLOR edges only;
      3. decided nodes peel off; repeat on the residual graph.

    Each peel removes every leader SCC, so outer iterations are few in
    practice (the classic result); every inner step is one join + one
    aggregate + localCheckpoint. ``max_rounds`` bounds TOTAL Spark
    rounds across all loops and raises loudly.

    Returns ``(node, comp)`` — comp = min node id in the SCC.
    """
    e_all = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e_all.select(F.col("a").alias("node"))
        .unionAll(e_all.select(F.col("b").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    budget = [int(max_rounds)]

    def tick():
        budget[0] -= 1
        if budget[0] < 0:
            raise ValueError(f"scc did not converge in {max_rounds} rounds")

    parts = []
    alive_n = nodes
    alive_e = e_all
    while True:
        tick()
        if alive_n.isEmpty():
            break
        # 1) forward min-label fixpoint: f(v) = min(f(v), f(out-nbrs))
        f = alive_n.select("node", F.col("node").alias("f")).localCheckpoint(
            eager=True
        )
        while True:
            tick()
            relax = (
                alive_e.join(
                    f.select(F.col("node").alias("b"), F.col("f").alias("_fb")), "b"
                )
                .groupBy(F.col("a").alias("node"))
                .agg(F.min("_fb").alias("_fn"))
            )
            upd = f.join(relax, "node", "left").select(
                "node",
                F.least(F.col("f"), F.coalesce(F.col("_fn"), F.col("f"))).alias("f"),
                (F.coalesce(F.col("_fn"), F.col("f")) < F.col("f")).alias("_chg"),
            ).localCheckpoint(eager=True)
            n_chg = upd.where("_chg").count()
            f = upd.select("node", "f")
            if n_chg == 0:
                break
        # 2) forward closure of each leader inside its color class:
        #    any c->..->w->..->v path with f(v)==c stays in color c,
        #    because reachable(w) ⊆ reachable(c) gives f(w) >= f(c) = c
        #    while w reaches v, which reaches c, gives f(w) <= c.
        ce = (
            alive_e.join(f.withColumnRenamed("node", "a").withColumnRenamed("f", "_fa"), "a")
            .join(f.withColumnRenamed("node", "b").withColumnRenamed("f", "_fb"), "b")
            .where(F.col("_fa") == F.col("_fb"))
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        reach = f.where(F.col("node") == F.col("f")).select("node").localCheckpoint(
            eager=True
        )
        while True:
            tick()
            nxt = (
                ce.join(reach.withColumnRenamed("node", "a"), "a")
                .select(F.col("b").alias("node"))
                .distinct()
                .join(reach, "node", "left_anti")
                .localCheckpoint(eager=True)
            )
            if nxt.isEmpty():
                break
            reach = reach.unionAll(nxt).localCheckpoint(eager=True)
        decided = reach.join(f, "node").select("node", F.col("f").alias("comp"))
        parts.append(decided.localCheckpoint(eager=True))
        alive_n = alive_n.join(reach, "node", "left_anti").localCheckpoint(eager=True)
        alive_e = (
            alive_e.join(reach.withColumnRenamed("node", "a"), "a", "left_anti")
            .join(reach.withColumnRenamed("node", "b"), "b", "left_anti")
            .localCheckpoint(eager=True)
        )
    if not parts:
        return nodes.select("node", F.col("node").alias("comp")).limit(0)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def mis_coloring(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_colors: int = 64,
    max_rounds: int = 60,
) -> DataFrame:
    """Deterministic greedy GRAPH COLORING via iterated MIS (r5) — the
    conflict-scheduling primitive (no two adjacent vertices share a
    color): color c = the Luby MIS of the residual graph after colors
    1..c-1 are removed, so every color class is independent BY
    CONSTRUCTION and maximal within its residual — the classic
    MIS-peeling bound of Delta+1 colors on bounded-degree graphs.

    Spec: each phase colors ``luby_mis(residual edges)`` PLUS every
    still-uncolored vertex with no residual edge (isolated in the
    residual — independent of everything left, joins the phase
    trivially). Each phase is the md5-priority sequential-greedy
    fixpoint, so the whole coloring is engine-replayable by iterating
    the same scalar greedy.

    Returns ``(node, color)`` (1-based). Raises loudly past
    ``max_colors`` phases (raise it for high-degree graphs).
    """
    raw = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col("a") != F.col("b")
    )
    und = raw.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    ).distinct().localCheckpoint(eager=True)
    alive = und.select(F.col("u").alias("node")).unionAll(
        und.select(F.col("v").alias("node"))
    ).distinct().localCheckpoint(eager=True)
    remaining = und
    parts = []
    for color in range(1, max_colors + 1):
        if alive.isEmpty():
            break
        endpoints = remaining.select(F.col("u").alias("node")).unionAll(
            remaining.select(F.col("v").alias("node"))
        ).distinct()
        isolated = alive.join(endpoints, "node", "left_anti")
        mis = luby_mis(
            remaining.selectExpr("u as src", "v as dst"), max_rounds=max_rounds
        ).select("node")
        phase = mis.unionAll(isolated).select(
            "node", F.lit(color).alias("color")
        ).localCheckpoint(eager=True)
        parts.append(phase)
        alive = alive.join(phase.select("node"), "node", "left_anti") \
            .localCheckpoint(eager=True)
        remaining = (
            remaining.join(phase.withColumnRenamed("node", "u").select("u"),
                           "u", "left_anti")
            .join(phase.withColumnRenamed("node", "v").select("v"),
                  "v", "left_anti")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
    else:
        if not alive.isEmpty():
            raise ValueError(f"mis_coloring exceeded max_colors={max_colors}")
    if not parts:
        return und.select(F.col("u").alias("node"), F.lit(0).alias("color")).limit(0)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def tree_betweenness(
    edges: DataFrame,
    n_landmarks: int = 8,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 100,
) -> DataFrame:
    """Sampled BFS-TREE betweenness (r5) — the hub-detection
    centrality the family lacked (pagerank ranks by link mass,
    harmonic_closeness by distance; betweenness ranks by BROKERAGE:
    who sits on paths). Exact Brandes dependency accumulation needs
    fractional path-count ratios whose float sums are
    partitioning-order-dependent; this operator instead uses the
    deterministic BFS-TREE approximation: from each of ``n_landmarks``
    md5-ranked landmark sources, build the canonical BFS tree
    (parent = min-id predecessor at depth-1) and credit every
    non-root vertex with its DESCENDANT COUNT (vertices whose tree
    path to the landmark passes through it) — all exact int64, the
    documented estimator trade (single-tree credit vs all-shortest
    split; ranks agree on hub structure, values are not Brandes').

    Plan: one labeled multi-source BFS (the sssp_matrix wave shape)
    computing (landmark, node, dist, parent), then per-landmark
    subtree sizes by reverse-depth waves (the flow_accumulation
    discipline on the parent forest). Returns
    ``(node, score)`` = sum over landmarks of (descendants), 0 for
    leaves — ordered-free.
    """
    raw = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col("a") != F.col("b")
    )
    und = raw.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    ).distinct()
    adj = und.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        und.select(F.col("v").alias("a"), F.col("u").alias("b"))
    ).localCheckpoint(eager=True)
    nodes = adj.select(F.col("a").alias("node")).distinct()
    pri = F.conv(
        F.substring(F.md5(F.col("node").cast("string")), 1, 10), 16, 10
    ).cast("bigint")
    landmarks = [
        r["node"]
        for r in nodes.select("node", pri.alias("_p"))
        .orderBy("_p", "node")
        .limit(int(n_landmarks))
        .collect()
    ]
    if not landmarks:
        return nodes.select("node", F.lit(0).alias("score")).limit(0)
    lm = adj.sparkSession.createDataFrame(
        [(x,) for x in landmarks], nodes.schema
    ).select(F.col("node").alias("_s"))
    # frontier: (landmark _s, node, parent); roots carry parent NULL
    frontier = lm.select(
        "_s", F.col("_s").alias("node"), F.lit(None).cast(
            nodes.schema["node"].dataType.simpleString()
        ).alias("parent")
    ).localCheckpoint(eager=True)
    visited = frontier.select("_s", "node").localCheckpoint(eager=True)
    tree_parts = [frontier.withColumn("depth", F.lit(0))]
    depth = 0
    while True:
        depth += 1
        if depth > max_rounds:
            raise ValueError(
                f"tree_betweenness did not converge in {max_rounds} waves"
            )
        nxt = (
            frontier.select("_s", F.col("node").alias("a"))
            .join(adj, "a")
            .select("_s", F.col("b").alias("node"), F.col("a").alias("parent"))
            .join(visited, ["_s", "node"], "left_anti")
            .groupBy("_s", "node")
            .agg(F.min("parent").alias("parent"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        tree_parts.append(nxt.withColumn("depth", F.lit(depth)))
        visited = visited.unionAll(nxt.select("_s", "node")).localCheckpoint(
            eager=True
        )
        frontier = nxt
    tree = tree_parts[0]
    for p in tree_parts[1:]:
        tree = tree.unionAll(p)
    tree = tree.localCheckpoint(eager=True)
    # subtree sizes: reverse-depth waves over the parent forest
    acc = tree.select(
        "_s", "node", "parent", "depth", F.lit(1).alias("_sz")
    ).localCheckpoint(eager=True)
    for d in range(depth - 1, 0, -1):
        child_sum = (
            acc.where(F.col("depth") == d)
            .groupBy("_s", F.col("parent").alias("node"))
            .agg(F.sum("_sz").alias("_cs"))
        )
        acc = (
            acc.join(child_sum, ["_s", "node"], "left")
            .select(
                "_s", "node", "parent", "depth",
                (F.col("_sz") + F.coalesce(F.col("_cs"), F.lit(0))).alias("_sz"),
            )
            .localCheckpoint(eager=True)
        )
    # credit = descendants = subtree size - 1; roots excluded
    scored = acc.where(F.col("parent").isNotNull()).select(
        "node", (F.col("_sz") - 1).alias("_c")
    )
    return (
        nodes.join(
            scored.groupBy("node").agg(F.sum("_c").alias("score")),
            "node",
            "left",
        )
        .select("node", F.coalesce("score", F.lit(0)).alias("score"))
    )
