"""Iterative link analysis over DataFrame edge lists — PageRank-style
centrality, the second member of this repo's iterative-algorithm family
(k-means: `similarity.py::kmeans_fit`). Connected components
(`dedup.py::connected_components`) is not iterative: it is one
union-find pass in a single Arrow task.

Why a training-data engine carries this: link/similarity-graph
centrality is a standard corpus-curation signal (rank pages by link
graph before sampling; rank documents by similarity-graph centrality
to find representative vs orphan content). The same operator serves
relational graphs (who-trades-with-whom) unchanged.

Scale shape: the graph lives as a distributed EDGE LIST — no adjacency
matrix, no driver-side graph object. One iteration is one sparse
matrix-vector product expressed relationally: join ranks onto edges by
source (shuffle keyed on node id), groupBy destination (second
shuffle), then a left join back onto the node set for dangling nodes.
Per-iteration cost is O(|E|) shuffled bytes, independent of iteration
count; ranks are node-sized. `localCheckpoint` truncates the growing
lineage every few rounds.

Determinism (oracle-matchable, the k-means contract): edge weights are
exact counts, out-weight normalization and the damping update are
plain double arithmetic, and each iteration's ranks round to
``iter_decimals`` (9) — three orders of magnitude above float
accumulation-order noise, three below the final 6-decimal surface —
so Spark and a SQL engine unrolling the same iterations agree
hash-exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    decimals: int = 6,
    iter_decimals: int = 9,
    checkpoint_every: int = 4,
    broadcast_max_nodes: int = 1_000_000,
) -> DataFrame:
    """Weighted PageRank over an edge list; returns ``(node, pr)``.

    Nodes are everything appearing as a source or destination. A node
    with no OUT-edges (dangling) simply stops propagating — its mass
    re-enters through the teleport term only, the simplest
    well-defined convention and the one a SQL oracle can restate
    without a global dangling-mass redistribution pass. Ranks start
    uniform at 1/N and update as ``(1-d)/N + d·Σ_in pr(u)·w(u,v)/
    out_w(u)``, rounded to ``iter_decimals`` per iteration.

    Implementation: the single-graph case IS :func:`grouped_pagerank`
    with one constant group (review: two parallel copies of the
    rank-update algebra risked silent divergence), so both paths
    share one audited iteration body and determinism contract."""
    tagged = edges.withColumn("__g", F.lit(1))
    out = grouped_pagerank(
        tagged,
        "__g",
        iters=iters,
        damping=damping,
        src_col=src_col,
        dst_col=dst_col,
        weight_col=weight_col,
        decimals=decimals,
        iter_decimals=iter_decimals,
        checkpoint_every=checkpoint_every,
        broadcast_max_nodes=broadcast_max_nodes,
    )
    return out.drop("__g")


#: Pair-generation expression over a sorted deduplicated item array
#: ``__ss``: all C(n,2) ordered pairs (a < b), generated in-task.
_PAIRGEN = (
    "flatten(transform(__ss, (x, i) -> "
    "transform(slice(__ss, i + 2, size(__ss)), "
    "y -> struct(x AS a, y AS b))))"
)


def cooccurrence_pairs(
    df: DataFrame,
    key_col: str | list[str],
    item_col: str,
    keep_key: bool = False,
) -> DataFrame:
    """Per-key unordered co-occurrence pair INSTANCES: one row
    ``(a, b)`` with ``a < b`` for every key and every pair of distinct
    items under that key — exactly the row multiset of the classic
    self-equi-join ``x.join(y, key).filter(x.item < y.item)`` over the
    deduplicated (key, item) table.

    Why not the join (guide §2.4): the self-join scans and shuffles the
    (key, item) lineage TWICE (once per side) plus once more for the
    upstream distinct; this shape pays ONE groupBy shuffle, collects
    each key's distinct items as a sorted array, and generates the
    pairs with an in-task array expression. The pair EXPLOSION itself
    is unchanged — Σ|group|² rows either way — so callers' basket
    caps / sparsifiers still bound the quadratic work; the per-key
    array is only safe when group sizes are bounded (orders hold ≤7
    lineitems; capped baskets), which every caller guarantees.

    ``key_col`` may be a list (composite key); with ``keep_key`` the
    key columns ride along in the output (key..., a, b)."""
    keys = [key_col] if isinstance(key_col, str) else list(key_col)
    sets = df.groupBy(*keys).agg(
        F.sort_array(F.collect_set(F.col(item_col))).alias("__ss")
    )
    kept = keys if keep_key else []
    return sets.select(
        *kept, F.explode(F.expr(_PAIRGEN)).alias("__p")
    ).select(*kept, F.col("__p.a").alias("a"), F.col("__p.b").alias("b"))


def topk_cooccurrence_edges(
    df: DataFrame, key_col: str, item_col: str, k: int = 10
) -> DataFrame:
    """Top-k-sparsified co-occurrence graph (kNN-graph sparsification):
    each node keeps its ``k`` strongest incident edges (co-occurrence
    count desc, neighbor asc — a unique, deterministic order), then the
    kept arcs symmetrize to an undirected simple edge list ``(a, b)``
    with ``a < b``. Capping per-node degree at k bounds every
    downstream O(Σ deg²) algorithm (triangles, common neighbors) at
    n·k² wedges however dense the raw co-occurrence gets. Built with
    ONE wide shuffle of the pair instances instead of the four of a
    self-join + union form (guide §2.4):

    the pair instances are emitted in BOTH directions at explode time
    (so no union-of-two-scans and no persist), then repartitioned by
    ``node`` ONCE — hash partitioning on node satisfies the
    (node, nbr) count aggregate AND the per-node top-k window, so both
    run exchange-free on top of it. The final least/greatest distinct
    is edge-sized (≤ n·k rows)."""
    sets = df.groupBy(F.col(key_col).alias("__k")).agg(
        F.sort_array(F.collect_set(F.col(item_col))).alias("__ss")
    )
    inst = (
        sets.select(F.explode(F.expr(_PAIRGEN)).alias("__p"))
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("__p.a").alias("node"), F.col("__p.b").alias("nbr")
                    ),
                    F.struct(
                        F.col("__p.b").alias("node"), F.col("__p.a").alias("nbr")
                    ),
                )
            ).alias("__q")
        )
        .select("__q.node", "__q.nbr")
    )
    w_n = Window.partitionBy("node").orderBy(F.col("w").desc(), F.col("nbr").asc())
    kept = (
        inst.repartition("node")
        .groupBy("node", "nbr")
        .agg(F.count("*").cast("double").alias("w"))
        .withColumn("rn", F.row_number().over(w_n))
        .filter(F.col("rn") <= k)
    )
    return (
        kept.select(
            F.least("node", "nbr").alias("a"),
            F.greatest("node", "nbr").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )


def triangle_count(
    edges: DataFrame, src_col: str = "a", dst_col: str = "b"
) -> DataFrame:
    """Exact per-node triangle counts over an undirected simple edge
    list; returns ``(node, triangles)`` for every node in ≥1 triangle.

    Scale shape — the degree-ordered node-iterator (the MapReduce
    triangle-counting standard): orient every edge from the lower to
    the higher endpoint under the total order (degree, node), so each
    wedge is enumerated exactly once AT ITS LOWEST-DEGREE APEX. The
    oriented out-degree is bounded by O(sqrt(2|E|)) amortized, which
    turns the wedge self-join from Σ deg² (hub-quadratic) into
    O(|E|^1.5) worst-case — hubs never fan out. Three shuffles: degree
    groupBy, wedge self-join on the apex, close-join on the wedge
    endpoints. No driver state; triangles stream through an explode →
    groupBy.
    """
    e = (
        edges.select(
            F.least(src_col, dst_col).alias("a"),
            F.greatest(src_col, dst_col).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    ranked = (
        e.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
        .select(
            F.when(
                F.struct(F.col("da"), F.col("a"))
                < F.struct(F.col("db"), F.col("b")),
                F.struct(
                    F.col("a").alias("lo"),
                    F.col("b").alias("hi"),
                    F.struct(
                        F.col("db").alias("d"), F.col("b").alias("n")
                    ).alias("hr"),
                ),
            )
            .otherwise(
                F.struct(
                    F.col("b").alias("lo"),
                    F.col("a").alias("hi"),
                    F.struct(
                        F.col("da").alias("d"), F.col("a").alias("n")
                    ).alias("hr"),
                )
            )
            .alias("o")
        )
        .select("o.lo", "o.hi", "o.hr")
        .persist()
    )
    w1 = ranked.select(
        F.col("lo").alias("apex"), F.col("hi").alias("x"), F.col("hr").alias("xr")
    )
    w2 = ranked.select(
        F.col("lo").alias("apex"), F.col("hi").alias("y"), F.col("hr").alias("yr")
    )
    wedges = w1.join(w2, "apex").filter(F.col("xr") < F.col("yr"))
    closing = ranked.select(
        F.col("lo").alias("x"), F.col("hi").alias("y")
    )
    tris = wedges.join(closing, ["x", "y"]).select("apex", "x", "y")
    out = (
        tris.select(
            F.explode(F.array("apex", "x", "y")).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    ).localCheckpoint(eager=True)
    ranked.unpersist()
    return out


def adamic_adar(
    edges: DataFrame,
    src_col: str = "a",
    dst_col: str = "b",
    max_hub_degree: int | None = None,
    decimals: int = 6,
) -> DataFrame:
    """Adamic-Adar link prediction over an undirected simple edge list:
    for every NON-adjacent pair (u, v) with ≥1 common neighbor, returns
    ``(u, v, common_neighbors, aa_score)`` where aa = Σ_z 1/ln(deg z)
    over common neighbors z.

    Scale shape: wedges are enumerated THROUGH each common neighbor z
    (one self-join keyed on z), so the cost is Σ deg(z)² — quadratic in
    hub degree. ``max_hub_degree`` drops hub wedges entirely: a hub's
    per-wedge contribution 1/ln(deg) is the score's own statement that
    high-degree intermediaries carry ~no signal, so the cap is the
    operator's native sparsifier (and the oracle restates it, keeping
    the result exact BY DEFINITION of the capped score). Adjacency is
    removed with one anti-join. Determinism: each 1/ln(deg) term is
    floor-scaled to integer nano-units and summed as longs — exact,
    order-independent, cross-engine."""
    e = (
        edges.select(
            F.least(src_col, dst_col).alias("a"),
            F.greatest(src_col, dst_col).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    half = e.select(F.col("a").alias("z"), F.col("b").alias("nbr")).unionByName(
        e.select(F.col("b").alias("z"), F.col("a").alias("nbr"))
    )
    # deg >= 2: a degree-1 node can't be a wedge apex, and ln(1) = 0
    # would blow up the term
    deg = half.groupBy("z").agg(F.count("*").alias("deg")).filter(F.col("deg") >= 2)
    if max_hub_degree is not None:
        deg = deg.filter(F.col("deg") <= max_hub_degree)
    # nano-unit AA term per wedge apex z
    adj = half.join(deg, "z").select(
        "z",
        "nbr",
        F.floor(F.lit(1e9) / F.log(F.col("deg").cast("double")))
        .cast("long")
        .alias("term"),
    )
    a1 = adj.select("z", F.col("nbr").alias("u"), "term")
    a2 = adj.select("z", F.col("nbr").alias("v"))
    pairs = (
        a1.join(a2, "z")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(
            F.count("*").alias("common_neighbors"),
            F.sum("term").alias("aa_nano"),
        )
    )
    non_adj = pairs.join(
        e.select(F.col("a").alias("u"), F.col("b").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    out = non_adj.select(
        "u",
        "v",
        "common_neighbors",
        F.round(F.col("aa_nano") / 1e9, decimals).alias("aa_score"),
    ).localCheckpoint(eager=True)
    e.unpersist()
    return out


def label_propagation(
    edges: DataFrame,
    iters: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    broadcast_max_nodes: int = 1_000_000,
) -> DataFrame:
    """Synchronous label propagation (community detection): every node
    starts labeled with its own id; each iteration relabels every node
    with its neighbors' MOST FREQUENT previous-round label, ties broken
    by smallest label — the deterministic semi-synchronous LPA variant
    (Raghavan 2007 made order-free so a SQL oracle can replay it).
    Isolated nodes keep their label. Returns ``(node, label)``.

    Scale shape: one iteration = join labels onto the symmetrized edge
    list by neighbor (O(|E|) shuffle), count (node, label) pairs, then
    pick the winner as ``min_by(label, (-cnt, label))`` — an ARGMAX
    AGGREGATE with map-side partial combine, not a per-node sort
    window (a hot node's label votes collapse before the shuffle,
    where row_number would drag every vote to one task and sort it).
    All integer counts, so the replay is exact with no rounding
    contract needed. Labels are node-sized; lineage is truncated per
    iteration via localCheckpoint."""
    sym = (
        edges.select(F.col(src_col).alias("node"), F.col(dst_col).alias("nbr"))
        .unionByName(
            edges.select(F.col(dst_col).alias("node"), F.col(src_col).alias("nbr"))
        )
        .filter(F.col("node") != F.col("nbr"))
        .distinct()
        .persist()
    )
    nodes = sym.select("node").distinct().persist()
    # labels/winners are node-sized; below the threshold broadcast
    # them into the edge-sized joins so the symmetrized edge list is
    # never re-shuffled per iteration (the grouped_pagerank policy —
    # all-integer here, so not even a float-order question)
    small = nodes.count() <= broadcast_max_nodes
    labels = nodes.withColumn("label", F.col("node"))
    for _ in range(iters):
        lab = labels.select(F.col("node").alias("nbr"), F.col("label"))
        counts = (
            sym.join(F.broadcast(lab) if small else lab, "nbr")
            .groupBy("node", "label")
            .agg(F.count("*").alias("cnt"))
        )
        # argmax by (cnt desc, label asc) == argmin by (-cnt, label):
        # min_by over a struct keeps the winner selection a partially
        # aggregated groupBy instead of a per-node sort window
        winners = counts.groupBy("node").agg(
            F.min_by(
                "label", F.struct((-F.col("cnt")).alias("nc"), F.col("label"))
            ).alias("new_label")
        )
        labels = (
            nodes.join(labels, "node")
            .join(F.broadcast(winners) if small else winners, "node", "left")
            .select(
                "node",
                F.coalesce(F.col("new_label"), F.col("label")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
    sym.unpersist()
    nodes.unpersist()
    return labels


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """Unweighted shortest hop distance from a SEED SET, ``iters``
    synchronous relaxation rounds (distance-capped BFS): returns
    ``(node, hops)`` for every node within ``iters`` hops of any seed.

    One round = join the current frontier onto the symmetrized edge
    list (O(|E|) shuffle) + a min-groupBy — the same edge-list
    iteration shape as PageRank/LPA/connected components, and the
    k-hop-neighborhood primitive behind "within N degrees of a flagged
    account" audits. Distances are integers (exact); a fixed round
    count keeps the computation oracle-unrollable where a
    run-to-convergence BFS wouldn't be."""
    sym = (
        edges.select(F.col(src_col).alias("node"), F.col(dst_col).alias("nbr"))
        .unionByName(
            edges.select(F.col(dst_col).alias("node"), F.col(src_col).alias("nbr"))
        )
        .filter(F.col("node") != F.col("nbr"))
        .distinct()
        .persist()
    )
    sym.count()
    dist = seeds.select(F.col(seed_col).alias("node")).distinct().withColumn(
        "hops", F.lit(0).cast("long")
    )
    for _ in range(iters):
        relaxed = (
            sym.join(dist.select(F.col("node").alias("nbr"), "hops"), "nbr")
            .select("node", (F.col("hops") + 1).alias("hops"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("hops").alias("hops"))
            .localCheckpoint(eager=True)
        )
    sym.unpersist()
    return dist


def kcore(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 3,
    src_col: str = "a",
    dst_col: str = "b",
) -> DataFrame:
    """Fixed-round k-core peeling over an undirected simple edge list:
    ``rounds`` synchronous iterations of "drop every node whose degree
    in the surviving subgraph is < k", returning ``(node, deg)`` for
    the survivors with their degree in the LAST computed subgraph (the
    degree that passed the final filter).

    The k-core is the classic cohesion filter (Seidman 1983) —
    community cores for curation, spam-farm detection over similarity
    graphs. A run-to-convergence peel is data-dependent and therefore
    not oracle-unrollable; a FIXED round count is deterministic on any
    engine (same contract as bfs_hops/pagerank) and each round only
    tightens toward the true core (the fixpoint is reached exactly
    when a round removes nothing).

    Scale shape: one round = degree groupBy (O(|E|) shuffle) + two
    semi-joins to drop edges touching peeled nodes. The alive set
    shrinks monotonically, so per-round cost falls; lineage is cut
    per round with an eager localCheckpoint (the iterative-operator
    contract PageRank/LPA/BFS use). No driver state beyond loop
    control.
    """
    sym = (
        edges.select(F.col(src_col).alias("node"), F.col(dst_col).alias("nbr"))
        .unionByName(
            edges.select(F.col(dst_col).alias("node"), F.col(src_col).alias("nbr"))
        )
        .filter(F.col("node") != F.col("nbr"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = sym.groupBy("node").agg(F.count("*").alias("deg"))
    for _ in range(rounds):
        alive = deg.filter(F.col("deg") >= k).select("node")
        sym = (
            sym.join(alive, "node", "leftsemi")
            .join(alive.select(F.col("node").alias("nbr")), "nbr", "leftsemi")
            .localCheckpoint(eager=True)
        )
        deg = sym.groupBy("node").agg(F.count("*").alias("deg"))
    return deg.filter(F.col("deg") >= k)


def grouped_pagerank(
    edges: DataFrame,
    group_col: str,
    iters: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    nodes: DataFrame | None = None,
    decimals: int = 6,
    iter_decimals: int = 9,
    checkpoint_every: int = 4,
    broadcast_max_nodes: int = 1_000_000,
) -> DataFrame:
    """Per-group PageRank: many independent graphs (one per
    ``group_col`` value — e.g. one sentence-similarity graph per
    document for TextRank) ranked in a single distributed pass.
    Identical algebra and determinism contract to :func:`pagerank`,
    but N, the uniform init, and the teleport term are PER GROUP, and
    every join/aggregate carries the group key — so the whole forest
    shuffles together, partitioned by (group, node), with no
    per-group driver loop. ``nodes`` may be passed explicitly
    (columns ``group_col, node``) to keep isolated vertices that have
    no edges (TextRank chunks sharing no tokens still hold teleport
    mass); defaults to edge endpoints. Returns (group, node, pr)."""
    g = group_col
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    # persist the normalized edge list: it feeds the default nodes
    # frame (two scans), the out-weight aggregate, and the fraction
    # join — unpersisted, the caller's whole edge-construction plan
    # (often a join+groupBy) would execute up to four times (the
    # textrank in-bench lesson: recomputation also inflates every
    # LATER query via memory pressure)
    e = edges.select(
        F.col(g), F.col(src_col).alias("src"), F.col(dst_col).alias("dst"),
        w.alias("w"),
    ).persist()
    if nodes is None:
        nodes = (
            e.select(g, F.col("src").alias("node"))
            .unionByName(e.select(g, F.col("dst").alias("node")))
            .distinct()
        )
    else:
        nodes = nodes.select(g, "node").distinct()
    nodes = nodes.persist()
    # node-sized frames (ranks, inflow) are the SMALL side of every
    # iteration join against the edge-sized frac frame; when the total
    # node count is actually small, broadcasting them removes the
    # per-iteration shuffle of the WHOLE edge list (measured: the
    # dominant per-iteration cost on the sf0.1 trade graph — 1.17M
    # edge rows re-shuffled 3x to meet 16k rank rows). The count is
    # one cheap job over the persisted nodes frame and also
    # materializes the persists up front. Above the threshold
    # (~tens of MB serialized) fall back to shuffle joins — a
    # billion-node forest must NOT broadcast.
    n_nodes = nodes.count()
    small = n_nodes <= broadcast_max_nodes
    nn = nodes.groupBy(g).agg(F.count("*").cast("double").alias("c"))
    out_w = e.groupBy(g, "src").agg(F.sum("w").alias("ow"))
    # out_w and nn are node-/group-sized too: under the threshold the
    # construction joins keep the edge list unshuffled as well
    frac = (
        e.join(F.broadcast(out_w) if small else out_w, [g, "src"])
        .select(g, "src", "dst", (F.col("w") / F.col("ow")).alias("frac"))
        .persist()
    )
    # (group, node, group-size) feeds the init AND every iteration's
    # teleport term — materialize it once instead of re-running the
    # nodes⋈counts shuffle per iteration (values identical; one fewer
    # shuffle per pass over the whole forest)
    base = nodes.join(F.broadcast(nn) if small else nn, g).select(
        g, "node", "c"
    ).persist()
    pr = base.select(
        g, "node", F.round(F.lit(1.0) / F.col("c"), iter_decimals).alias("pr")
    )
    for i in range(iters):
        ranks = pr.select(g, F.col("node").alias("src"), "pr")
        inflow = (
            frac.join(F.broadcast(ranks) if small else ranks, [g, "src"])
            .groupBy(g, "dst")
            .agg(F.sum(F.col("frac") * F.col("pr")).alias("inflow"))
        )
        inf = inflow.select(g, F.col("dst").alias("node"), "inflow")
        pr = (
            base
            .join(
                F.broadcast(inf) if small else inf,
                [g, "node"],
                "left",
            )
            .select(
                g,
                "node",
                F.round(
                    (F.lit(1.0) - F.lit(damping)) / F.col("c")
                    + F.lit(damping)
                    * F.coalesce(F.col("inflow"), F.lit(0.0)),
                    iter_decimals,
                ).alias("pr"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iters:
            pr = pr.localCheckpoint(eager=True)
    out = pr.select(
        g, "node", F.round("pr", decimals).alias("pr")
    ).localCheckpoint(eager=True)
    nodes.unpersist()
    frac.unpersist()
    base.unpersist()
    e.unpersist()
    return out


def hits(
    edges: DataFrame,
    iters: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    decimals: int = 6,
    iter_decimals: int = 9,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg) over a DIRECTED edge
    list; returns ``(node, hub, authority)`` for every node appearing
    as a source or destination (0.0 on the side it never plays).

    Per iteration: ``a(v) = Σ_in w·h(u)`` then L2-normalize,
    ``h(u) = Σ_out w·a(v)`` then L2-normalize — the power iteration on
    AᵀA / AAᵀ. Determinism contract (the PageRank pattern): every
    per-node sum is rounded to ``iter_decimals`` BEFORE the norm
    aggregate and every normalized score after it, so accumulation-
    order noise cannot leak into the next iteration or the oracle
    comparison.

    Plan shape: per half-iteration one O(|E|) join-by-key + one
    node-sized groupBy + one 1-row L2 aggregate broadcast back —
    scores stay node-sized, the edge list is never collected."""
    if iters < 1:
        raise ValueError(f"hits() needs iters >= 1, got {iters}")
    w_col = (
        F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    )
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"),
        w_col.alias("w"),
    ).persist()
    # Every half-iteration's score frame is referenced TWICE (its L2
    # norm aggregate + the next half-iteration's join) and the final
    # select reads both a and h — left lazy, the DAG re-runs the
    # O(|E|) join 2^(2·iters) times. Node-sized EAGER checkpoints
    # after each step truncate the lineage (the grouped-pagerank
    # checkpoint discipline): measured 13.1 s -> ~7 s at sf0.1, and
    # the per-iteration cost becomes exactly one edge join + one
    # 1-row norm aggregate.
    h = (
        e.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("score", F.lit(1.0))
        .localCheckpoint(eager=True)
    )
    a = None
    for _ in range(iters):
        a_raw = (
            e.join(h.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.round(F.sum(F.col("w") * F.col("score")), iter_decimals).alias("s"))
            .localCheckpoint(eager=True)
        )
        a_nrm = a_raw.agg(
            F.sqrt(F.sum(F.col("s") * F.col("s"))).alias("nrm")
        )
        a = (
            a_raw.crossJoin(F.broadcast(a_nrm))
            .select(
                F.col("dst").alias("node"),
                F.round(F.col("s") / F.col("nrm"), iter_decimals).alias("score"),
            )
            .localCheckpoint(eager=True)
        )
        h_raw = (
            e.join(a.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.round(F.sum(F.col("w") * F.col("score")), iter_decimals).alias("s"))
            .localCheckpoint(eager=True)
        )
        h_nrm = h_raw.agg(
            F.sqrt(F.sum(F.col("s") * F.col("s"))).alias("nrm")
        )
        h = (
            h_raw.crossJoin(F.broadcast(h_nrm))
            .select(
                F.col("src").alias("node"),
                F.round(F.col("s") / F.col("nrm"), iter_decimals).alias("score"),
            )
            .localCheckpoint(eager=True)
        )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    out = (
        nodes.join(h.withColumnRenamed("score", "hub"), "node", "left")
        .join(a.withColumnRenamed("score", "authority"), "node", "left")
        .select(
            "node",
            F.round(F.coalesce(F.col("hub"), F.lit(0.0)), decimals).alias("hub"),
            F.round(F.coalesce(F.col("authority"), F.lit(0.0)), decimals).alias(
                "authority"
            ),
        )
    )
    out = out.localCheckpoint(eager=True)
    e.unpersist()
    return out


def jaccard_coefficient(
    edges: DataFrame,
    src_col: str = "a",
    dst_col: str = "b",
    decimals: int = 6,
) -> DataFrame:
    """Jaccard-coefficient link prediction over an undirected simple
    edge list: for every NON-adjacent pair (u, v) with >= 1 common
    neighbor, ``(u, v, common_neighbors, jaccard)`` where jaccard =
    |N(u) ∩ N(v)| / |N(u) ∪ N(v)| = cn / (deg u + deg v - cn).

    Same wedge enumeration + anti-join layout as :func:`adamic_adar`
    (one self-join keyed on the common neighbor, cost Σ deg(z)²);
    unlike AA the score is a single division of exact integers, so no
    unit scaling is needed at all — numerator and denominator are
    BIGINT counts on both engines."""
    e = (
        edges.select(
            F.least(src_col, dst_col).alias("a"),
            F.greatest(src_col, dst_col).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    half = e.select(F.col("a").alias("z"), F.col("b").alias("nbr")).unionByName(
        e.select(F.col("b").alias("z"), F.col("a").alias("nbr"))
    )
    deg = half.groupBy("z").agg(F.count("*").alias("deg"))
    a1 = half.select("z", F.col("nbr").alias("u"))
    a2 = half.select("z", F.col("nbr").alias("v"))
    pairs = (
        a1.join(a2, "z")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("common_neighbors"))
    )
    du = deg.select(F.col("z").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("z").alias("v"), F.col("deg").alias("deg_v"))
    scored = (
        pairs.join(du, "u")
        .join(dv, "v")
        .join(
            e,
            (F.col("u") == F.col("a")) & (F.col("v") == F.col("b")),
            "left_anti",
        )
        .select(
            "u",
            "v",
            "common_neighbors",
            "deg_u",
            "deg_v",
            F.round(
                F.col("common_neighbors").cast("double")
                / (F.col("deg_u") + F.col("deg_v") - F.col("common_neighbors")),
                decimals,
            ).alias("jaccard"),
        )
    )
    return scored
