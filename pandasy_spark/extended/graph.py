"""Iterative graph analytics on DataFrames: PageRank, HITS, label
propagation, k-core, BFS, bounded shortest paths, SCC, landmark
closeness, plus the one-pass graph metrics.

No counterpart in the reference (its surface is relational —
SURVEY.md §2); companion to the connected-components operator in
``extended.dedup``.  Like that operator, every loop is a fixed chain of
joins + aggregates so Catalyst plans each round like any relational
query.  The iterative operators share three private round kernels:

- :func:`_relax` — each round unions the per-node state with one
  proposal per edge and keeps one min/max per node (label
  propagation, weighted shortest paths, both SCC colorings);
- :func:`_frontier` — the visited/frontier anti-join loop (BFS and
  per-landmark closeness);
- :func:`_pagerank` — the sparse incoming-mass iteration, with an
  optional seed set for the personalized restart vector.

Pin rule: a fixed-round loop pins (lazy ``localCheckpoint``) its state
every ``_PIN_EVERY`` rounds and runs no convergence check; a loop that
stops at its fixpoint pins every round and reads one one-row
``(count, sum)`` aggregate per round.  :func:`_undirected` and
:func:`_vertices` are the shared preambles (symmetrized pinned edge
list; vertex set of an edge list).

Determinism: ranks are kept in integer nano-units (BIGINT) and every
update uses only integer floor-division and multiplication, so the
result is bit-identical across engines and partitionings — a DuckDB
oracle can state the same iterations in closed form.  (Float PageRank
sums are shuffle-order-dependent in the last ULP; integer grids are
not.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "pagerank",
    "cooccurrence_edges",
    "degree_assortativity",
    "clustering_coefficient",
    "triangle_count",
    "label_propagation",
    "kcore",
    "bfs_hops",
    "scc",
    "personalized_pagerank",
    "hits",
    "modularity",
    "closeness_from_landmarks",
    "link_prediction_ra",
]

#: rank scale: 1.0 == 10^9 nano-units.
SCALE = 1_000_000_000

#: fixed-round loops pin their state every this many rounds, so the
#: plan never grows by more than two rounds of joins + aggregates.
_PIN_EVERY = 2


def _vertices(e: DataFrame) -> DataFrame:
    """``(node)``: the distinct endpoints of a two-column edge list."""
    a, b = e.columns[:2]
    return (
        e.select(F.col(a).alias("node"))
        .union(e.select(F.col(b).alias("node")))
        .distinct()
    )


def _undirected(edges: DataFrame, a: str, b: str) -> DataFrame:
    """``(u, v)``: the distinct pairs of columns ``a``/``b`` stated in
    both directions, pinned — every caller scans it more than once."""
    e = edges.select(F.col(a).alias("u"), F.col(b).alias("v")).distinct()
    return e.union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)


def _relax(
    state: DataFrame,
    edges: DataFrame,
    agg,
    rounds: int,
    offer=None,
    converge: bool = False,
) -> DataFrame:
    """Bounded relaxation over ``state`` = ``(node, <value>)``: each
    round, every edge ``(u, v, ...)`` offers ``v`` the value at ``u``
    (or ``offer``, a Column over the joined edge + state row); the
    offers are unioned with the state and ``agg`` (``F.min`` /
    ``F.max``) keeps one value per node.  Offers only reach edge
    endpoints, so a caller whose state covers every ``v`` gets the
    same nodes back.

    ``converge=False`` runs all ``rounds`` and pins every
    ``_PIN_EVERY`` rounds.  ``converge=True`` pins every round and
    stops once the one-row ``(count, sum)`` of the state repeats: for
    a monotone ``agg`` an unchanged pair means an unchanged state (the
    driver reads one row per round, never data).

    Scale shape: per round one equi-join of the state against the
    edge list on ``u`` (broadcast or shuffle-hash, AQE picks) and one
    map-side-combined min/max aggregate on the node key.
    """
    val = state.columns[1]
    offer = F.col(val) if offer is None else offer
    prev = None
    for i in range(1, rounds + 1):
        offers = edges.join(state.withColumnRenamed("node", "u"), "u").select(
            F.col("v").alias("node"), offer.alias(val)
        )
        state = (
            state.unionByName(offers)
            .groupBy("node")
            .agg(agg(val).alias(val))
        )
        if converge or i % _PIN_EVERY == 0:
            state = state.localCheckpoint(eager=False)
        if converge:
            cur = tuple(state.agg(F.count(F.lit(1)), F.sum(val)).first())
            if cur == prev:
                break
            prev = cur
    return state


def _frontier(
    edges: DataFrame, visited: DataFrame, key: list, max_hops: int
) -> DataFrame:
    """Breadth-first expansion of ``visited`` = ``(*key, dist)`` over
    the edge list ``(u, v)``, out to ``max_hops``.  ``key`` ends in
    ``"node"``; any leading columns (a landmark id) ride along, so
    several searches share every join.  Round h joins the CURRENT
    frontier (keys first reached at h-1) to the edges, dedups the
    neighbours, anti-joins the visited set and stamps the survivors
    ``dist = h``; the new keys pin every ``_PIN_EVERY`` rounds.  Each
    round's work is proportional to the frontier's out-edges, not the
    graph."""
    frontier = visited.select(*key)
    for h in range(1, max_hops + 1):
        nbrs = (
            edges.join(frontier.withColumnRenamed("node", "u"), "u")
            .select(*key[:-1], F.col("v").alias("node"))
            .distinct()
        )
        new = nbrs.join(visited, key, "left_anti").select(
            *key, F.lit(h).cast("int").alias("dist")
        )
        if h % _PIN_EVERY == 0:
            new = new.localCheckpoint(eager=False)
        visited = visited.unionByName(new)
        frontier = new.select(*key)
    return visited


def _pagerank(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    iterations: int,
    damping_pct: int,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """The integer PageRank iteration behind :func:`pagerank` (uniform
    restart, ``seeds=None``) and :func:`personalized_pagerank` (restart
    on the ``(node)`` frame ``seeds`` only); ``(node, rank_nano)``."""
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    if not 0 <= damping_pct <= 100:
        raise ValueError("damping_pct must be in [0, 100]")
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    if iterations > 1:
        # the edge list is scanned every round: materialize the
        # distinct ONCE instead of re-deriving it from the source
        # (and re-shuffling) per iteration
        e = e.localCheckpoint(eager=False)
    nodes = _vertices(e)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    if iterations > 1:
        # the out-degree table feeds every round's join: pin it so
        # rounds after the first don't recompute the aggregate
        deg = deg.localCheckpoint(eager=False)
    base = (100 - damping_pct) * SCALE // 100
    if seeds is None:
        restart, start = F.lit(base).cast("long"), F.lit(SCALE).cast("long")
    else:
        # the seed flag rides a broadcast join wherever rank is
        # reconstructed; a node absent from it restarts with 0
        flag = F.broadcast(
            seeds.distinct().withColumn("__seed", F.lit(1))
        )
        seed = F.coalesce(F.col("__seed"), F.lit(0))
        restart, start = seed * F.lit(base), (seed * F.lit(SCALE)).cast("long")

    def seeded(df, key, how):
        if seeds is None:
            return df
        return df.join(flag.withColumnRenamed("node", key), key, how)

    # iterate SPARSE on the incoming-mass table: rank(v) is the pure
    # function restart(v) + (damping·incoming(v)) div 100 of it, and a
    # node absent from `incoming` has exactly rank == restart(v), which
    # the contribution join below reconstructs via coalesce — so the
    # dense per-round zero-fill join against the full vertex set is
    # deferred to the final projection (one |V|-shuffle saved per
    # round, bit-identical ranks; guide §2.4).  Both later-round joins
    # are LEFT: a seed with no incoming still carries its restart
    # mass, a non-seed with incoming carries its share.
    rank_expr = (
        restart + F.expr(f"({damping_pct} * coalesce(incoming, 0L)) div 100")
    ).alias("rank_nano")
    incoming = None
    for i in range(1, iterations + 1):
        if incoming is None:
            # round one: only nodes holding start rank (every source,
            # or the seeds) send mass
            ranked = seeded(e, "src", "inner").join(deg, "src").select(
                "dst", start.alias("rank_nano"), "outdeg"
            )
        else:
            ranked = (
                seeded(
                    e.join(
                        incoming.withColumnRenamed("node", "src"), "src", "left"
                    ),
                    "src",
                    "left",
                )
                .join(deg, "src")
                .select("dst", rank_expr, "outdeg")
            )
        incoming = (
            ranked.select(
                F.col("dst").alias("node"),
                F.expr("rank_nano div outdeg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("incoming"))
        )
        if i % _PIN_EVERY == 0:
            incoming = incoming.localCheckpoint(eager=False)
    if incoming is None:
        return seeded(nodes, "node", "left").select(
            "node", start.alias("rank_nano")
        )
    return seeded(nodes.join(incoming, "node", "left"), "node", "left").select(
        "node", rank_expr
    )


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 4,
    damping_pct: int = 85,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list.

    Every node appearing as a source starts at rank ``SCALE`` (1.0 in
    nano-units); each round a node sends ``rank div outdeg`` to each
    out-neighbour and collects ``floor(SCALE*(100-damping_pct)/100) +
    (damping_pct * incoming) div 100``.  Dangling nodes (no
    out-edges) receive updates but originate none, and their leaked
    mass is dropped — the standard simplification; pass a
    symmetrized edge list if every node must have out-degree >= 1.

    Returns ``(node BIGINT, rank_nano BIGINT)`` for every node that
    appears as a source or destination.

    Scale shape: out-degrees are one map-side-combined aggregate;
    each iteration is one equi-join of the (|V|-sized) rank table
    against the edge list on ``src`` — broadcast when the rank table
    is small, shuffle-hash otherwise, Spark's AQE picks — followed by
    one map-side-combined sum on ``dst``.  k iterations = k
    join+agg rounds, O(|E|) each; ``localCheckpoint`` every
    ``_PIN_EVERY`` rounds keeps the plan from growing superlinearly
    (same discipline as connected components, extended/dedup.py).
    """
    return _pagerank(edges, src_col, dst_col, iterations, damping_pct)


def cooccurrence_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_support: int = 1,
) -> DataFrame:
    """Item co-occurrence graph: an edge ``(x, y, sup)`` for every
    ordered item pair (``x < y``) that appears together in at least
    ``min_support`` groups — the market-basket / "parts bought
    together" structure.

    Scale shape: distinct (group, item) first, then a SELF-EQUI-JOIN
    on the group key — fan-out is Σ|group|², bounded because baskets
    are small (an order has ~7 items); the pair count aggregate is
    map-side combined.  The support threshold is what keeps the edge
    set (and everything downstream) sparse at 100 TB — without it the
    pair space is quadratic in item popularity.
    """
    if min_support < 1:
        raise ValueError("min_support must be >= 1")
    i = df.select(
        F.col(group_col).alias("g"), F.col(item_col).alias("x")
    ).distinct()
    a, b = i.alias("a"), i.alias("b")
    return (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g")) & (F.col("a.x") < F.col("b.x")),
        )
        .groupBy(F.col("a.x").alias("x"), F.col("b.x").alias("y"))
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= min_support)
    )


def triangle_count(
    edges: DataFrame,
    src_col: str = "x",
    dst_col: str = "y",
    orient: str = "degree",
) -> DataFrame:
    """Global triangle count over an undirected edge list (each edge
    stated in either — or BOTH — directions; the oriented list is
    deduplicated): edges are re-oriented by a total node order, then
    each triangle a→b→c is found exactly once by the
    two-hop-plus-closure join e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c).

    ``orient`` picks the total order:

    - ``"degree"`` (default): lower-degree endpoint first, id
      tie-break.  The wedge fan-out of the first join is
      Σ outdeg(v)² over middle nodes; degree orientation caps every
      outdeg at O(√|E|) (a node of degree d only keeps out-edges to
      HIGHER-degree neighbours, of which there are at most 2|E|/d),
      bounding total wedges at O(|E|^1.5) even on power-law graphs —
      a celebrity node contributes ZERO wedges because all its edges
      point inward.  This is the orientation to run at 100 TB.
    - ``"id"``: lower id first (enforced via least/greatest +
      dedup, so any input orientation is safe).  Wedges are unbounded on skewed
      graphs (a hub with degree d placed low in the id order fans out
      d² pairs); kept for plan-identical comparisons only.

    Scale shape: degree computation is one map-side-combined
    aggregate; re-orientation is two |V|-table equi-joins (AQE
    broadcasts when small); then the two triangle equi-joins.
    Output: one row ``(n_triangles)``.
    """
    e = edges.select(
        F.col(src_col).alias("x"), F.col(dst_col).alias("y")
    ).distinct()
    # pinned: the deduped edge list feeds the degree union (twice) and
    # the orientation join — unpinned, the upstream edge build replays
    # once per consumer (guide §2.4)
    e = e.localCheckpoint(eager=False)
    if orient == "degree":
        deg = (
            e.select(F.col("x").alias("node"))
            .unionAll(e.select(F.col("y").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
            # pinned: consumed as dx AND dy below
            .localCheckpoint(eager=False)
        )
        dx = deg.select(F.col("node").alias("x"), F.col("d").alias("dx"))
        dy = deg.select(F.col("node").alias("y"), F.col("d").alias("dy"))
        keep = (F.col("dx") < F.col("dy")) | (
            (F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))
        )
        e = (
            e.join(dx, "x")
            .join(dy, "y")
            .select(
                F.when(keep, F.col("x")).otherwise(F.col("y")).alias("x"),
                F.when(keep, F.col("y")).otherwise(F.col("x")).alias("y"),
            )
            # an undirected edge stated in BOTH directions ((a,b) and
            # (b,a) each survive the initial distinct) collapses to the
            # same oriented edge — dedup here or every incident
            # triangle double-counts; cheap next to the triangle joins
            .distinct()
        )
    elif orient == "id":
        # ENFORCE the id order rather than assuming it: least/greatest
        # + distinct collapses both-direction statements the same way
        # the degree path does (narrow map + the dedup shuffle)
        e = e.select(
            F.least(F.col("x"), F.col("y")).alias("x"),
            F.greatest(F.col("x"), F.col("y")).alias("y"),
        ).distinct()
    else:
        raise ValueError(f"unknown orient: {orient!r} (degree|id)")
    # pinned: the oriented list feeds all three closure-join legs
    e = e.localCheckpoint(eager=False)
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    return (
        e1.join(e2, F.col("e1.y") == F.col("e2.x"))
        .join(
            e3,
            (F.col("e3.x") == F.col("e1.x"))
            & (F.col("e3.y") == F.col("e2.y")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def label_propagation(
    edges: DataFrame,
    src_col: str = "x",
    dst_col: str = "y",
    rounds: int = 3,
) -> DataFrame:
    """Bounded-round min-label propagation over an undirected edge
    list: every node starts labeled with its own id; each round a node
    takes the minimum of its label and its neighbors' labels.  After k
    rounds, nodes within graph distance k of a component's minimum
    carry that minimum — the cheap community/cluster pass when full
    connected-components convergence is unnecessary (or as its
    bounded-latency approximation on a streaming cadence).

    Integer min-only updates: bit-identical across engines, so a SQL
    oracle can state the unrolled rounds (``graph_label_prop`` gate).

    Scale shape: each round is one :func:`_relax` step — one
    equi-join of the |V|-row label table against the (symmetrized)
    edge list plus a map-combined min aggregate, the same k x
    (join+agg) story as :func:`pagerank`.  The symmetrized list's
    ``v`` set equals its ``u`` set, so every proposal lands on a
    labelled node.
    """
    if rounds < 0:
        raise ValueError("rounds must be >= 0")
    sym = _undirected(edges, src_col, dst_col)
    labels = (
        sym.select(F.col("u").alias("node")).distinct()
        .select("node", F.col("node").alias("label"))
    )
    # a NULL id matches no join key, so it keeps its NULL label
    return _relax(labels, sym.filter(F.col("v").isNotNull()), F.min, rounds)


def kcore(
    edges: DataFrame,
    src_col: str = "x",
    dst_col: str = "y",
    k: int = 2,
    rounds: int = 3,
) -> DataFrame:
    """Bounded-round k-core peeling over an undirected edge list (each
    edge stated once, either direction): per round, drop every node
    whose current degree is below ``k`` together with its incident
    edges; after ``rounds`` peels return the surviving nodes with
    their final degree — the standard spam/fringe filter before
    community detection, and the subgraph where triangles/cliques
    concentrate.  Fixed rounds keep the loop oracle-unrollable
    (same contract as label_propagation); peeling converges when a
    round removes nothing, and real graphs need few rounds to shed
    the long tail.

    Output: ``(node, degree)`` over the round-``rounds`` edge set.

    Scale shape: per round ONE map-combined degree aggregate (|V|
    rows) + two semi-joins of the edge list against the surviving
    node set (broadcast when the core is small, shuffle-hash
    otherwise — AQE picks); ``localCheckpoint`` bounds lineage like
    every iterative operator here.
    """
    if k < 0 or rounds < 0:
        raise ValueError("k >= 0 and rounds >= 0 required")
    sym = _undirected(edges, src_col, dst_col)
    for i in range(1, rounds + 1):
        deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("c"))
        good = deg.filter(F.col("c") >= k).select("u")
        sym = sym.join(good, "u", "left_semi").join(
            good.withColumnRenamed("u", "v"), "v", "left_semi"
        )
        if i % _PIN_EVERY == 0:
            sym = sym.localCheckpoint(eager=False)
    return (
        sym.groupBy("u")
        .agg(F.count(F.lit(1)).alias("degree"))
        .select(
            F.col("u").alias("node"),
            F.col("degree").cast("long").alias("degree"),
        )
    )


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    src_col: str = "x",
    dst_col: str = "y",
    node_col: str = "node",
    max_hops: int = 3,
) -> DataFrame:
    """Multi-source breadth-first search over an undirected edge list:
    the minimum hop distance from ANY source node, out to
    ``max_hops`` — the reachability/blast-radius primitive (seed-set
    expansion, contamination neighborhoods, n-hop ego networks).

    Frontier algorithm, the Pregel shape stated relationally: round h
    joins the CURRENT frontier (nodes first reached at h-1) to the
    symmetrized edge list, dedups the neighbor set, anti-joins the
    visited set, and stamps survivors ``dist = h``.  Each round's work
    is proportional to the frontier's out-edges, not the graph — the
    property that makes BFS tractable on billion-edge graphs; the
    visited/frontier tables are node-keyed equi-joins (broadcast when
    the frontier is small, shuffle-hash otherwise — AQE picks), and
    ``localCheckpoint`` bounds lineage like every iterative operator
    here.  Distances are exact integers, so a SQL oracle can state the
    same result as a bounded recursive CTE.

    Output: ``(node, dist)`` — every node within ``max_hops`` of a
    source (sources themselves at dist 0).  Unreached nodes are
    absent, not NULL.
    """
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    visited = sources.select(
        F.col(node_col).alias("node"), F.lit(0).cast("int").alias("dist")
    ).distinct()
    visited = _frontier(
        _undirected(edges, src_col, dst_col), visited, ["node"], max_hops
    )
    return visited.select(
        F.col("node").cast("long").alias("node"),
        F.col("dist").cast("int").alias("dist"),
    )


def sssp(
    edges: DataFrame,
    sources: DataFrame,
    src_col: str = "x",
    dst_col: str = "y",
    weight_col: str = "w",
    node_col: str = "node",
    rounds: int = 3,
) -> DataFrame:
    """Multi-source WEIGHTED shortest paths over an undirected edge
    list, bounded to paths of at most ``rounds`` edges — distributed
    Bellman-Ford as pure relational rounds: round h joins the current
    distance table to the edge list, proposes ``dist + w`` to every
    neighbor, and min-aggregates proposals against the standing
    distances.  The hop bound makes the result exact for the
    "cost within a bounded radius" question (routing tiers, influence
    cost, contamination spread with weighted links) and keeps the
    oracle expressible as a depth-bounded recursive CTE.

    Weights must be non-negative integers (BIGINT lattice — exact in
    any engine).  Output: ``(node, dist)`` — the cheapest cost from
    any source using at most ``rounds`` edges; unreached nodes are
    absent.

    Scale shape: per round one equi-join (distance table × edges on
    the source endpoint, shuffle on the node key) and one map-side-
    combined min aggregate; ``localCheckpoint`` bounds lineage.
    Unlike BFS there is no frontier shrinkage guarantee — the
    distance table is the full reached set each round — but each
    round's join work is |reached ⋈ edges|, proportional to the
    reached neighborhood, not the graph.
    """
    if rounds < 0:
        raise ValueError("rounds must be >= 0")
    e = edges.select(
        F.col(src_col).alias("u"),
        F.col(dst_col).alias("v"),
        F.col(weight_col).cast("long").alias("w"),
    ).groupBy("u", "v").agg(F.min("w").alias("w"))
    sym = e.union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    ).localCheckpoint(eager=False)
    dist = sources.select(
        F.col(node_col).alias("node"), F.lit(0).cast("long").alias("dist")
    ).distinct()
    dist = _relax(dist, sym, F.min, rounds, F.col("dist") + F.col("w"))
    return dist.select(
        F.col("node").cast("long").alias("node"),
        F.col("dist").cast("long").alias("dist"),
    )


def neighbor_jaccard(
    edges: DataFrame,
    src_col: str = "x",
    dst_col: str = "y",
    min_common: int = 1,
) -> DataFrame:
    """Structural node similarity: for every node pair sharing at
    least ``min_common`` neighbors, the Jaccard coefficient of their
    neighbor sets — the link-prediction / role-equivalence primitive
    ("users who bought what you bought", co-purchase substitutes).

    Output: ``(u1, u2, common, deg1, deg2, jaccard)`` with ``u1 < u2``
    and ``jaccard`` one deterministic BIGINT/BIGINT double division.

    Scale shape: candidate pairs come from the WEDGE join (adjacency
    self-equi-joined on the shared neighbor, u1 < u2) — work is
    Σ deg(v)², the number of wedges, never |V|²; hub-degree skew is
    the usual wedge-count exposure (cap or sample hub adjacency
    upstream if Σdeg² explodes).  Degrees are one map-combined
    aggregate broadcast back onto the (much smaller) pair table.
    """
    if min_common < 1:
        raise ValueError("min_common must be >= 1")
    # pinned: the symmetrized adjacency feeds both wedge-join legs AND
    # the degree aggregate (guide §2.4)
    adj = _undirected(edges, src_col, dst_col)
    a, b = adj.alias("a"), adj.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.v") == F.col("b.v")) & (F.col("a.u") < F.col("b.u")),
        )
        .groupBy(F.col("a.u").alias("u1"), F.col("b.u").alias("u2"))
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
        .filter(F.col("common") >= min_common)
    )
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    return (
        common.join(
            deg.select(F.col("u").alias("u1"), F.col("deg").alias("deg1")),
            "u1",
        )
        .join(
            deg.select(F.col("u").alias("u2"), F.col("deg").alias("deg2")),
            "u2",
        )
        .select(
            "u1",
            "u2",
            "common",
            "deg1",
            "deg2",
            (
                F.col("common").cast("double")
                / (F.col("deg1") + F.col("deg2") - F.col("common")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )


def scc(
    edges: DataFrame,
    src_col: str = "u",
    dst_col: str = "v",
    rounds: int = 8,
    outer_rounds: int = 4,
) -> DataFrame:
    """Strongly connected components of a DIRECTED edge list via
    forward-backward coloring (the classic distributed FW-BW / Orzan
    coloring scheme, public algorithm) — the directed counterpart to
    the undirected connected-components operator in
    ``extended.dedup``.

    Per outer round, over the residual graph:

    1. FORWARD coloring: ``color(v) = max node id that reaches v``,
       computed as ``rounds`` max-label propagation steps (one
       edge-join + max-aggregate each — O(|E|) relational rounds, a
       single BIGINT label per node, never a reachability pair set).
    2. Roots: nodes with ``color(v) = v``.  For any node v with color
       c, c reaches v; if additionally v reaches c they are mutually
       reachable, and every intermediate node on the return path
       provably carries the same color — so
    3. BACKWARD confirmation restricted to SAME-COLOR edges (one
       boolean per node, seeded at the roots, ``rounds`` steps along
       reversed edges) marks exactly ``SCC(c)`` for every root c.
    4. Members of confirmed SCCs settle with ``scc_id = color`` and
       leave the residual; because every higher-id upstream node
       settles in an earlier outer round, the settled label is the
       MAX member id of the SCC — canonical across partitionings.

    ``rounds`` must be >= the forward diameter of the graph and
    ``outer_rounds`` >= the longest root-chain in the condensation;
    both are UPPER bounds — max-label propagation is monotone (labels
    only grow), so both loops run :func:`_relax` to convergence: a
    one-row ``(count, sum)`` checksum per step detects the fixpoint
    exactly and exits early (the bounded-collect convergence pattern
    from connected components: the driver sees one row per round,
    never data).  An IN-PLAN ``raise_error``
    guard fires if any node is still unsettled at the end, so an
    under-provisioned bound can never silently return a wrong
    partition (the merge-uniqueness-guard pattern).

    Scale shape: every step is an equi-join on a node key plus a
    map-side-combined max/any aggregate; ``localCheckpoint`` bounds
    lineage per outer round.  Work per outer round is
    O(rounds * |residual edges|).

    Output: ``(node, scc_id)`` — scc_id = max node id in the
    component.
    """
    if rounds < 1 or outer_rounds < 1:
        raise ValueError("rounds and outer_rounds must be >= 1")
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("u"),
            F.col(dst_col).cast("long").alias("v"),
        )
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .distinct()
    )
    nodes = _vertices(e).localCheckpoint(eager=False)
    e = e.localCheckpoint(eager=False)
    settled = None
    for _ in range(outer_rounds):
        colors = _relax(
            nodes.select("node", F.col("node").alias("color")),
            e,
            F.max,
            rounds,
            converge=True,
        )
        same = (
            e.join(
                colors.select(
                    F.col("node").alias("u"), F.col("color").alias("cu")
                ),
                "u",
            )
            .join(
                colors.select(
                    F.col("node").alias("v"), F.col("color").alias("cv")
                ),
                "v",
            )
            .filter(F.col("cu") == F.col("cv"))
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
        # backward along the reversed same-color edges, from the roots
        marked = _relax(
            colors.filter(F.col("node") == F.col("color")).select(
                "node", F.col("color").alias("scc_id")
            ),
            same.select(F.col("v").alias("u"), F.col("u").alias("v")),
            F.max,
            rounds,
            converge=True,
        )
        settled = (
            marked if settled is None else settled.unionByName(marked)
        ).localCheckpoint(eager=False)
        nodes = nodes.join(
            marked.select("node"), "node", "left_anti"
        ).localCheckpoint(eager=False)
        if nodes.isEmpty():
            break
        e = (
            e.join(marked.select(F.col("node").alias("u")), "u", "left_anti")
            .join(marked.select(F.col("node").alias("v")), "v", "left_anti")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
    leftover = nodes.select(
        "node", F.lit(None).cast("long").alias("scc_id")
    )
    out = (
        settled.unionByName(leftover) if settled is not None else leftover
    )
    guarded = F.when(
        F.col("scc_id").isNull(),
        F.raise_error(
            F.lit(
                "scc: unsettled nodes remain — raise rounds/outer_rounds"
            )
        ).cast("long"),
    ).otherwise(F.col("scc_id"))
    return out.select(
        F.col("node").cast("long").alias("node"),
        guarded.cast("long").alias("scc_id"),
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    iterations: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """Personalized PageRank: random walks restart at the SEED set
    instead of uniformly, so rank measures proximity TO the seeds —
    the "similar to these" primitive behind seed-expanded audiences,
    related-item discovery and local community scoring.

    Same integer nano-unit discipline and join+agg rounds as
    :func:`pagerank`, with the restart vector supported on seeds
    only: ``r_0 = SCALE·[v ∈ S]`` and each round
    ``r' = restart(v) + (damping · incoming) div 100`` where
    ``restart`` is ``SCALE·(100−damping)/100`` on seeds and 0
    elsewhere (unnormalized — ranks scale with |S|, orderings do
    not).  The seed table joins broadcast; everything else is the
    pagerank shape: k rounds of one edge equi-join + one
    map-combined sum.

    Output: ``(node, rank_nano)`` for every node reachable in the
    edge list's vertex set.
    """
    return _pagerank(
        edges,
        src_col,
        dst_col,
        iterations,
        damping_pct,
        seeds.select(F.col(seed_col).alias("node")),
    )


def hits(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 2,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999), INTEGER-EXACT: the
    unnormalized power iteration ``a = Aᵀh; h = A a`` with all-ones
    start, emitting raw BIGINT scores after ``iterations`` full
    rounds.  Classic HITS L2-normalizes each step — a cosmetic rescale
    that never changes orderings — so the integer form is the same
    ranking with none of the cross-engine float drift; callers who
    want [0,1] scores divide by the max in one extra aggregate.

    Scores grow like (σ_max)² per round: two rounds on a graph with
    max degree d bound scores by d⁴ — int64-safe for any realistic
    degree (d ≤ 30k even at 100 TB-scale catalogs).  For larger
    ``iterations`` rescale between rounds (divide both vectors by
    their max — ordering-preserving) before overflow.

    Scale shape: per round, TWO edge equi-joins + map-combined sums —
    identical to :func:`pagerank`'s plan, with the edge list
    checkpointed once and reused by every round.

    Output: ``(node, hub, auth)`` over the full vertex set.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct().localCheckpoint(eager=False)
    nodes = _vertices(e).localCheckpoint(eager=False)
    hub = nodes.select("node", F.lit(1).cast("long").alias("hub"))
    auth = None
    # iterate SPARSE: a node absent from `auth`/`hub` carries an exact
    # zero, and zeros contribute nothing to the next round's sums, so
    # the dense zero-fill against the full vertex set is deferred to
    # the final projection — two fewer node-sized shuffle joins per
    # round for bit-identical scores (guide §2.4: remove shuffles
    # outright)
    for i in range(1, iterations + 1):
        auth = (
            e.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").cast("long").alias("auth"))
        )
        hub = (
            e.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("auth").cast("long").alias("hub"))
        )
        if i % _PIN_EVERY == 0:
            hub = hub.localCheckpoint(eager=False)
            auth = auth.localCheckpoint(eager=False)
    return (
        nodes.join(hub, "node", "left")
        .join(auth, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("hub"), F.lit(0)).cast("long").alias("hub"),
            F.coalesce(F.col("auth"), F.lit(0)).cast("long").alias("auth"),
        )
    )


def modularity(
    edges: DataFrame,
    community: DataFrame,
    u_col: str = "x",
    v_col: str = "y",
    node_col: str = "node",
    comm_col: str = "comm",
) -> DataFrame:
    """Newman modularity of a community assignment over an undirected
    simple graph — the single-number "are these communities real?"
    audit for any partition this repo produces (label_propagation
    output, nation groupings, dedup connected components)::

        Q = Σ_c [ e_c/m − (d_c / 2m)² ]
          = ( 4m·intra − Σ_c d_c² ) / (4m²)

    where ``m`` is the edge count, ``intra`` the edges with both
    endpoints in one community, and ``d_c`` the community's total
    degree.  Everything folds as integers on the common denominator
    4m² — ``d_c ≤ 2m`` so ``Σ d_c² ≤ 4m²`` fits DECIMAL(38,0) up to
    m ~ 10¹² edges — and the single closing division lands on the 1e9
    lattice with an explicit sign split (Q < 0 for anti-assortative
    partitions; Spark ``div`` truncates toward zero while DuckDB
    ``//`` floors, so the magnitude is truncated and then negated —
    identical in both engines).

    Contract: ``edges`` must be DISTINCT undirected pairs without
    self-loops (one row per edge, either orientation); ``community``
    must hold ONE row per node (a duplicated assignment fans the
    edge joins out and double-counts); edges with an endpoint missing
    from ``community`` are dropped (``m``, degrees and ``intra`` all
    derive from the surviving edge set, so the reported Q is the
    modularity OF THE COVERED SUBGRAPH).

    Scale shape: two hash equi-joins edge→community (the assignment is
    node-sized — no broadcast assumption), one degree aggregate, one
    per-community aggregate bounded by #communities, one final row.

    Output: ``(m, n_nodes, n_communities, intra_edges, q_nano)``.
    """
    c = community.select(
        F.col(node_col).alias("__n"), F.col(comm_col).alias("__c")
    )
    e = (
        edges.select(F.col(u_col).alias("__u"), F.col(v_col).alias("__v"))
        .join(c.withColumnRenamed("__n", "__u").withColumnRenamed("__c", "__cu"), "__u")
        .join(c.withColumnRenamed("__n", "__v").withColumnRenamed("__c", "__cv"), "__v")
    )
    e = e.localCheckpoint(eager=False)  # joined edges feed 3 consumers
    m_intra = e.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum(
            F.when(F.col("__cu").eqNullSafe(F.col("__cv")), 1).otherwise(0)
        )
        .cast("long")
        .alias("intra_edges"),
    )
    deg = (
        e.select(F.col("__u").alias("__n"), F.col("__cu").alias("__c"))
        .unionAll(
            e.select(F.col("__v").alias("__n"), F.col("__cv").alias("__c"))
        )
        .groupBy("__n", "__c")
        .agg(F.count(F.lit(1)).cast("long").alias("__d"))
    )
    per_c = deg.groupBy("__c").agg(
        F.count(F.lit(1)).cast("long").alias("__nodes"),
        F.sum(F.expr("CAST(__d AS DECIMAL(38,0))")).alias("__dc"),
    )
    sums = per_c.agg(
        F.sum("__nodes").cast("long").alias("n_nodes"),
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        F.sum(F.expr("__dc * __dc")).alias("__dsq"),
    )
    num = (
        "(CAST(4 AS DECIMAL(38,0)) * m * intra_edges"
        " - CAST(__dsq AS DECIMAL(38,0)))"
    )
    den = "(CAST(4 AS DECIMAL(38,0)) * m * m)"
    return m_intra.crossJoin(F.broadcast(sums)).select(
        "m",
        "n_nodes",
        "n_communities",
        "intra_edges",
        F.expr(
            f"CASE WHEN m > 0 THEN CAST(CASE WHEN {num} >= 0"
            f" THEN {num} * 1000000000 div {den}"
            f" ELSE -((-{num}) * 1000000000 div {den}) END AS BIGINT)"
            " END"
        ).alias("q_nano"),
    )


def closeness_from_landmarks(
    edges: DataFrame,
    landmarks: DataFrame,
    src_col: str = "x",
    dst_col: str = "y",
    node_col: str = "node",
    max_hops: int = 3,
) -> DataFrame:
    """Hop-bounded closeness + harmonic centrality for a LANDMARK set
    — the standard scale posture for centrality on big graphs: exact
    all-pairs closeness is O(V·E) and unrunnable at 100 TB, so a
    pipeline picks a bounded landmark sample and BFS-expands each to
    a hop horizon (Eppstein-Wang-style estimation runs exactly this
    plan with random landmarks).  Per-source distances ride the SAME
    frontier loop as :func:`bfs_hops` with the visited/frontier keys
    widened to ``(src, node)`` — per-round work stays proportional to
    the live frontiers' out-edges, landmark expansions share every
    join (one shuffle per round TOTAL, not per landmark), and
    ``localCheckpoint`` bounds lineage.

    Everything emitted is on the integer lattice so a recursive-CTE
    oracle matches by hash: per landmark ``n_reached`` (nodes within
    ``max_hops``, self excluded), ``dist_sum`` (Σ hop distances),
    ``closeness_micro`` = ``1e6·n_reached // dist_sum`` (the classic
    closeness numerator restricted to the horizon — NULL when nothing
    is reached), and ``harmonic_micro`` = ``Σ (1_000_000 // d)``
    (each term an exact integer division, so the sum is
    order-independent).

    Output: ``(node, n_reached, dist_sum, closeness_micro,
    harmonic_micro)`` — one row per landmark that appears in the
    edge list (isolated landmarks are absent by construction, same
    contract as bfs_hops' unreached nodes).
    """
    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    visited = landmarks.select(
        F.col(node_col).alias("src"),
        F.col(node_col).alias("node"),
        F.lit(0).cast("int").alias("dist"),
    ).distinct()
    visited = _frontier(
        _undirected(edges, src_col, dst_col),
        visited,
        ["src", "node"],
        max_hops,
    )
    reached = visited.filter(F.col("dist") > 0)
    agg = reached.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("n_reached"),
        F.sum(F.col("dist").cast("long")).cast("long").alias("dist_sum"),
        F.sum(F.expr("CAST(1000000 AS BIGINT) div CAST(dist AS BIGINT)"))
        .cast("long")
        .alias("harmonic_micro"),
    )
    return agg.select(
        F.col("src").cast("long").alias("node"),
        "n_reached",
        "dist_sum",
        F.when(
            F.col("dist_sum") > 0,
            F.expr("(n_reached * CAST(1000000 AS BIGINT)) div dist_sum"),
        )
        .cast("long")
        .alias("closeness_micro"),
        "harmonic_micro",
    )


def link_prediction_ra(
    edges: DataFrame,
    max_degree: int = 1000,
    min_common: int = 1,
) -> DataFrame:
    """Link prediction by the RESOURCE-ALLOCATION index: for every
    non-adjacent node pair sharing at least ``min_common`` neighbors,
    ``RA(a,b) = Σ_{z ∈ N(a)∩N(b)} 1/deg(z)`` — the
    Adamic-Adar-family score that is EXACT on the integer lattice
    (``1_000_000 div deg``; Adamic-Adar\'s 1/log(deg) is libm and
    stays off the hash path, and RA outperforms it on most benchmark
    graphs anyway: Zhou/Lü/Zhang 2009).  The "which items will
    co-occur next" / "which accounts are the same actor" primitive.

    Scale shape: symmetrize edges, ONE self-equi-join on the shared
    neighbor z (candidate volume Σ_z deg(z)² — the wedge count), one
    (a, b)-keyed aggregate, one anti-join against the existing edge
    set.  ``max_degree`` drops hub intermediaries BEFORE the wedge
    join: a hub\'s wedges are quadratic in its degree while its RA
    contribution (1/deg) is the smallest — the standard guard that
    keeps the wedge volume bounded at 100 TB (same posture as the
    bounded neighbor_agg).  Dropped hubs are reported by the caller\'s
    degree profile, not silently: the parameter is the documented
    horizon, like knn_join\'s radius.

    Input: undirected edge list ``(x, y)`` with ``x < y`` (the
    :func:`cooccurrence_edges` shape; extra columns ignored).
    Output: ``(a, b, common_neighbors, ra_micro)`` with ``a < b``,
    pairs already adjacent excluded.
    """
    if max_degree < 1:
        raise ValueError("max_degree must be >= 1")
    if min_common < 1:
        raise ValueError("min_common must be >= 1")
    e = edges.select(F.col("x").cast("long").alias("u"),
                     F.col("y").cast("long").alias("v"))
    # pinned: e feeds the symmetrizing union (twice) and the final
    # adjacency anti-join (guide §2.4)
    e = e.localCheckpoint(eager=False)
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy(F.col("u").alias("z")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    hops = (
        sym.select(F.col("v").alias("z"), F.col("u").alias("n"))
        .join(deg.filter(F.col("deg") <= max_degree), "z")
        # pinned: both legs of the wedge self-join consume it
        .localCheckpoint(eager=False)
    )
    a, b = hops.alias("a"), hops.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.z") == F.col("b.z")) & (F.col("a.n") < F.col("b.n")),
        )
        .groupBy(F.col("a.n").alias("a"), F.col("b.n").alias("b"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("common_neighbors"),
            # a.z == b.z so a.deg == b.deg; qualify to avoid the
            # ambiguous-reference error on the self-join
            F.sum(F.expr("1000000 div a.deg")).cast("long").alias("ra_micro"),
        )
        .filter(F.col("common_neighbors") >= min_common)
    )
    adjacent = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    return pairs.join(adjacent, ["a", "b"], "left_anti")


def degree_assortativity(
    edges: DataFrame, src_col: str = "x", dst_col: str = "y"
) -> DataFrame:
    """Newman degree assortativity of an undirected graph — the
    one-number mixing summary (do hubs attach to hubs, r > 0, or to
    leaves, r < 0?) that decides whether degree-capped algorithms
    (link prediction's hub horizon, neighborhood sampling) will bite
    on this graph: Pearson correlation of the endpoint degrees over
    the symmetrized edge list (Newman 2002), EXACT on the integer
    lattice — degrees are BIGINT counts, the six moment sums are
    BIGINT, and the close is the shared
    ``floor(1000·(num/sqrt(dx·dy)) + 0.5)`` IEEE association
    (magnitude contract: ``n·Σ(dx·dy) < 2^63``, the caller's graph
    scale).

    Scale shape: one symmetrizing union, one degree aggregate
    (map-combined), two hash equi-joins to decorate endpoints, one
    1-row moment aggregate — no window, no collect.  Regular graphs
    (every degree equal) have zero variance and emit NULL.

    Output: one row ``(n_nodes, n_edges, r_milli)`` with ``n_edges``
    the undirected edge count.
    """
    sym = edges.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("v")
    ).unionAll(
        edges.select(
            F.col(dst_col).alias("u"), F.col(src_col).alias("v")
        )
    )
    # pins: sym feeds the degree aggregate AND the decoration join;
    # deg feeds du, dv and the node count — unpinned, each consumer
    # replays the upstream edge build (guide §2.4)
    sym = sym.localCheckpoint(eager=False)
    deg = sym.groupBy("u").agg(
        F.count(F.lit(1)).cast("long").alias("d")
    ).localCheckpoint(eager=False)
    pairs = (
        sym.join(deg.withColumnRenamed("u", "__a"), sym["u"] == F.col("__a"))
        .select("v", F.col("d").alias("du"))
        .join(
            deg.select(
                F.col("u").alias("__b"), F.col("d").alias("dv")
            ),
            F.col("v") == F.col("__b"),
        )
        .select("du", "dv")
    )
    s = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("m2"),
        F.sum("du").cast("long").alias("sx"),
        F.sum("dv").cast("long").alias("sy"),
        F.sum(F.col("du") * F.col("du")).cast("long").alias("sxx"),
        F.sum(F.col("dv") * F.col("dv")).cast("long").alias("syy"),
        F.sum(F.col("du") * F.col("dv")).cast("long").alias("sxy"),
    )
    nodes = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    num = F.col("m2") * F.col("sxy") - F.col("sx") * F.col("sy")
    dx = F.col("m2") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("m2") * F.col("syy") - F.col("sy") * F.col("sy")
    r = F.when(
        (dx > 0) & (dy > 0),
        F.floor(
            F.lit(1000.0)
            * (
                num.cast("double")
                / F.sqrt(dx.cast("double") * dy.cast("double"))
            )
            + F.lit(0.5)
        ).cast("long"),
    )
    return s.join(F.broadcast(nodes)).select(
        "n_nodes",
        F.expr("m2 DIV 2").cast("long").alias("n_edges"),
        r.alias("r_milli"),
    )


def clustering_coefficient(
    edges: DataFrame, src_col: str = "x", dst_col: str = "y"
) -> DataFrame:
    """Global clustering coefficient (transitivity) of an undirected
    graph — ``C = 3·triangles / wedges``, the fraction of open
    two-paths that close (Watts-Strogatz / Newman transitivity):
    with :func:`degree_assortativity` (who attaches to whom) and
    :func:`triangle_count` (how much closure), this completes the
    one-number graph metrology a pipeline profiles before picking
    community or embedding algorithms.

    Exact on the integer lattice: wedges ``Σ d(v)·(d(v)-1)/2`` from
    one degree aggregate (BIGINT; d·(d-1) is even so the halving is
    exact), triangles from the degree-oriented closure join of
    :func:`triangle_count` (wedge volume O(|E|^1.5) even on
    power-law graphs), and the close is
    ``c_micro = (3T·10^6) div W`` in int64 (magnitude contract:
    ``3T·10^6 < 2^63``).

    Output: one row
    ``(n_nodes, n_edges, n_wedges, n_triangles, c_micro)`` —
    ``c_micro`` NULL on wedge-free graphs.
    """
    # pinned: the caller's edge list feeds the wedge-count degree pass
    # (twice, via the symmetrizing union) and the triangle closure —
    # one upstream build instead of five (guide §2.4)
    edges = edges.select(src_col, dst_col).localCheckpoint(eager=False)
    sym = edges.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("v")
    ).unionAll(
        edges.select(
            F.col(dst_col).alias("u"), F.col(src_col).alias("v")
        )
    )
    deg = sym.groupBy("u").agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    sums = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        (F.sum(F.col("d")) / 2).cast("long").alias("n_edges"),
        (F.sum(F.col("d") * (F.col("d") - 1)) / 2)
        .cast("long")
        .alias("n_wedges"),
    )
    tri = triangle_count(edges, src_col, dst_col).select(
        F.col("n_triangles").cast("long").alias("n_triangles")
    )
    joined = sums.join(F.broadcast(tri))
    t3 = F.col("n_triangles") * 3 * F.lit(1_000_000)
    return joined.select(
        "n_nodes", "n_edges", "n_wedges", "n_triangles",
        F.when(
            F.col("n_wedges") > 0,
            ((t3 - t3 % F.col("n_wedges")) / F.col("n_wedges"))
            .cast("long"),
        ).alias("c_micro"),
    )
