"""Graph analytics over the materialized KG edge table.

The pipeline ends at partitioned node/edge tables (pipeline.py:110-166);
these operators are the downstream consumers a KG user runs next: degree
profiles, fixed-iteration PageRank, triangle counting, k-hop reach. All
are pure DataFrame plans (no UDFs, no driver-side loops over rows).

Scale notes (100 TB / 10^9-node targets):
- PageRank is the classic iterative equi-join: ranks ⨝ edges on src,
  groupBy dst. Skewed head entities are exactly the north rule's concern;
  the join keys are the edge endpoints, so AQE skew-join splitting
  applies, and the per-iteration dangling mass is a 1-row aggregate
  broadcast back (no collect per iteration — the loop builds one lazy
  plan, O(iters) shuffles total).
- Arithmetic is **integer fixed-point** (rank mass scaled by 10^12,
  i64). Integer sums are associative, so the result is bit-identical
  under any partitioning / AQE re-plan — the same trick the k-means
  codebook uses (similarity.py: rounded means). A float PageRank would
  drift in the last ulps per partition order and be un-oracle-able.
- Triangle counting orients each undirected edge from its (degree, id)-
  smaller endpoint to the larger, the standard skew bound: every node's
  oriented out-degree is O(sqrt(|E|)), so the wedge join cannot blow up
  on a hub node the way the naive a<b<c join does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SCALE = 10**12


def degree_stats(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """(node, out_deg, in_deg) over the distinct directed edge set.

    One groupBy per direction over distinct pairs, full-outer joined —
    two shuffles on node id, no skew issue beyond what AQE handles.
    """
    e = edges.select(src, dst).distinct()
    outd = e.groupBy(F.col(src).alias("node")).agg(F.count(F.lit(1)).alias("out_deg"))
    ind = e.groupBy(F.col(dst).alias("node")).agg(F.count(F.lit(1)).alias("in_deg"))
    return (
        outd.join(ind, "node", "full_outer")
        .select(
            "node",
            F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).cast("long").alias("in_deg"),
        )
    )


def graph_nodes(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Distinct endpoint set as a single `node` column."""
    return (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
    )


# Default `checkpoint_every` of the operators whose rounds each read the
# previous round's state twice (pagerank, bfs_distances), so that an
# uncut interval of k rounds holds 2^k copies of the plan before it.
# Measured on the 40-node test graph (4 vCPU, local[4]): the optimized
# PageRank plan holds 1.1k, 3.5k, 9.2k, 22.4k and 53.1k chars after 1-5
# uncut rounds (BFS 0.6k-35.2k); at 12 rounds a cut every 2, 3, 4 or 6
# rounds leaves 3.7k, 9.5k, 23.1k or 124k chars (BFS 2.0k-72.9k), and
# k=4 ran about as fast as 2 or 3 (PageRank) or faster (BFS, whose
# per-cut job costs more than its short plan saves), while 6 was slower.
# The last round is never cut, so calls of at most DEFAULT_CUT rounds
# keep the uncut plan.
DEFAULT_CUT = 4


def fixed_rounds(state: tuple, step, rounds: int, checkpoint_every: int | None) -> tuple:
    """`state = step(state, r)` for r = 1..rounds over a tuple of DataFrames.

    With `checkpoint_every=k` (None or 0: never) every element is eagerly
    localCheckpointed after each round r with r % k == 0 and r < rounds,
    so lineage spans at most k rounds. Every caller's arithmetic is
    partitioning-invariant, so the cuts cannot change a bit of a result."""
    for r in range(1, rounds + 1):
        state = step(state, r)
        if checkpoint_every and r % checkpoint_every == 0 and r < rounds:
            state = tuple(df.localCheckpoint(eager=True) for df in state)
    return state


def pagerank(
    edges: DataFrame,
    iters: int = 4,
    damping_pct: int = 85,
    src: str = "src",
    dst: str = "dst",
    init_ranks: DataFrame | None = None,
    checkpoint_every: int | None = DEFAULT_CUT,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank in i64 fixed-point → (node, rank_s, rank).

    Update rule per iteration (all-integer, exact):
        contrib(e)  = r(src) // out_deg(src)          per distinct edge
        S(v)        = Σ contrib over in-edges of v     (exact i64 sum)
        D           = Σ r over dangling nodes          (1-row agg, broadcast)
        r'(v)       = ((100-d) * (SCALE//N)) // 100
                      + (d * (S(v) + D//N)) // 100
    which is the standard r' = (1-α)/N + α(S + D/N) with mass scaled by
    SCALE=10^12. `rank` is rank_s/SCALE as double for human consumption;
    `rank_s` is the exact invariant the oracle matches. Total mass stays
    ≤ SCALE (floor-division leaks stay in the floors, never duplicate).

    The loop (`fixed_rounds`) builds ONE lazy plan, no action per round.
    Every round reads the ranks twice (contributions and dangling mass),
    so k uncut rounds hold 2^k copies of the plan before them. Every
    `checkpoint_every` rounds (DEFAULT_CUT unless given; None: never) the
    ranks are eagerly localCheckpointed, one job per interval (the
    GraphX-style materialize). The i64 arithmetic is partitioning-
    invariant, so the cuts cannot change a bit of the result (pinned).

    `init_ranks` (node, rank_s) warm-starts the iteration — the
    INCREMENTAL path: after the pipeline merges an edge delta, reuse the
    prior run's ranks as init (new nodes start at SCALE//N) and run a
    few refinement iterations instead of the full count from uniform.
    Still exact integer arithmetic, so an oracle can unroll the same
    warm-started recurrence and hash-match bit for bit.

    `seeds` (single `node` column) switches to PERSONALIZED PageRank —
    the KG consumer for "entities related to X": teleport and dangling
    mass return to the seed set instead of uniformly, i.e.
        r'(v) = (1-α)·T(v) + α·(S(v) + D·T(v))
    with T uniform over the seeds present in the graph (integer form:
    SCALE//n_seeds at seeds, 0 elsewhere; init = T). Same one-lazy-plan /
    O(iters)-shuffle shape, same exact i64 arithmetic — the recurrence
    stays SQL-unrollable and bit-exact. Mutually exclusive with
    `init_ranks` (warm-started PPR would need the seed base as the
    new-node fallback; keep the contracts separate).
    """
    if seeds is not None and init_ranks is not None:
        raise ValueError("pagerank: seeds and init_ranks are mutually exclusive")
    e = edges.select(src, dst).distinct().localCheckpoint(eager=False)
    nodes = graph_nodes(e, src, dst).localCheckpoint(eager=False)
    n_nodes = nodes.count()  # one scalar job up front; O(1) driver traffic
    if n_nodes == 0:
        # empty graph: same contract as triangle_count/degree_stats —
        # an empty result with the full output schema (node keeps the
        # input's endpoint type), not a ZeroDivisionError
        return nodes.select(
            "node",
            F.lit(None).cast("long").alias("rank_s"),
            F.lit(None).cast("double").alias("rank"),
        )
    base = SCALE // n_nodes
    outd = e.groupBy(F.col(src).alias("node")).agg(F.count(F.lit(1)).alias("out_deg"))
    # node table annotated once with out_deg (0 = dangling)
    ndeg = nodes.join(outd, "node", "left").select(
        "node", F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg")
    ).localCheckpoint(eager=False)

    # the modes differ only in the start vector, the teleport term and the
    # share of the dangling mass; uniform and warm start keep `base` for both
    teleport = str(((100 - damping_pct) * base) // 100)
    dangling = f"(dm div {n_nodes})"
    r0 = F.lit(base)
    if seeds is not None:
        ndeg = ndeg.join(
            seeds.select("node").distinct().withColumn("is_seed", F.lit(1)),
            "node",
            "left",
        ).select(
            "node", "out_deg", F.coalesce("is_seed", F.lit(0)).cast("int").alias("is_seed")
        ).localCheckpoint(eager=False)
        n_seeds = ndeg.filter(F.col("is_seed") == 1).count()
        if n_seeds == 0:
            raise ValueError("pagerank: no seed node is present in the graph")
        seed_base = SCALE // n_seeds
        teleport = (
            f"(CASE WHEN is_seed = 1 THEN {((100 - damping_pct) * seed_base) // 100} ELSE 0 END)"
        )
        dangling = f"(CASE WHEN is_seed = 1 THEN dm div {n_seeds} ELSE 0 END)"
        r0 = F.when(F.col("is_seed") == 1, F.lit(seed_base)).otherwise(F.lit(0))
    start = ndeg
    if init_ranks is not None:
        # warm start: prior rank where known, uniform base for new nodes
        start = ndeg.join(
            init_ranks.select("node", F.col("rank_s").alias("r0")), "node", "left"
        )
        r0 = F.coalesce("r0", F.lit(base))
    # `div` is Spark's exact integral division — a double `/` + cast(long)
    # can truncate one off near quotient boundaries, which would break
    # bit-equality with the integer-arithmetic oracle
    new_rank = (
        f"CAST({teleport} + (({damping_pct} * (coalesce(s, 0) + {dangling})) div 100) AS BIGINT)"
    )

    def step(state, _r):
        (ranks,) = state
        contrib = (
            e.join(ranks.filter(F.col("out_deg") > 0), e[src] == F.col("node"))
            .select(F.col(dst).alias("node"), F.expr("r div out_deg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        # dangling mass: 1-row aggregate, broadcast into every row — stays
        # in the plan, no per-iteration driver action
        dang = ranks.filter(F.col("out_deg") == 0).agg(
            F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("dm")
        )
        return (
            ndeg.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(*ndeg.columns, F.expr(new_rank).alias("r")),
        )

    ranks = start.select(*ndeg.columns, r0.cast("long").alias("r"))
    (ranks,) = fixed_rounds((ranks,), step, iters, checkpoint_every)
    return ranks.select(
        "node",
        F.col("r").alias("rank_s"),
        (F.col("r") / F.lit(float(SCALE))).alias("rank"),
    )


def undirected_edges(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Distinct undirected edge set as (a, b) with a < b, self-loops dropped."""
    e = edges.select(
        F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b")
    ).filter(F.col("a") != F.col("b"))
    return e.distinct()


def _degrees(und: DataFrame) -> DataFrame:
    """(node, deg) over the undirected a<b edge set."""
    return (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def _adjacency(und: DataFrame) -> DataFrame:
    """(node, nbr) in both directions over the undirected a<b edge set."""
    return und.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionByName(
        und.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    )


def _enumerate_triangles(und: DataFrame, deg: DataFrame) -> DataFrame:
    """(u, v1, v2) — each triangle of the undirected graph exactly once.

    Degree-ordered orientation: each undirected edge points from its
    (degree, id)-smaller endpoint to the larger one, so oriented
    out-degree is O(sqrt(|E|)) per node and the wedge self-join is
    skew-bounded even around hub entities. The enumeration is identical
    to the naive a<b<c one (each triangle has exactly one vertex from
    which both others are oriented-reachable).
    """
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    # orient low → high by (deg, id); "u" is the smaller endpoint
    oriented = (
        und.join(da, "a").join(db, "b")
        .select(
            F.when(
                (F.col("deg_a") < F.col("deg_b"))
                | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
        .localCheckpoint(eager=False)
    )
    e1 = oriented.select(F.col("u"), F.col("v").alias("v1"))
    e2 = oriented.select(F.col("u"), F.col("v").alias("v2"))
    wedges = e1.join(e2, "u").filter(F.col("v1") < F.col("v2"))
    closing = und.select(F.col("a").alias("w1"), F.col("b").alias("w2"))
    return wedges.join(
        closing,
        (
            (F.least("v1", "v2") == F.col("w1"))
            & (F.greatest("v1", "v2") == F.col("w2"))
        ),
    ).select("u", "v1", "v2")


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """1-row (n_nodes, n_edges, n_triangles) over the undirected graph
    via the degree-oriented enumeration (_enumerate_triangles)."""
    und = undirected_edges(edges, src, dst).localCheckpoint(eager=False)
    deg = _degrees(und)
    tris = _enumerate_triangles(und, deg)
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n")).select(F.col("n"))
    n_edges = und.agg(F.count(F.lit(1)).alias("n")).select(F.col("n"))
    n_tris = tris.agg(F.count(F.lit(1)).alias("n")).select(F.col("n"))
    return (
        n_nodes.select(F.col("n").alias("n_nodes"))
        .crossJoin(n_edges.select(F.col("n").alias("n_edges")))
        .crossJoin(n_tris.select(F.col("n").alias("n_triangles")))
    )


def clustering_coefficient(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """(node, deg, tri_cnt, lcc) — local clustering coefficient per node
    over the undirected graph: lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)),
    0.0 for deg < 2.

    Per-node triangle counts come from the SAME skew-bounded oriented
    enumeration as triangle_count — each (u,v1,v2) row explodes to its
    three corners, one groupBy(node) later the counts are in; no per-node
    neighborhood materialization (which would blow up on hubs). lcc is
    one double division rounded to 6 places so the DuckDB oracle (same
    integer inputs, same rounding) hash-matches.
    """
    und = undirected_edges(edges, src, dst).localCheckpoint(eager=False)
    deg = _degrees(und)
    corners = (
        _enumerate_triangles(und, deg)
        .select(F.explode(F.array("u", "v1", "v2")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("tri_cnt"))
    )
    return deg.join(corners, "node", "left").select(
        "node",
        F.col("deg").cast("long").alias("deg"),
        F.coalesce("tri_cnt", F.lit(0)).cast("long").alias("tri_cnt"),
        F.round(
            F.when(
                F.col("deg") >= 2,
                F.lit(2.0)
                * F.coalesce("tri_cnt", F.lit(0))
                / (F.col("deg") * (F.col("deg") - F.lit(1))),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("lcc"),
    )


def two_hop_reach(
    edges: DataFrame, top: int = 30, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(node, reach2) — distinct nodes reachable in ≤2 directed hops
    (self excluded), top-N by (reach desc, node asc) for a bounded result.

    Two equi-joins + one distinct; the mid-node join is where hub skew
    lives, handled by AQE skew splitting at scale (the alternative,
    pre-aggregating neighbor sets per node, explodes memory on hubs).
    """
    e = edges.select(src, dst).distinct()
    one = e.select(F.col(src).alias("node"), F.col(dst).alias("reach"))
    mid = e.select(F.col(src).alias("m"), F.col(dst).alias("reach"))
    two = one.select(F.col("node"), F.col("reach").alias("m")).join(mid, "m").select("node", "reach")
    reach = (
        one.unionByName(two)
        .filter(F.col("node") != F.col("reach"))
        .distinct()
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("reach2"))
    )
    return reach.orderBy(F.desc("reach2"), F.asc("node")).limit(top)


def coreness(
    edges: DataFrame,
    rounds: int = 8,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int | None = None,
) -> DataFrame:
    """k-core decomposition of the undirected view of the KG edge set via
    the h-index iteration (Lu et al. 2016: repeatedly replacing each
    node's value with the H-index of its neighbors' values, starting from
    degree, converges monotonically to coreness). Returns (node, core)
    after exactly `rounds` synchronous rounds — the same fixed-step,
    engine-reproducible contract as label_propagation; with enough rounds
    core == the true core number (convergence is pytest-pinned on known
    graphs).

    Deterministic by construction: the per-node H-index
    max(least(rank, c_nbr)) over neighbors sorted by c_nbr DESC is
    invariant to tie order among equal c_nbr, so the result is
    bit-identical under any partitioning.

    Scale shape: one lazy plan, 2 shuffles per round (adjacency equi-join
    on nbr, then the per-node window+agg) — the PageRank/LPA skeleton, so
    AQE skew-split covers hub entities; values are small ints bounded by
    degree and non-increasing. Deep `rounds` → pass `checkpoint_every`
    (same bounded-lineage materialize as pagerank; the H-index is
    partitioning-invariant so the result is bit-identical)."""
    und = undirected_edges(edges, src, dst)
    adj = _adjacency(und)
    w = Window.partitionBy("node").orderBy(F.desc("c_nbr"))

    def step(state, _r):
        (c,) = state
        nb = adj.join(
            c.select(F.col("node").alias("nbr"), F.col("core").alias("c_nbr")), "nbr"
        ).select("node", "c_nbr")
        return (
            nb.withColumn("rn", F.row_number().over(w))
            .groupBy("node")
            .agg(F.max(F.least(F.col("rn"), F.col("c_nbr"))).alias("core")),
        )

    c = _degrees(und).withColumnRenamed("deg", "core")
    (c,) = fixed_rounds((c,), step, rounds, checkpoint_every)
    return c


def label_propagation(
    edges: DataFrame,
    steps: int = 3,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int | None = None,
) -> DataFrame:
    """Synchronous label propagation for community detection over the
    undirected view of the KG edge set — the same fixed-step contract as
    Spark GraphX's LabelPropagation.run(graph, maxSteps), made
    DETERMINISTIC: each step every node adopts the most frequent label
    among its neighbors, ties broken by the SMALLEST label (GraphX leaves
    ties to hash order, which would be un-oracle-able).

    Returns (node, label) after exactly `steps` synchronous rounds
    (init: own id). Deterministic by construction — integer counts, total
    tie order — so the result is bit-identical under any partitioning.

    Scale shape: one lazy plan, 2 shuffles per step (adjacency ⨝ labels
    on nbr, then groupBy node) — the same iterative equi-join skeleton as
    PageRank, so AQE skew-split covers hub entities; label payloads are
    node ids, never grow. Deep `steps` → pass `checkpoint_every` (same
    bounded-lineage materialize as pagerank; counts + total tie order
    are partitioning-invariant so the result is bit-identical)."""
    adj = _adjacency(undirected_edges(edges, src, dst))
    w = Window.partitionBy("node").orderBy(F.desc("n"), F.asc("label"))

    def step(state, _r):
        (labels,) = state
        cnt = (
            adj.join(labels.withColumnRenamed("node", "nbr"), "nbr")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        return (
            cnt.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("node", "label"),
        )

    labels = graph_nodes(edges, src, dst).withColumn("label", F.col("node"))
    (labels,) = fixed_rounds((labels,), step, steps, checkpoint_every)
    return labels


def link_prediction(
    edges: DataFrame,
    top: int = 20,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Common-neighbor link prediction over the undirected KG view: for
    every NON-edge pair (a, b) sharing at least one neighbor, the number
    of common neighbors `cn` and the neighbor-set Jaccard
    cn / (deg_a + deg_b - cn). Returns the `top` candidates ordered by
    (cn DESC, a, b) — an all-integer total order, so the cut is
    deterministic and float ties can never flip the result set; the
    Jaccard rides along ROUNDed to 6 dp as the reported score. This is
    the KG-completion primitive ("entities that should probably be
    linked"): reference theta emits the triples, the analyst asks what
    is missing.

    Scale shape: pure relational — wedge enumeration is the adjacency
    self-join on the shared neighbor w with a < b (each unordered pair
    counted once per common neighbor), then one groupBy(a, b) and an
    anti-join against the existing edge set. The wedge join is the same
    hub-skew surface as triangle counting; unlike triangles the CN
    definition NEEDS both wedge arms at full degree, so hubs cost
    O(deg^2) by definition — AQE skew-split shares the hot w keys, and
    a production run over a 10^9-edge KG would cap or sample w's
    adjacency above a degree ceiling (a recall/cost knob deliberately
    not defaulted here: at test scale the exact semantics stay
    oracle-checkable). Final top-k is a TakeOrderedAndProject (per-
    partition heads, no global sort shuffle).
    """
    und = undirected_edges(edges, src, dst)
    nbr = _adjacency(und)
    deg = nbr.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    n1 = nbr.select(F.col("node").alias("a"), F.col("nbr").alias("w"))
    n2 = nbr.select(F.col("node").alias("b"), F.col("nbr").alias("w"))
    cn = (
        n1.join(n2, "w")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    cand = cn.join(und, ["a", "b"], "left_anti")
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    scored = (
        cand.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "cn",
            F.round(
                F.col("cn").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("cn")),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(F.desc("cn"), "a", "b").limit(top)


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int | None = DEFAULT_CUT,
) -> DataFrame:
    """Multi-source BFS over the DIRECTED edge set: (node, dist) for every
    node reachable from `seeds` (a (node) DataFrame, dist 0) within
    `rounds` hops, dist = exact shortest hop count (min over sources).
    The "neighborhood of entity X" KG query, as a fixed-round frontier
    contract — the bounded twin of GraphX's ShortestPaths.

    Determinism: distances are small integers and each round takes a MIN —
    associative/commutative, so the result is bit-identical under any
    partitioning or join order; no floats anywhere.

    Scale shape: the textbook frontier iteration — per round, ONE
    equi-join of the current frontier (nodes whose dist was first set
    last round — provably the only rows that can still improve anything)
    against edges on src, then a min-groupBy union with the settled set.
    Work per round is O(frontier-adjacent edges), not O(V); hub fan-out
    lands on the groupBy's partial (map-side) aggregation and AQE
    skew-split. Each round reads the previous round's result twice (the
    min-union and, through the frontier, the join), so like pagerank an
    uncut interval of k rounds holds 2^k plan copies: the state is cut
    every `checkpoint_every` rounds (DEFAULT_CUT unless given; None:
    never), which is bit-unobservable because the arithmetic is
    partitioning-invariant."""
    # id-type-agnostic like every other op here: node ids join on their
    # own type (the KG's ids are STRINGS — a long cast would null them
    # out and silently return an empty frontier)
    dist = seeds.select(F.col("node").alias("node")).distinct().withColumn(
        "dist", F.lit(0).cast("int")
    )
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))

    def step(state, r):
        dist, frontier = state
        reached = (
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"), F.lit(r).cast("int").alias("dist"))
            .distinct()
        )
        nxt = (
            dist.unionByName(reached)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        # next frontier = nodes settled exactly this round
        return nxt, nxt.filter(F.col("dist") == r)

    dist, _ = fixed_rounds((dist, dist), step, rounds, checkpoint_every)
    return dist


def hits(
    edges: DataFrame,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int | None = None,
) -> DataFrame:
    """Kleinberg HITS hubs/authorities over the directed KG, i64-exact →
    (node, auth_s, hub_s, auth, hub).

    The classic power iteration (auth from in-edges of old hubs, hubs
    from out-edges of NEW authorities) is run UNNORMALIZED with integer
    start h0 = 1, so every intermediate value is an exact i64 — integer
    sums are associative, making the result bit-identical under any
    partitioning/AQE re-plan, and the recurrence SQL-unrollable (the
    per-iteration L2 normalization of the textbook formulation only
    rescales; the relative scores it exists to stabilize are recovered
    by ONE final max-normalization: auth = auth_s / max(auth_s)).

    Shape: each iteration is two shuffle joins + two integer groupBy
    sums on node id — O(iters) shuffles total, one lazy plan (pass
    `checkpoint_every` to bound lineage like pagerank). Overflow is
    guarded up front from the degree profile (one scalar job): values
    grow at most like (max_in·max_out)^iters, and the guard refuses
    iteration counts that could leave i64 rather than wrapping silently.
    """
    if iters < 1:
        raise ValueError("hits: iters must be >= 1")
    e = edges.select(src, dst).distinct().localCheckpoint(eager=False)
    nodes = graph_nodes(e, src, dst).localCheckpoint(eager=False)
    deg = degree_stats(e, src, dst)
    prof = deg.agg(
        F.coalesce(F.max("in_deg"), F.lit(0)).alias("mi"),
        F.coalesce(F.max("out_deg"), F.lit(0)).alias("mo"),
    ).collect()[0]  # one bounded scalar job, like pagerank's n_nodes
    if prof.mi == 0 and prof.mo == 0:
        return nodes.select(
            "node",
            F.lit(None).cast("long").alias("auth_s"),
            F.lit(None).cast("long").alias("hub_s"),
            F.lit(None).cast("double").alias("auth"),
            F.lit(None).cast("double").alias("hub"),
        )
    bound = 1.0
    for _ in range(iters):
        bound *= float(max(prof.mi, 1)) * float(max(prof.mo, 1))
    if bound >= float(2**62):
        raise ValueError(
            f"hits: {iters} iterations may overflow i64 on this degree "
            f"profile (max_in={prof.mi}, max_out={prof.mo}); reduce iters"
        )

    def step(state, _r):
        # a round's authorities come from the previous hubs only
        _, h = state
        a = (
            e.join(h, e[src] == h["node"])
            .select(F.col(dst).alias("node"), F.col("v"))
            .groupBy("node")
            .agg(F.sum("v").cast("long").alias("v"))
        )
        h = (
            e.join(a, e[dst] == a["node"])
            .select(F.col(src).alias("node"), F.col("v"))
            .groupBy("node")
            .agg(F.sum("v").cast("long").alias("v"))
        )
        return a, h

    h = nodes.select("node", F.lit(1).cast("long").alias("v"))
    a, h = fixed_rounds((None, h), step, iters, checkpoint_every)

    out = (
        nodes.join(a.withColumnRenamed("v", "auth_s"), "node", "left")
        .join(h.withColumnRenamed("v", "hub_s"), "node", "left")
        .select(
            "node",
            F.coalesce("auth_s", F.lit(0)).cast("long").alias("auth_s"),
            F.coalesce("hub_s", F.lit(0)).cast("long").alias("hub_s"),
        )
    )
    # final normalization: max over exact integers, one division per row
    mx = out.agg(
        F.max("auth_s").alias("ma"), F.max("hub_s").alias("mh")
    )
    return out.crossJoin(F.broadcast(mx)).select(
        "node",
        "auth_s",
        "hub_s",
        F.round(
            F.when(F.col("ma") > 0, F.col("auth_s") / F.col("ma")).otherwise(0.0), 6
        ).alias("auth"),
        F.round(
            F.when(F.col("mh") > 0, F.col("hub_s") / F.col("mh")).otherwise(0.0), 6
        ).alias("hub"),
    )


# ---------------------------------------------------------- graph-ML sampling
# the package's ONE replayable-randomness kernel (sampling._draw32);
# SQL twin ('0x' || substr(md5(k || '#tag#seed'), 1, 8))::BIGINT
from theta_spark.functions.sampling import _draw32 as _gdraw  # noqa: E402


def neighbor_sample(
    edges: DataFrame,
    k: int = 3,
    seed: int = 42,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """GraphSAGE-style per-node neighbor sampling: for every node keep its
    k out-neighbors with the smallest md5 draw of the EDGE (node#nbr) —
    deterministic, replayable, and subset-stable (same seed on any
    cluster picks the same neighbors; a node's sample never depends on
    other nodes' edges). Returns (node, nbr, rk), rk 1..k.

    Plan shape: one partitioned window that Spark plans as
    WindowGroupLimit — per-partition top-k push-down, no full per-node
    sort materializes (same contract as sampling.group_sample, which the
    plan test pins). This is the minibatch fan-in sampler a distributed
    GNN trainer runs per layer; hub nodes cost k rows like everyone
    else, which is the entire point of sampled aggregation."""
    w = Window.partitionBy("node").orderBy(
        _gdraw(F.concat_ws("#", F.col("node"), F.col("nbr")), "nbr", seed),
        F.col("nbr"),
    )
    return (
        edges.select(F.col(src).alias("node"), F.col(dst).alias("nbr"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


def random_walks(
    edges: DataFrame,
    starts: DataFrame,
    steps: int = 3,
    walks_per_node: int = 2,
    seed: int = 42,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Deterministic node2vec-style walks: `walks_per_node` walks from
    each start node, each taking `steps` hops; at every hop the walk
    moves to the out-neighbor with the smallest md5 draw keyed by
    (current#candidate#walk_idx, step) — replayable randomness, so the
    walk corpus (the skip-gram input graph embeddings train on) is
    bit-identical on any cluster/rerun. A walk that reaches a node with
    no out-edges simply ends (rows up to that step are emitted).
    `starts` is distinct-ed on entry: duplicate start rows would emit
    duplicated step-0 rows while later steps collapse to one row per
    (walk_id, walk_idx) — an inconsistent corpus.

    Returns (walk_id, walk_idx, step, node) with step 0 = the start.

    Per hop: one equi-join frontier->edges (frontier is |starts| *
    walks_per_node rows — broadcast-sized against the edge table) and one
    (walk, step)-partitioned min — O(steps) shuffles total, the frontier
    never grows. Walk count, not graph size, bounds driver-visible state
    (nothing is collected)."""
    frontier = (
        starts.select(F.col("node").alias("walk_id")).distinct()
        .crossJoin(
            starts.sparkSession.range(walks_per_node).select(
                F.col("id").cast("int").alias("walk_idx")
            )
        )
        .select("walk_id", "walk_idx", F.col("walk_id").alias("node"))
    )
    out = frontier.withColumn("step", F.lit(0))
    for s in range(1, steps + 1):
        cand = frontier.join(
            edges.select(F.col(src).alias("node"), F.col(dst).alias("nbr")), on="node"
        )
        d = _gdraw(
            F.concat_ws("#", F.col("node"), F.col("nbr"), F.col("walk_idx")),
            f"walk{s}",
            seed,
        )
        w = Window.partitionBy("walk_id", "walk_idx").orderBy(d, F.col("nbr"))
        frontier = (
            cand.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select("walk_id", "walk_idx", F.col("nbr").alias("node"))
        )
        out = out.unionByName(frontier.withColumn("step", F.lit(s)))
    return out
