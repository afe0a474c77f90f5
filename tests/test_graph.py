"""Graph analytics (functions/graph.py): fixed-point PageRank vs a pure-
python replica, degree-oriented triangle count vs brute force, degree/
2-hop vs hand computation — plus the operators run over the REAL KG
pipeline edge table (not just the driver's lineitem-derived graph)."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from theta_spark.functions.graph import (
    SCALE,
    degree_stats,
    pagerank,
    triangle_count,
    two_hop_reach,
    undirected_edges,
)

# deterministic pseudo-random digraph: 40 nodes, edge (i,j) iff
# md5-ish arithmetic hash below threshold — no RNG, stable everywhere
NODES = list(range(40))
EDGES = [
    (i, j)
    for i, j in itertools.product(NODES, NODES)
    if i != j and ((i * 7919 + j * 104729) % 997) < 80
]


@pytest.fixture(scope="module")
def edges_df(spark):
    return spark.createDataFrame(EDGES, "src: long, dst: long")


def _py_pagerank(edges, iters=4, damping=85):
    nodes = sorted({u for e in edges for u in e})
    n = len(nodes)
    base = SCALE // n
    outd = {}
    for s, _ in set(edges):
        outd[s] = outd.get(s, 0) + 1
    r = {v: base for v in nodes}
    for _ in range(iters):
        s = {v: 0 for v in nodes}
        for u, v in set(edges):
            s[v] += r[u] // outd[u]
        dm = sum(r[v] for v in nodes if v not in outd)
        r = {
            v: ((100 - damping) * base) // 100 + (damping * (s[v] + dm // n)) // 100
            for v in nodes
        }
    return r


def test_pagerank_matches_python_replica(spark, edges_df):
    got = {r["node"]: r["rank_s"] for r in pagerank(edges_df, iters=4).collect()}
    want = _py_pagerank(EDGES, iters=4)
    assert got == want


def test_pagerank_dangling_and_mass(spark):
    # star into a sink: 1..4 -> 0, node 0 dangling
    e = spark.createDataFrame([(i, 0) for i in range(1, 5)], "src: long, dst: long")
    rows = {r["node"]: r["rank_s"] for r in pagerank(e, iters=3).collect()}
    want = _py_pagerank([(i, 0) for i in range(1, 5)], iters=3)
    assert rows == want
    # mass conserved up to floor leaks, sink holds the most rank
    assert sum(rows.values()) <= SCALE
    assert sum(rows.values()) > SCALE - 1000
    assert rows[0] == max(rows.values())


def test_pagerank_partitioning_invariance(spark, edges_df):
    a = pagerank(edges_df.repartition(1), iters=3).collect()
    b = pagerank(edges_df.repartition(7, "dst"), iters=3).collect()
    assert {(r["node"], r["rank_s"]) for r in a} == {(r["node"], r["rank_s"]) for r in b}


def test_triangle_count_vs_bruteforce(spark, edges_df):
    row = triangle_count(edges_df).collect()[0]
    und = {(min(a, b), max(a, b)) for a, b in EDGES}
    nodes = sorted({u for e in und for u in e})
    brute = sum(
        1
        for a, b, c in itertools.combinations(nodes, 3)
        if (a, b) in und and (b, c) in und and (a, c) in und
    )
    assert row["n_triangles"] == brute
    assert row["n_edges"] == len(und)
    assert row["n_nodes"] == len(nodes)


def test_degree_stats_and_two_hop(spark, edges_df):
    degs = {r["node"]: (r["out_deg"], r["in_deg"]) for r in degree_stats(edges_df).collect()}
    out_w, in_w = {}, {}
    for u, v in set(EDGES):
        out_w[u] = out_w.get(u, 0) + 1
        in_w[v] = in_w.get(v, 0) + 1
    for v in degs:
        assert degs[v] == (out_w.get(v, 0), in_w.get(v, 0))

    top = two_hop_reach(edges_df, top=10).collect()
    adj = {}
    for u, v in set(EDGES):
        adj.setdefault(u, set()).add(v)
    want = {}
    for u in adj:
        reach = set(adj[u])
        for m in adj[u]:
            reach |= adj.get(m, set())
        reach.discard(u)
        want[u] = len(reach)
    expect = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [(r["node"], r["reach2"]) for r in top] == expect


def test_graph_ops_over_pipeline_edges(spark, corpus50):
    """The target consumer: PageRank + triangles over the edges the KG
    pipeline actually materializes (subj/obj string endpoints)."""
    from theta_spark.config import PipelineConfig
    from theta_spark.pipeline import build_nodes_edges, extract_mentions_df, extract_triples

    cfg = PipelineConfig()
    mentions = extract_mentions_df(corpus50, cfg)
    triples = extract_triples(corpus50, cfg)
    _nodes, edges, _prov = build_nodes_edges(triples, mentions, cfg)
    g = edges.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    pr = pagerank(g, iters=2).collect()
    assert len(pr) > 0
    assert sum(r["rank_s"] for r in pr) <= SCALE
    tri = triangle_count(g).collect()[0]
    assert tri["n_edges"] == undirected_edges(g).count()
    assert tri["n_triangles"] >= 0


def test_pagerank_empty_graph(spark):
    """ADVICE r3: an empty edge table returns an empty (node, rank_s, rank)
    frame instead of raising ZeroDivisionError."""
    e = spark.createDataFrame([], "src string, dst string")
    out = pagerank(e, iters=2)
    assert out.columns == ["node", "rank_s", "rank"]
    assert out.count() == 0


def _py_pagerank_from(edges, init, iters, damping=85):
    """Replica of the warm-started recurrence: init maps node -> rank_s
    for known nodes; new nodes start at SCALE // n."""
    nodes = sorted({u for e in edges for u in e})
    n = len(nodes)
    base = SCALE // n
    outd = {}
    for s, _ in set(edges):
        outd[s] = outd.get(s, 0) + 1
    r = {v: init.get(v, base) for v in nodes}
    for _ in range(iters):
        s = {v: 0 for v in nodes}
        for u, v in set(edges):
            s[v] += r[u] // outd[u]
        dm = sum(r[v] for v in nodes if v not in outd)
        r = {
            v: ((100 - damping) * base) // 100 + (damping * (s[v] + dm // n)) // 100
            for v in nodes
        }
    return r


def test_pagerank_warm_start_matches_replica(spark, edges_df):
    """Incremental path: prior ranks on a subgraph seed refinement
    iterations over the full graph; new nodes enter at uniform base."""
    old_edges = [(u, v) for u, v in EDGES if (u + v) % 5 != 0]
    old_df = spark.createDataFrame(old_edges, "src: long, dst: long")
    prior = pagerank(old_df, iters=3)
    got = {
        r["node"]: r["rank_s"]
        for r in pagerank(edges_df, iters=2, init_ranks=prior).collect()
    }
    want = _py_pagerank_from(EDGES, _py_pagerank(old_edges, iters=3), iters=2)
    assert got == want


def test_clustering_coefficient_vs_bruteforce(spark, edges_df):
    from theta_spark.functions.graph import clustering_coefficient

    got = {
        r["node"]: (r["deg"], r["tri_cnt"], r["lcc"])
        for r in clustering_coefficient(edges_df).collect()
    }
    und = {(min(a, b), max(a, b)) for a, b in EDGES}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    for v, nbrs in adj.items():
        tri = sum(
            1 for a, b in itertools.combinations(sorted(nbrs), 2)
            if (min(a, b), max(a, b)) in und
        )
        deg = len(nbrs)
        lcc = round(2.0 * tri / (deg * (deg - 1)), 6) if deg >= 2 else 0.0
        assert got[v] == (deg, tri, lcc), v
    assert set(got) == set(adj)


def test_clustering_coefficient_known_shapes(spark):
    """Hand-checkable: a 4-clique (lcc 1.0 everywhere) plus a path
    pendant (lcc 0.0, deg<2 guard)."""
    from theta_spark.functions.graph import clustering_coefficient

    clique = [(a, b) for a, b in itertools.combinations(range(4), 2)]
    e = spark.createDataFrame(clique + [(3, 4)], "src: long, dst: long")
    got = {r["node"]: (r["deg"], r["tri_cnt"], r["lcc"])
           for r in clustering_coefficient(e).collect()}
    assert got[0] == (3, 3, 1.0) and got[1] == (3, 3, 1.0) and got[2] == (3, 3, 1.0)
    assert got[3] == (4, 3, 0.5)   # 3 of the C(4,2)=6 neighbor pairs close
    assert got[4] == (1, 0, 0.0)   # pendant: deg < 2 guard


def test_label_propagation_two_communities(spark):
    """Two disjoint triangles: after 3 synchronous min-tie steps every
    member carries its community's minimum id; deterministic across runs."""
    from theta_spark.functions.graph import label_propagation

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10)], "src int, dst int"
    )
    got = {(r.node, r.label) for r in label_propagation(e, steps=3).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10)}
    again = {(r.node, r.label) for r in label_propagation(e, steps=3).collect()}
    assert got == again


def test_label_propagation_tie_breaks_lowest(spark):
    """A path 1-2-3: node 2 sees labels {1, 3} once each — the tie must go
    to the smallest label on every engine."""
    from theta_spark.functions.graph import label_propagation

    e = spark.createDataFrame([(1, 2), (2, 3)], "src int, dst int")
    step1 = {(r.node, r.label) for r in label_propagation(e, steps=1).collect()}
    assert step1 == {(1, 2), (2, 1), (3, 2)}


def test_coreness_converges_to_known_core_numbers(spark):
    """Clique K4 with a pendant tail: clique nodes have core 3, the tail
    core 1 — the classic peeling answer, reached by the h-index iteration
    (convergence here well within 8 rounds)."""
    from theta_spark.functions.graph import coreness

    clique = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    e = spark.createDataFrame(clique + [(4, 5), (5, 6)], "src int, dst int")
    got = {(r.node, r.core) for r in coreness(e, rounds=8).collect()}
    assert got == {(1, 3), (2, 3), (3, 3), (4, 3), (5, 1), (6, 1)}


def test_coreness_monotone_and_fixed_round_deterministic(spark):
    """Round-r values never increase with r (h-index monotonicity), the
    fixed-round contract is bit-stable across repartitioning, and a pure
    path graph collapses to core 1 everywhere."""
    from theta_spark.functions.graph import coreness

    path = spark.createDataFrame([(i, i + 1) for i in range(1, 8)], "src int, dst int")
    prev = None
    for r in (1, 2, 4):
        cur = {row.node: row.core for row in coreness(path, rounds=r).collect()}
        if prev is not None:
            assert all(cur[n] <= prev[n] for n in cur)
        prev = cur
    assert set(prev.values()) == {1}
    again = {
        (r.node, r.core)
        for r in coreness(path.repartition(7), rounds=4).collect()
    }
    assert again == set(prev.items())


def test_checkpoint_every_is_bit_identical_and_truncates_plan(spark, edges_df):
    """checkpoint_every bounds lineage (plan becomes a scan of cached
    partitions past each interval) without changing a single bit — the
    i64 / integer-count arithmetic is partitioning-invariant, so the
    materialize points are unobservable in the result. Uniform,
    personalized and warm-started PageRank share one loop; each is pinned."""
    from theta_spark.functions.graph import coreness, label_propagation

    seeds = spark.createDataFrame([(0,), (7,), (23,)], "node: long")
    old_edges = [(u, v) for u, v in EDGES if (u + v) % 5 != 0]
    init = spark.createDataFrame(
        sorted(_py_pagerank(old_edges, iters=3).items()), "node: long, rank_s: long"
    )
    # an uncut round doubles the plan, so the added modes stop at 6 rounds
    for iters, mode in ((9, {}), (6, {"seeds": seeds}), (6, {"init_ranks": init})):
        plain = pagerank(edges_df, iters=iters, checkpoint_every=None, **mode)
        ckpt = pagerank(edges_df, iters=iters, checkpoint_every=3, **mode)
        assert sorted(map(tuple, ckpt.select("node", "rank_s").collect())) == sorted(
            map(tuple, plain.select("node", "rank_s").collect())
        ), mode
        # the checkpointed variant's plan is rooted in the cached RDD (the
        # last interval's materialize), not the full join chain
        ckpt_plan = ckpt._jdf.queryExecution().optimizedPlan().toString()
        plain_plan = plain._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" in ckpt_plan, mode
        assert len(ckpt_plan) < len(plain_plan), mode

    assert sorted(map(tuple, coreness(edges_df, rounds=8, checkpoint_every=2).collect())) == sorted(
        map(tuple, coreness(edges_df, rounds=8).collect())
    )
    assert sorted(
        map(tuple, label_propagation(edges_df, steps=6, checkpoint_every=2).collect())
    ) == sorted(map(tuple, label_propagation(edges_df, steps=6).collect()))


# 12 rounds cut every 4 measured 23.1k (PageRank) and 13.4k (BFS) plan
# chars; 5 uncut rounds already hold 53.1k
PLAN_CHARS_BOUND = 30_000


def test_pagerank_and_bfs_cut_by_default(spark, edges_df):
    """Deep calls with default arguments stay exact and keep a bounded
    plan: pagerank and bfs_distances cut every DEFAULT_CUT rounds, so 12
    rounds hold at most 2^4 plan copies instead of 2^12."""
    from theta_spark.functions.graph import bfs_distances

    pr = pagerank(edges_df, iters=12)
    assert {r["node"]: r["rank_s"] for r in pr.collect()} == _py_pagerank(EDGES, iters=12)
    seeds = spark.createDataFrame([(0,)], "node: long")
    bfs = bfs_distances(edges_df, seeds, rounds=12)
    want = bfs_distances(edges_df, seeds, rounds=12, checkpoint_every=1)
    assert sorted(map(tuple, bfs.collect())) == sorted(map(tuple, want.collect()))
    for df in (pr, bfs):
        assert len(df._jdf.queryExecution().optimizedPlan().toString()) < PLAN_CHARS_BOUND


class _CountingFrame:
    """Stands in for a DataFrame in `fixed_rounds`: records the round at
    which each localCheckpoint happens."""

    def __init__(self, rounds_seen, cuts):
        self.rounds_seen, self.cuts = rounds_seen, cuts

    def localCheckpoint(self, eager):
        assert eager
        self.cuts.append(self.rounds_seen[-1])
        return self


@pytest.mark.parametrize(
    "rounds, k, cut_at",
    [(9, 3, [3, 6]), (10, 3, [3, 6, 9]), (9, None, []), (9, 0, []), (1, 1, []), (0, 2, [])],
)
def test_fixed_rounds_cut_schedule(rounds, k, cut_at):
    """Round numbers run 1..rounds; every state element is cut after each
    round divisible by k except the last; None and 0 never cut."""
    from theta_spark.functions.graph import fixed_rounds

    seen, cuts_a, cuts_b = [], [], []
    state = (_CountingFrame(seen, cuts_a), _CountingFrame(seen, cuts_b))

    def step(st, r):
        seen.append(r)
        return st

    assert fixed_rounds(state, step, rounds, k) == state
    assert seen == list(range(1, rounds + 1))
    assert cuts_a == cut_at and cuts_b == cut_at


def test_checkpoint_tails_at_40_rounds_match_replicas(spark, edges_df):
    """40 rounds: k=3 ends on an uncut 1-round tail, k=4 on a 4-round one
    (the last round is never cut); both reproduce the Python replicas.
    k stays small because an uncut interval of k rounds holds 2^k copies
    of the PageRank plan."""
    from theta_spark.functions.graph import label_propagation

    seeds = spark.createDataFrame([(0,), (7,), (23,)], "node: long")
    want_pr = _py_pagerank(EDGES, iters=40)
    want_ppr = _py_ppr(EDGES, [0, 7, 23], iters=40)
    lpa = []
    for k in (3, 4):
        pr = pagerank(edges_df, iters=40, checkpoint_every=k)
        assert {r["node"]: r["rank_s"] for r in pr.collect()} == want_pr, k
        ppr = pagerank(edges_df, iters=40, seeds=seeds, checkpoint_every=k)
        assert {r["node"]: r["rank_s"] for r in ppr.collect()} == want_ppr, k
        lpa.append(
            sorted(map(tuple, label_propagation(edges_df, steps=40, checkpoint_every=k).collect()))
        )
    assert lpa[0] == lpa[1]


def test_uniform_pagerank_is_ppr_seeded_with_every_node(spark):
    """Uniform PageRank is the seeded recurrence with every node a seed,
    dangling share included: sinks 40 and 41 have no out-edges."""
    from theta_spark.functions.graph import graph_nodes

    e = spark.createDataFrame(EDGES + [(0, 40), (5, 41)], "src: long, dst: long")
    uniform = pagerank(e, iters=4)
    seeded = pagerank(e, iters=4, seeds=graph_nodes(e))
    assert sorted(map(tuple, uniform.collect())) == sorted(map(tuple, seeded.collect()))


def _py_ppr(edges, seed_nodes, iters=4, damping=85):
    nodes = sorted({u for e in edges for u in e})
    seeds = sorted(set(seed_nodes) & set(nodes))
    ns = len(seeds)
    sbase = SCALE // ns
    outd = {}
    for s, _ in set(edges):
        outd[s] = outd.get(s, 0) + 1
    r = {v: (sbase if v in seeds else 0) for v in nodes}
    tele = ((100 - damping) * sbase) // 100
    for _ in range(iters):
        s = {v: 0 for v in nodes}
        for u, v in set(edges):
            s[v] += r[u] // outd[u]
        dm = sum(r[v] for v in nodes if v not in outd)
        r = {
            v: (tele if v in seeds else 0)
            + (damping * (s[v] + (dm // ns if v in seeds else 0))) // 100
            for v in nodes
        }
    return r


def test_personalized_pagerank_matches_python_replica(spark, edges_df):
    seeds = spark.createDataFrame([(0,), (7,), (23,)], "node: long")
    got = {
        r["node"]: r["rank_s"]
        for r in pagerank(edges_df, iters=4, seeds=seeds).collect()
    }
    want = _py_ppr(EDGES, [0, 7, 23], iters=4)
    assert got == want
    # mass stays localized around the seed set: seeds outrank the median
    ranked = sorted(got.values())
    assert all(got[s] > ranked[len(ranked) // 2] for s in (0, 7, 23))


def test_personalized_pagerank_guards(spark, edges_df):
    import pytest as _pytest

    absent = spark.createDataFrame([(999,)], "node: long")
    with _pytest.raises(ValueError, match="seed"):
        pagerank(edges_df, iters=2, seeds=absent)
    seeds = spark.createDataFrame([(0,)], "node: long")
    init = spark.createDataFrame([(0, SCALE)], "node: long, rank_s: long")
    with _pytest.raises(ValueError, match="mutually exclusive"):
        pagerank(edges_df, iters=2, seeds=seeds, init_ranks=init)


def test_link_prediction_known_square(spark):
    """4-cycle a-b-c-d: the two diagonals (a,c) and (b,d) are the only
    non-edge pairs, each with 2 common neighbors and Jaccard 2/(2+2-2)=1.0."""
    from theta_spark.functions.graph import link_prediction

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "src: long, dst: long"
    )
    rows = {
        (r["a"], r["b"]): (r["cn"], r["jaccard"])
        for r in link_prediction(e, top=10).collect()
    }
    assert rows == {(1, 3): (2, 1.0), (2, 4): (2, 1.0)}


def test_link_prediction_excludes_existing_edges_and_python_replica(spark, edges_df):
    """Candidates never include an existing undirected edge; cn/jaccard
    match a brute-force python replica on the 40-node pseudo-random graph."""
    from theta_spark.functions.graph import link_prediction

    und = {tuple(sorted(e)) for e in EDGES}
    nbrs: dict[int, set[int]] = {}
    for u, v in und:
        nbrs.setdefault(u, set()).add(v)
        nbrs.setdefault(v, set()).add(u)
    cands = []
    for a, b in itertools.combinations(sorted(nbrs), 2):
        if (a, b) in und:
            continue
        cn = len(nbrs[a] & nbrs[b])
        if cn:
            cands.append((cn, a, b, round(cn / (len(nbrs[a]) + len(nbrs[b]) - cn), 6)))
    cands.sort(key=lambda t: (-t[0], t[1], t[2]))
    want = [(a, b, cn, j) for cn, a, b, j in cands[:20]]
    got = [
        (r["a"], r["b"], r["cn"], r["jaccard"])
        for r in link_prediction(edges_df, top=20).collect()
    ]
    assert got == want
    assert all((a, b) not in und for a, b, _, _ in got)


def test_bfs_distances_known_path_directed(spark):
    """Directed path 1->2->3->4 plus a back-edge 4->1: from seed {1},
    3 rounds reach 2,3,4 at dists 1,2,3; direction is respected (no
    dist via reverse edges)."""
    from theta_spark.functions.graph import bfs_distances

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "src: long, dst: long"
    )
    seeds = spark.createDataFrame([(1,)], "node: long")
    got = {r["node"]: r["dist"] for r in bfs_distances(e, seeds, rounds=3).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}
    # fewer rounds -> bounded frontier: dist>rounds nodes absent
    got2 = {r["node"]: r["dist"] for r in bfs_distances(e, seeds, rounds=2).collect()}
    assert got2 == {1: 0, 2: 1, 3: 2}


def test_bfs_distances_python_replica_multisource(spark, edges_df):
    """Multi-source BFS on the 40-node graph == python BFS min-dist;
    checkpoint_every is bit-unobservable."""
    from theta_spark.functions.graph import bfs_distances

    seeds = [v for v in NODES if v % 10 == 0]
    adj: dict[int, list[int]] = {}
    for u, v in EDGES:
        adj.setdefault(u, []).append(v)
    dist = {s: 0 for s in seeds}
    frontier = list(seeds)
    for r in range(1, 4):
        nxt = []
        for u in frontier:
            for v in adj.get(u, []):
                if v not in dist:
                    dist[v] = r
                    nxt.append(v)
        frontier = nxt
    sdf = spark.createDataFrame([(s,) for s in seeds], "node: long")
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(edges_df, sdf, rounds=3, checkpoint_every=None).collect()
    }
    assert got == dist
    got_ck = {
        r["node"]: r["dist"]
        for r in bfs_distances(edges_df, sdf, rounds=3, checkpoint_every=1).collect()
    }
    assert got_ck == got


def _py_hits(edges, iters):
    """Integer replica of the unnormalized HITS recurrence."""
    nodes = sorted({u for e in edges for u in e})
    h = {v: 1 for v in nodes}
    a = {}
    for _ in range(iters):
        a = {v: 0 for v in nodes}
        for s, d in edges:
            a[d] += h[s]
        h = {v: 0 for v in nodes}
        for s, d in edges:
            h[s] += a[d]
    return a, h


def test_hits_matches_python_replica(spark, edges_df):
    from theta_spark.functions.graph import hits

    exp_a, exp_h = _py_hits(EDGES, iters=3)
    ma, mh = max(exp_a.values()), max(exp_h.values())
    got = {r.node: r for r in hits(edges_df, iters=3).collect()}
    assert set(got) == set(exp_a)
    for v in exp_a:
        assert got[v].auth_s == exp_a[v]
        assert got[v].hub_s == exp_h[v]
        assert got[v].auth == round(exp_a[v] / ma, 6)
        assert got[v].hub == round(exp_h[v] / mh, 6)


def test_hits_checkpoint_bit_identical(spark, edges_df):
    from theta_spark.functions.graph import hits

    plain = {(r.node, r.auth_s, r.hub_s) for r in hits(edges_df, iters=4).collect()}
    ckpt = {
        (r.node, r.auth_s, r.hub_s)
        for r in hits(edges_df, iters=4, checkpoint_every=2).collect()
    }
    assert plain == ckpt


def test_hits_known_star(spark):
    """Star graph a->c, b->c: c is the only authority, a/b the hubs."""
    from theta_spark.functions.graph import hits

    e = spark.createDataFrame([(1, 3), (2, 3)], "src: long, dst: long")
    got = {r.node: (r.auth_s, r.hub_s, r.auth, r.hub) for r in hits(e, iters=2).collect()}
    # iter1: a(3)=2, h(1)=h(2)=2; iter2: a(3)=4, h(1)=h(2)=4
    assert got[3] == (4, 0, 1.0, 0.0)
    assert got[1] == (0, 4, 0.0, 1.0)
    assert got[2] == (0, 4, 0.0, 1.0)


def test_hits_overflow_guard_and_empty(spark):
    from theta_spark.functions.graph import hits

    e = spark.createDataFrame([(1, 3), (2, 3), (3, 1)], "src: long, dst: long")
    with pytest.raises(ValueError, match="overflow"):
        hits(e, iters=200)
    empty = spark.createDataFrame([], "src: long, dst: long")
    assert hits(empty, iters=3).count() == 0


def test_bfs_distances_string_keyed_graph(spark):
    """The KG's node ids are strings — bfs must stay id-type-agnostic
    (review r5: a long cast nulled string keys into an empty frontier)."""
    from theta_spark.functions.graph import bfs_distances

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {r.node: r.dist for r in bfs_distances(e, seeds, rounds=2).collect()}
    assert got == {"a": 0, "b": 1, "c": 2}


def test_hits_rejects_zero_iters(spark):
    from theta_spark.functions.graph import hits

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="iters"):
        hits(e, iters=0)


# ---------------------------------------------------------- graph-ML sampling
def _draw32_py(key, tag, seed=42):
    import hashlib

    return int(hashlib.md5(f"{key}#{tag}#{seed}".encode()).hexdigest()[:8], 16)


def test_neighbor_sample_exact_k_and_replayable(spark):
    from theta_spark.functions.graph import neighbor_sample

    edges = [(0, d) for d in range(10)] + [(1, 5), (1, 6), (2, 9)]
    e = spark.createDataFrame(edges, "src long, dst long")
    out = neighbor_sample(e, k=3, seed=42).collect()
    by_node = {}
    for r in out:
        by_node.setdefault(r["node"], []).append((r["rk"], r["nbr"]))
    assert len(by_node[0]) == 3          # hub capped at k
    assert len(by_node[1]) == 2          # below k keeps all
    assert len(by_node[2]) == 1
    # replayable: ranks follow the md5 draw order, ties by nbr
    want0 = sorted(range(10), key=lambda d: (_draw32_py(f"0#{d}", "nbr"), d))[:3]
    assert [n for _, n in sorted(by_node[0])] == want0
    # partitioning cannot change the sample
    out2 = neighbor_sample(e.repartition(7), k=3, seed=42).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_random_walks_replica_and_dead_end(spark):
    from theta_spark.functions.graph import random_walks

    # 0 -> {1,2}, 1 -> {3}, 2 -> {}, 3 -> {0}: walks can dead-end at 2
    edges = [(0, 1), (0, 2), (1, 3), (3, 0)]
    e = spark.createDataFrame(edges, "src long, dst long")
    starts = spark.createDataFrame([(0,)], "node long")
    got = sorted(
        (r["walk_id"], r["walk_idx"], r["step"], r["node"])
        for r in random_walks(e, starts, steps=3, walks_per_node=2, seed=42).collect()
    )

    adj = {0: [1, 2], 1: [3], 3: [0]}
    want = []
    for wi in range(2):
        cur = 0
        want.append((0, wi, 0, 0))
        for s in range(1, 4):
            nbrs = adj.get(cur, [])
            if not nbrs:
                break
            cur = min(nbrs, key=lambda d: (_draw32_py(f"{cur}#{d}#{wi}", f"walk{s}"), d))
            want.append((0, wi, s, cur))
    assert got == sorted(want)
