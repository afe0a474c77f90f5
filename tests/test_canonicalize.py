"""Entity canonicalization: MinHash-LSH blocking + connected components
(north rule). Small-name-set semantics tests; scale behavior is bench.py's
concern. CC tests run BOTH physical paths: the single-task union-find
finisher (local_threshold high) and the alternating large-star/small-star
rounds (local_threshold=0 forces the distributed path)."""

import pytest
from pyspark.sql import functions as F

CC_PATHS = pytest.mark.parametrize("cc_kwargs", [
    {"local_threshold": 2_000_000},
    {"single_task_budget": 3, "local_threshold": 1_000_000},
    {"single_task_budget": 40, "local_threshold": 1_000_000},
    {"local_threshold": 0},
], ids=["local-uf", "two-level-fine", "two-level-coarse", "star-rounds"])

from theta_spark.canonicalize import (
    canonicalize_names,
    connected_components,
    jaccard_filter,
    lsh_candidate_pairs,
    minhash_signatures,
    shingles,
)


def _names_df(spark, names):
    return spark.createDataFrame([(n,) for n in names], "name string")


def test_shingles_basic(spark):
    out = shingles(_names_df(spark, ["abcd"]), "name", 3).collect()
    assert {r.shingle for r in out} == {"abc", "bcd"}


def test_shingles_short_name(spark):
    out = shingles(_names_df(spark, ["ab"]), "name", 3).collect()
    assert {r.shingle for r in out} == {"ab"}


def test_minhash_identical_names_identical_sigs(spark):
    sh = shingles(_names_df(spark, ["shared_util", "shared_util2"]), "name", 3)
    sigs = {r.name: r.sig for r in minhash_signatures(sh, "name", 8).collect()}
    # near-identical shingle sets -> mostly equal minhash slots
    a, b = sigs["shared_util"], sigs["shared_util2"]
    assert sum(x == y for x, y in zip(a, b)) >= 5


def test_lsh_finds_near_duplicates(spark):
    names = ["shared_util", "shared_utils", "completely_other"]
    sh = shingles(_names_df(spark, names), "name", 3)
    sig = minhash_signatures(sh, "name", 16)
    pairs = {(r.a, r.b) for r in lsh_candidate_pairs(sig, "name", 8).collect()}
    assert ("shared_util", "shared_utils") in pairs


def test_jaccard_filter_exact(spark):
    names = ["abcde", "abcdx"]
    df = _names_df(spark, names)
    sh = shingles(df, "name", 3).localCheckpoint()
    pairs = spark.createDataFrame([("abcde", "abcdx")], "a string, b string")
    out = jaccard_filter(pairs, sh, "name", threshold=0.0).collect()
    # shingles: {abc,bcd,cde} vs {abc,bcd,cdx} -> inter 2, union 4 -> 0.5
    assert len(out) == 1 and abs(out[0].jaccard - 0.5) < 1e-9


@CC_PATHS
def test_connected_components_chain_and_star(spark, cc_kwargs):
    # path a-b-c-d plus star e-{f,g}; isolated h
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("e", "f"), ("e", "g")], "a string, b string"
    )
    nodes = _names_df(spark, list("abcdefgh"))
    comp = {r.name: r.component for r in connected_components(
        edges, nodes, "name", **cc_kwargs).collect()}
    assert comp == {
        "a": "a", "b": "a", "c": "a", "d": "a",
        "e": "e", "f": "e", "g": "e", "h": "h",
    }


def test_canonicalize_end_to_end(spark):
    names = ["shared_util", "shared_utils", "helper3", "helper4", "zzz_unique"]
    out = {r.name: r.canonical for r in canonicalize_names(
        _names_df(spark, names), threshold=0.5
    ).collect()}
    assert out["shared_util"] == out["shared_utils"]
    # identity names are omitted from the mapping (callers coalesce)
    assert "zzz_unique" not in out
    # helper3/helper4 share shingles {hel,elp,lpe,per,er3/4}: jaccard 4/6 >= 0.5
    assert out["helper3"] == out["helper4"]


def _uf_components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # path-compress fully, then map each node to its component MIN member
    roots = {n: find(n) for n in nodes}
    comp_min = {}
    for n, r in roots.items():
        comp_min[r] = min(comp_min.get(r, n), n)
    return {n: comp_min[r] for n, r in roots.items()}


@CC_PATHS
def test_connected_components_random_graphs_match_union_find(spark, cc_kwargs):
    """Alternating large-star/small-star vs a plain union-find oracle on
    random graphs — including long chains (worst case for label
    propagation, O(log n) rounds here) and a hot star node."""
    import random

    for seed, n_nodes, n_edges in [(1, 30, 25), (2, 60, 40), (3, 40, 80)]:
        rng = random.Random(seed)
        nodes = [f"n{seed}_{i:03d}" for i in range(n_nodes)]
        edges = [tuple(rng.sample(nodes, 2)) for _ in range(n_edges)]
        # long chain + hot star stress
        chain = [f"c{seed}_{i:03d}" for i in range(20)]
        edges += list(zip(chain, chain[1:]))
        edges += [(nodes[0], c) for c in chain[:3]]
        all_nodes = nodes + chain
        expected = _uf_components(edges, all_nodes)

        edf = spark.createDataFrame(edges, "a string, b string")
        ndf = spark.createDataFrame([(n,) for n in all_nodes], "name string")
        got = {
            r.name: r.component
            for r in connected_components(edf, ndf, "name", **cc_kwargs).collect()
        }
        assert got == expected


@CC_PATHS
def test_connected_components_self_loops_and_duplicates(spark, cc_kwargs):
    edges = spark.createDataFrame(
        [("x", "x"), ("x", "y"), ("y", "x"), ("z", "z")], "a string, b string"
    )
    got = {r.name: r.component for r in connected_components(
        edges, **cc_kwargs).collect()}
    # self-loop-only endpoint z keeps identity; x/y collapse to x
    assert got == {"x": "x", "y": "x", "z": "z"}


def test_two_level_cc_large_chain_and_cliques(spark):
    """Two-level path on a graph big enough to actually split across
    tasks: a 900-node chain (adversarial for contraction — nearly every
    node straddles task boundaries, forcing the root-graph fallback
    routing) plus dense cliques (the contracting common case), checked
    against the plain union-find oracle."""
    import random

    rng = random.Random(7)
    edges = []
    chain = [f"ch{i:04d}" for i in range(900)]
    edges += list(zip(chain, chain[1:]))
    all_nodes = list(chain)
    for c in range(5):
        members = [f"kq{c}_{i:03d}" for i in range(40)]
        all_nodes += members
        edges += [(a, b) for a in members for b in members if a < b]
    rng.shuffle(edges)
    expected = _uf_components(edges, all_nodes)
    edf = spark.createDataFrame(edges, "a string, b string")
    got = {
        r.name: r.component
        for r in connected_components(
            edf, single_task_budget=100, local_threshold=1_000_000
        ).collect()
    }
    assert got == expected


def _adversarial_names():
    """~1.3k names that stress every grouping of the canonicalization
    paths: an LSH family far above max_bucket, single-edit families whose
    shingle counts straddle each threshold's short/long boundary, numeric
    suffix families, non-ASCII text, "" and 1-2-char names."""
    import random

    rng = random.Random(11)
    names = ["", "a", "b", "ab", "ba", "aa", "é", "éé", "日", "日本"]
    # one long prefix with 150 suffixes: members collide in LSH band
    # buckets far above max_bucket=64
    names += [f"shared_long_identifier_prefix_{i:03d}" for i in range(150)]
    names += [f"helper{i}" for i in range(40)] + [f"config_loader_v{i}" for i in range(30)]
    alphabet = "abcdefgh_"
    for length in range(3, 27):  # shingle counts 1..24 with k=3
        for _ in range(8):
            base = "".join(rng.choice(alphabet) for _ in range(length))
            i = rng.randrange(length)
            names += [
                base,
                base + rng.choice(alphabet),  # one shingle more
                base[:-1],  # one shingle less
                base[:i] + rng.choice(alphabet) + base[i + 1:],  # substitution
                base[:i] + base[i + 1:],  # deletion inside
            ]
    for word in ["données_utilisateur", "日本語の識別子", "🚀_launch_pad", "λόγος_ανάλυση"]:
        names += [word, word + "s", word[:-1], word.upper(), word + "_" + word]
    return names


@pytest.mark.parametrize("threshold", [0.9, 0.8, 0.7])
def test_single_task_path_matches_distributed_path(spark, threshold):
    """The one-task path emits exactly the distributed path's rows on the
    same distinct name table, including where the LSH cap bites."""
    from theta_spark.canonicalize import (
        _canonicalize_distributed,
        _canonicalize_local,
        _hashed_names,
    )

    kw = dict(k=3, num_hashes=16, bands=4, threshold=threshold, max_bucket=64)
    names = _names_df(spark, _adversarial_names()).distinct().localCheckpoint()
    hashed = _hashed_names(names, kw["k"], kw["num_hashes"], kw["bands"], threshold)
    biggest = (
        hashed.select(F.posexplode("buckets").alias("band", "bucket"))
        .groupBy("band", "bucket").count().agg(F.max("count")).first()[0]
    )
    assert biggest > kw["max_bucket"]
    local = sorted(map(tuple, _canonicalize_local(names, **kw).collect()))
    dist = sorted(map(tuple, _canonicalize_distributed(names, max_iters=20, **kw).collect()))
    assert len(local) > 100
    assert local == dist


def test_canon_map_of_small_table_runs_few_jobs(spark):
    """A small name table is canonicalized by the one-task path: at most 6
    Spark jobs (the distributed path starts 16)."""
    from theta_spark.config import PipelineConfig
    from theta_spark.pipeline import compute_canon_map

    mentions = spark.createDataFrame(
        [(n,) for n in _adversarial_names()[:400]], "norm string"
    )
    sc = spark.sparkContext
    sc.setJobGroup("canon-job-pin", "compute_canon_map")
    try:
        canon = compute_canon_map(mentions, PipelineConfig())
    finally:
        sc._jsc.clearJobGroup()
    assert canon.count() > 0
    assert len(sc.statusTracker().getJobIdsForGroup("canon-job-pin")) <= 6
