"""Entity canonicalization: MinHash-LSH blocking + connected components.

North-rule requirement (BASELINE.json): canonicalize entities via MinHash-LSH
blocking plus connected components. Not present in the reference (its dedup
is exact-key only — SURVEY.md §2.7); built Spark-first here:

1. shingle each distinct name into char-k-grams (pure column exprs); the
   distinct-name table is checkpointed ONCE (recompute amplification of
   its lineage across the candidate self-joins was the dominant cost of
   the whole graph phase before this);
2. ONE narrow projection (`_hashed_names`) computes every hash that
   candidate generation groups on, routed by shingle count:
   - short names (the bulk of an identifier vocabulary): deletion-
     neighborhood keys (`deletion_keys`) — EXACT at high thresholds, no
     probabilistic machinery;
   - long tail: MinHash signatures computed INLINE (array_min over
     xxhash64 of the shingle array) and their LSH band buckets; buckets
     are window-capped and a signature-agreement prefilter runs before
     the exact verify;
3. exact Jaccard verify over the two names' shingle sets, on the distinct
   candidate stream;
4. connected components over the (tiny) verified edge set;
5. canonical id = min name in each component; identity names omitted.

Steps 2-5 run on one of two physical paths, picked by one count of the
distinct-name table (`canonicalize_names`): up to SINGLE_TASK_BUDGET
names, ONE Arrow task groups the projection and closes components by
union-find (`_canonicalize_local`); above it, Spark operators do the
grouping (`_canonicalize_distributed`). Both return the same rows.

Note on the lazy cuts: under AQE, `localCheckpoint(eager=False)` runs the
shuffle stages of the plan below it when it is CALLED; only the final
stage is deferred to the first job that consumes the checkpoint. A cut
above a shuffle therefore saves recompute, not jobs.

At 10^12-file scale the distinct-name table is orders of magnitude smaller
than mentions; the only wide ops are names.distinct(), the bucket groupBy,
and the final small distinct — all shuffle-on-key with AQE.

The exploded-shingle variants (shingles / minhash_signatures /
jaccard_filter) are kept for LONG texts (document-level n-gram dedup in
functions.dedup), where shingle sets are large and live in a table rather
than being recomputed per candidate pair.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def shingle_array(name_col, k: int = 3):
    """Column expr: distinct char-k-gram array of a string column; short
    strings yield the whole string as a single shingle."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(name_col) - (k - 1), F.lit(1))),
            lambda i: name_col.substr(i, F.lit(k)),
        )
    )


def shingles(df: DataFrame, name_col: str = "name", k: int = 3) -> DataFrame:
    """(name) -> (name, shingle) exploded distinct char-k-grams (long-text
    variant; for short names prefer the inline shingle_array)."""
    return df.select(name_col, F.explode(shingle_array(F.col(name_col), k)).alias("shingle"))


def _mh_hash(shingle_col, seed: int):
    """Deterministic 64-bit hash per seed (JVM xxhash64 — the MinHash is
    engine-internal blocking, never compared against an oracle, so it needs
    speed, not cross-engine reproducibility)."""
    return F.xxhash64(F.lit(seed), shingle_col)


def minhash_sig(shingle_arr, num_hashes: int = 16):
    """Column expr: the MinHash signature array<long> of a shingle-array
    column, one array_min per seed (order-free, so a sorted array gives
    the same signature)."""
    def _hash_with_seed(seed):
        # NOTE: must be a one-arg lambda — a two-parameter lambda (e.g. a
        # seed smuggled via default arg) is interpreted by F.transform as
        # (element, index) and silently replaces the seed with the index
        return lambda s: _mh_hash(s, seed)

    return F.array(
        *[F.array_min(F.transform(shingle_arr, _hash_with_seed(i))) for i in range(num_hashes)]
    )


def minhash_signatures(sh: DataFrame, name_col: str = "name", num_hashes: int = 16) -> DataFrame:
    """(name, shingle) -> (name, sig array<long>)."""
    aggs = [F.min(_mh_hash(F.col("shingle"), s)).alias(f"h{s}") for s in range(num_hashes)]
    sig = sh.groupBy(name_col).agg(*aggs)
    return sig.select(name_col, F.array(*[F.col(f"h{s}") for s in range(num_hashes)]).alias("sig"))


def band_buckets(sig, bands: int):
    """Column expr: the LSH bucket of each band of a signature column,
    array<int> indexed by band id — hash(band_id, the band's slots as a
    string). Names sharing a (band_id, bucket) are candidates."""
    rows_per_band = F.floor(F.size(sig) / bands).cast("int")
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.hash(b, F.slice(sig, b * rows_per_band + 1, rows_per_band).cast("string")),
    )


def lsh_candidate_pairs(
    sig: DataFrame, name_col: str = "name", bands: int = 8, max_bucket: int = 64,
    min_agree: int | None = None,
) -> DataFrame:
    """Band the signature; names sharing any (band_id, band_hash) bucket are
    candidates. Returns DISTINCT (a, b) with a < b.

    `max_bucket` caps degenerate buckets: short identifier names share most
    of their few shingles, so without a cap one hot band bucket yields
    O(bucket^2) pairs — the classic LSH-at-scale failure. Oversized buckets
    are NOT dropped (a short-identifier family can exceed the cap in EVERY
    band, which would silently lose its true near-dup edges); instead a
    deterministic pseudo-random sample of max_bucket members (window
    row_number ordered by xxhash64(name)) still emits capped pairs, so hot
    families keep surfacing edges — recall degrades gracefully instead of
    cliffing, and the transitive closure of the surviving edges recovers
    most of the family's component.

    Physical shape (reworked after profiling 200k-name runs): window-cap
    then SELF-JOIN on (band_id, bucket). The row_number window and both
    join sides hash-partition on the same key, so the join adds no extra
    exchange; pairs stream out of the join in parallel instead of being
    built inside per-bucket collect_list arrays (the former nested
    transform/flatten was a per-bucket serial hotspot and dominated the
    graph phase). The cap bounds the join fan-out at max_bucket^2/2 per
    bucket. Candidates are distinct()-ed HERE, before the exact-Jaccard
    verify: a pair can surface in up to `bands` buckets and the verify is
    expensive interpreted array math per pair — deduping the stream first
    cuts that work by the duplication factor, while the distinct itself is
    a cheap shuffle of short string pairs.

    `min_agree` (optional): minhash-agreement prefilter — keep a pair only
    if >= min_agree of its num_hashes signature slots match. The signature
    is already in hand on both join sides, the per-pair check is one
    zip_with equality count (an order of magnitude cheaper than the exact
    shingle Jaccard), and E[agreement] = J * num_hashes, so a cutoff a
    safety margin below threshold*num_hashes drops the bulk of the
    0.5-0.7-similar candidate mass (numeric-suffix identifier families)
    while passing true >=threshold pairs with probability ~1."""
    banded = sig.select(
        F.col(name_col).alias("name"), "sig", band_buckets(F.col("sig"), bands).alias("buckets")
    )
    return _bucket_pairs(banded, max_bucket, min_agree)


def _bucket_pairs(banded: DataFrame, max_bucket: int, min_agree: int | None) -> DataFrame:
    """(name, sig, buckets) -> distinct capped LSH candidate pairs (a, b),
    a < b: the distributed grouping of lsh_candidate_pairs."""
    proj = ["name"] + (["sig"] if min_agree is not None else [])
    exploded = banded.select(*proj, F.posexplode("buckets").alias("band_id", "bucket"))
    w = Window.partitionBy("band_id", "bucket").orderBy(F.xxhash64("name"), "name")
    # checkpointed because both sides of the self-join read it. Under AQE
    # localCheckpoint(eager=False) still runs the plan's shuffle stages
    # (here the window's exchange) when it is called; only the final
    # stage is deferred to the first consuming job, which computes it once
    # for both join sides
    capped = (
        exploded.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_bucket)
        .select("band_id", "bucket", *proj)
        .localCheckpoint(eager=False)
    )
    left = capped.withColumnRenamed("name", "a").withColumnRenamed("sig", "sig_a")
    right = capped.withColumnRenamed("name", "b").withColumnRenamed("sig", "sig_b")
    joined = left.join(right, on=["band_id", "bucket"]).filter(F.col("a") < F.col("b"))
    if min_agree is not None:
        agree = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
        joined = joined.filter(agree >= min_agree)
    return joined.select("a", "b").distinct()


def deletion_keys(sh, threshold: float = 0.9):
    """Column expr: the deletion-neighborhood keys of a SORTED distinct
    shingle-set column, array<long>: position 0 hashes the full set,
    position i > 0 the set minus its i-th element.

    Size cut: a (full A, B minus one) match implies J = (m-1)/m for
    |B| = m, which reaches `threshold` only when m >= 1/(1-threshold) (10
    at 0.9), so sets of fewer shingles get ONLY their full key (1 key
    instead of n+1; they can still match as the full side of a larger
    name's deletion key, and as identical sets). This shrinks the exploded
    key table ~4x on an identifier vocabulary dominated by very short
    names. The set must be sorted and distinct: the exact verify is SET
    Jaccard, and hashing a multiset would lose pairs that differ only in a
    duplicated occurrence (set-J 1.0 but different full keys) and break
    the (m-1)/m bound."""
    min_del = math.ceil(1.0 / (1.0 - threshold)) if threshold < 1 else 10**9
    n = F.size(sh)
    return F.transform(
        F.sequence(F.lit(0), F.when(n >= min_del, n).otherwise(F.lit(0))),
        lambda i: F.xxhash64(F.concat_ws("\x01", F.filter(sh, lambda x, j: j != i - 1))),
    )


def _star_pairs(keys: DataFrame) -> DataFrame:
    """(name, keys) -> distinct (a, b), a < b: deletion-neighborhood
    blocking (SymSpell-style) for SHORT names, whose candidate pairs'
    transitive closure EXACTLY reproduces the >=threshold near-dup
    components (the only downstream consumer is connected components;
    individual non-star edges are not needed). `keys` is deletion_keys.

    Why exact: if both names have <= ~18 distinct shingles, J(A,B) >=
    0.9 forces |A Δ B| <= 1 ((n+m)(1-J)/(1+J) < 2), i.e. the two shingle
    SETS are identical, or one is the other plus exactly one element.
    Every such pair shares a key where ONE side contributes its FULL-set
    hash and the other its {full} ∪ {set minus element i} hashes — and
    ONLY those: a minus-one key matching another name's minus-one key
    with a DIFFERENT element removed means |A Δ B| = 2, which can never
    reach the threshold for short names. Restricting matches to
    full x any kills the dominant false-candidate source (numeric-suffix
    identifier families — "foo_1" vs "foo_2" share the deletion key that
    drops the suffix shingle from each side, J ~ 0.5; profiled at 200k
    names: 1.16M any x any candidates -> ~800, with the exact verify
    shrinking proportionally).

    Pair generation is a STAR per key, not a quadratic bucket join: all
    full-key members of a key have the SAME shingle set (pairwise J = 1),
    so pairing every member of the key (either kind) with the min
    full-side member preserves every component reachable through that
    key — linear output per bucket, no cap, no recall cliff on
    mega-families, and no row_number window (the former per-bucket sort
    was a profiled hotspot). Keys with no full-side member emit nothing
    (minus-one x minus-one can't reach threshold). The one-task path
    (_resolve_hashed) groups the same keys by the same rule.

    Cost: <= (n+1) keys per name (n = shingle count, <= ~19), one
    explode + one partial-agg (min) + one equi-join on key; a hot key is
    one skewed join key, which AQE splits."""
    # kind 0 = hash of the full shingle set, kind 1 = minus-one-element
    keyed = keys.select("name", F.posexplode("keys").alias("kind_pos", "key")).select(
        "name", "key", F.least(F.col("kind_pos"), F.lit(1)).alias("kind")
    )
    # checkpoint before the agg + join: both consumers scan the same table
    # (~(n_shingles+1) longs per name — small) instead of re-executing the
    # key-explode lineage. Over a checkpointed name table the plan has no
    # shuffle, so the call runs no job; the first consuming job
    # materializes it
    keyed = keyed.localCheckpoint(eager=False)
    reps = (
        keyed.filter(F.col("kind") == 0)
        .groupBy("key")
        .agg(F.min("name").alias("rep"))
    )
    return (
        keyed.join(reps, on="key")
        .filter(F.col("name") != F.col("rep"))
        .select(F.least("rep", "name").alias("a"), F.greatest("rep", "name").alias("b"))
        .distinct()
    )


def jaccard_inline(pairs: DataFrame, k: int = 3, threshold: float = 0.9) -> DataFrame:
    """Exact Jaccard verify for SHORT-string pairs, computed inline from the
    pair's own strings (array_intersect/union of shingle arrays) — a narrow
    expression over the candidate stream; no join, no shuffle. Requires
    unique pair rows downstream (callers distinct() the survivors)."""
    sa = shingle_array(F.col("a"), k)
    sb = shingle_array(F.col("b"), k)
    j = F.size(F.array_intersect(sa, sb)) / F.size(F.array_union(sa, sb))
    return (
        pairs.withColumn("jaccard", j)
        .filter(F.col("jaccard") >= threshold)
        .distinct()
    )


def jaccard_filter(pairs: DataFrame, sh: DataFrame, name_col: str = "name", threshold: float = 0.9) -> DataFrame:
    """Exact Jaccard over shingle sets for candidate pairs only (long-text
    variant joining the exploded shingle table; pairs must be distinct)."""
    sizes = sh.groupBy(name_col).agg(F.count(F.lit(1)).alias("sz"))
    sh_a = sh.select(F.col(name_col).alias("a"), "shingle")
    sh_b = sh.select(F.col(name_col).alias("b"), "shingle")
    inter = (
        pairs.join(sh_a, on="a")
        .join(sh_b, on=["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sz_a = sizes.select(F.col(name_col).alias("a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col(name_col).alias("b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sz_a, on="a")
        .join(sz_b, on="b")
        .withColumn("jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., 'Connected Components in MapReduce
    and Beyond', SOCC'14): for each node u (over the symmetrized edge set),
    connect every strictly-larger neighbor to min(N(u) ∪ {u}). Expressed as
    a window min (one shuffle, no self-join, no collect_list — safe for
    hot nodes with millions of neighbors). Output edges satisfy a > b."""
    sym = e.select("a", "b").union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    w = Window.partitionBy("a")
    return (
        sym.withColumn("mn", F.least(F.min("b").over(w), F.col("a")))
        .where(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("mn").alias("b"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: input edges satisfy a > b; for each node u connect
    all of its smaller neighbors AND u itself to the smallest neighbor.
    Window min again — no join. Output edges satisfy a > b."""
    w = Window.partitionBy("a")
    t = e.select("a", "b").withColumn("mn", F.min("b").over(w))
    pairs = t.where(F.col("b") != F.col("mn")).select(
        F.col("b").alias("a"), F.col("mn").alias("b")
    )
    self_pairs = t.select("a", F.col("mn").alias("b"))
    return pairs.union(self_pairs).distinct()


def _uf_batches(batches):
    """Union-find (union-by-min-label + path compression) over an iterator
    of batches of (a, b) edge columns (pandas frames or dicts of lists) ->
    (parent dict, find fn). Shared by the single-task finisher, the
    per-partition forest stage and the one-task canonicalization; the final
    root of every component is its min label regardless of edge order."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for pdf in batches:
        for a, b in zip(pdf["a"], pdf["b"]):
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
    return parent, find


def _local_cc(e: DataFrame) -> DataFrame:
    """Single-task union-find finisher for SMALL verified edge sets:
    (a,b) -> (name, component=min reachable name) in ONE narrow Arrow
    stage — no rounds, no shuffles, no per-round driver actions.

    Why it exists: each large-star/small-star round costs two window
    shuffles plus one convergence action, a fixed overhead that does not
    shrink with more cores; when the surviving near-dup edge set is a few
    thousand rows (the common case — LSH blocking + exact verify leave
    only true near-duplicate pairs, orders of magnitude fewer than
    names), those fixed costs dominate the whole graph phase. One task
    holding the edge endpoints in a dict is far cheaper than O(log n)
    distributed rounds — but ONLY while that one task stays small, so
    connected_components caps this path at `single_task_budget` edges and
    routes bigger sets through the two-level variant (`_two_level_cc`),
    whose per-task input is bounded by the same budget. Deterministic:
    the final root of every component is its global min name regardless
    of edge order. Label type follows the edge endpoint type (names are
    strings; doc-level dedup passes numeric ids)."""
    import pandas as pd
    from pyspark.sql import types as T

    dt = e.schema["a"].dataType
    schema = T.StructType(
        [T.StructField("name", dt), T.StructField("component", dt)]
    )

    def uf(batches):
        parent, find = _uf_batches(batches)
        yield pd.DataFrame(
            [(x, find(x)) for x in parent], columns=["name", "component"]
        )

    return e.coalesce(1).mapInPandas(uf, schema)


def _two_level_cc(e: DataFrame, tasks: int, max_iters: int = 20,
                  single_task_budget: int = 200_000) -> DataFrame:
    """Two-level union-find for MID-size edge sets (the measured 600k-doc
    superlinear phase): the raw edges are split across `tasks` parallel
    union-find tasks, each emitting its local spanning forest as
    (name, local_root) star rows; only the CONTRACTED cross-partition
    root graph is finished serially.

    Level 1 (parallel, the bulk of the work): per-partition union-find
    over ~|E|/tasks edges each — the union of per-partition spanning
    forests preserves exactly the original connectivity (a forest keeps
    its own partition's components connected; partitions connect through
    shared nodes).

    Level 2 (tiny): for every node, m = min of its local roots; each
    extra root r != m contributes a root-graph edge (r, m) — two local
    trees sharing a node thereby link their roots through that node's m.
    The root graph has one edge per DUPLICATED (node, root) row, so for
    clustered near-dup graphs it is orders of magnitude smaller than |E|
    (a k-clique spread over P tasks contributes <= P*(k-1) forest rows
    and ~P root edges vs k^2/2 raw edges). It is finished by the
    single-task union-find, or — for adversarial non-contracting shapes
    (e.g. a long path whose every node straddles two tasks) — by the
    star-rounds fallback, keyed on its measured size.

    Label correctness: the global min name y of a component is the min of
    its own local tree, hence a local root, hence present in the root
    graph (or the sole root, in which case every member's m is already
    y); min-label union at both levels therefore yields component = min
    reachable name — identical to the other two paths, under ANY edge
    partitioning."""
    import pandas as pd
    from pyspark.sql import types as T

    dt = e.schema["a"].dataType
    schema = T.StructType([T.StructField("name", dt), T.StructField("root", dt)])

    def forest(batches):
        parent, find = _uf_batches(batches)
        yield pd.DataFrame([(x, find(x)) for x in parent], columns=["name", "root"])

    # round-robin repartition: each task gets ~|E|/tasks edges; the result
    # is partitioning-invariant (min-label CC), so determinism holds
    lv1 = e.repartition(tasks).mapInPandas(forest, schema).localCheckpoint(eager=False)
    w = Window.partitionBy("name")
    lv = lv1.withColumn("m", F.min("root").over(w))
    mapping = lv.select("name", "m").distinct().localCheckpoint(eager=False)
    root_edges = (
        lv.where(F.col("root") != F.col("m"))
        .select(F.col("root").alias("a"), F.col("m").alias("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # one scalar action: routes the finisher AND materializes lv1/mapping
    n_roots = root_edges.count()
    if n_roots == 0:
        return mapping.select("name", F.col("m").alias("component"))
    if n_roots <= single_task_budget:
        root_labels = _local_cc(root_edges)
    else:
        root_labels = _star_cc(root_edges, max_iters=max_iters)
    rl = root_labels.withColumnRenamed("name", "m").withColumnRenamed("component", "c")
    return mapping.join(rl, "m", "left").select(
        "name", F.coalesce("c", "m").alias("component")
    )


def _star_cc(e: DataFrame, max_iters: int = 20) -> DataFrame:
    """Alternating large-star/small-star rounds (Kiveris et al., SOCC'14)
    -> (name, component=min reachable name) for edge members. Input edges
    must be distinct with a != b. O(log n) rounds; each round is two
    window-min shuffles; the only driver action per CHECKED round is one
    tiny fingerprint aggregate. After the first three rounds convergence
    is only checked every second round — star rounds converge
    monotonically (no period-2 cycles), so fp(k) == fp(k-2) still implies
    a fixpoint, halving the tail's fingerprint round-trips. Under AQE a
    lazy localCheckpoint is not free: the call itself runs the plan's
    shuffle map stages (the window and distinct exchanges) as jobs, and
    only the final stage is deferred to the next action."""
    def fingerprint(df: DataFrame):
        # convergence check = equality of successive edge-set
        # fingerprints. TWO independent bounded hash sums (different
        # seeds and moduli) + the count: a false fixpoint needs a
        # simultaneous collision of both sums AND the count between
        # DIFFERENT sets — ~1e-12 per round vs ~1e-6 for one sum.
        # (pmod bounds each term so the bigint sum cannot overflow
        # under ANSI mode.)
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64("a", "b"), F.lit(1_000_003))).alias("h1"),
            F.sum(F.pmod(F.xxhash64(F.lit(13), "b", "a"), F.lit(999_983))).alias("h2"),
        ).collect()[0]
        return (row["n"], row["h1"], row["h2"])

    prev = None
    for i in range(max_iters):
        # lazy checkpoint: under AQE the call runs the round's shuffle
        # stages at once; only the final stage is deferred, and the
        # fingerprint aggregate (the round's one collect) runs it
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        if i >= 3 and (i - 3) % 2 == 0:
            continue  # unchecked round: its final stage runs in the next round's jobs
        fp = fingerprint(e)
        if fp == prev:
            break
        prev = fp
    # converged: every edge points directly at its component root (a > b =
    # root); roots never appear on the left. groupBy-min (not distinct)
    # stays deterministic even if max_iters cut convergence short.
    labels = e.select(F.col("a").alias("name"), F.col("b").alias("component"))
    roots = e.select(F.col("b").alias("name")).distinct().select(
        "name", F.col("name").alias("component")
    )
    return labels.union(roots).groupBy("name").agg(F.min("component").alias("component"))


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    name_col: str = "name",
    max_iters: int = 20,
    local_threshold: int | None = None,
    single_task_budget: int = 200_000,
) -> DataFrame:
    """(a,b) undirected edges [+ optional (name) isolated nodes] ->
    (name, component) where component = min name reachable.

    Size-adaptive, three physical paths routed by ONE count of the
    checkpointed edge set:
    - n <= single_task_budget: single-task union-find (`_local_cc`) —
      the star rounds' fixed per-round costs (two window shuffles + an
      action) dominate tiny edge sets, and a <=200k-edge dict is
      sub-second Python;
    - n <= local_threshold (default: single_task_budget x cluster
      parallelism, capped at 16M — it SCALES with the cluster instead of
      being a constant): two-level union-find (`_two_level_cc`) — the raw
      edges are unioned in parallel tasks of ~budget edges each and only
      the contracted cross-partition root graph is finished serially.
      This is the fix for the measured 600k-doc superlinear phase, where
      a single-task 1M+-edge dict was minutes of one-core work at BOTH
      parallelism levels;
    - above: alternating large-star/small-star rounds (`_star_cc`,
      SURVEY.md §4.4): O(log n) rounds of two window-min shuffles each,
      convergence via a tiny fingerprint aggregate (checked every 2nd
      round after round 3). At 10^12-file scale this path carries
      arbitrarily large near-dup graphs.
    All three paths produce component = min reachable name and are
    bit-identical under any partitioning (min-label union is
    order-free); tests run each path on the same graphs.

    Only edge endpoints can ever change label, so when `nodes` is given its
    edge-free members are unioned in as identity rows without entering the
    iteration — at corpus scale the heavy paths run on the (small)
    near-duplicate subgraph, not the full entity vocabulary."""
    raw = edges.select("a", "b")
    # endpoints from the RAW input: a self-loop-only node has no real edge
    # but is still an endpoint and must keep its identity label
    endpoints = (
        raw.select(F.col("a").alias("name"))
        .union(raw.select(F.col("b").alias("name")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    par = max(1, edges.sparkSession.sparkContext.defaultParallelism)
    if local_threshold is None:
        local_threshold = min(single_task_budget * par, 16_000_000)
    e = (
        raw.where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    # one count: decides the path and runs the checkpoint's deferred final
    # stage (under AQE the lazy localCheckpoint above already ran the
    # distinct's shuffle stage when it was called)
    n_edges = e.count()
    if n_edges <= min(single_task_budget, local_threshold):
        labels = _local_cc(e)
    elif n_edges <= local_threshold:
        tasks = max(2, min(2 * par, -(-n_edges // single_task_budget)))
        labels = _two_level_cc(
            e, tasks, max_iters=max_iters, single_task_budget=single_task_budget
        )
    else:
        # collapse to a bounded partition count first: each star round's
        # window pass should be a handful of real tasks, not
        # shuffle_partitions near-empty ones (the rounds' fixed cost is
        # what bounds CC at high parallelism)
        labels = _star_cc(
            e.coalesce(max(8, min(par, -(-n_edges // single_task_budget)))),
            max_iters=max_iters,
        )
    # isolated endpoints (self-loop-only inputs) keep identity labels
    covered = labels.select("name")
    isolated_endpoints = endpoints.join(covered, on="name", how="left_anti")
    labels = labels.union(isolated_endpoints.select("name", F.col("name").alias("component")))
    if nodes is not None:
        isolated = nodes.select(F.col(name_col).alias("name")).join(
            endpoints, on="name", how="left_anti"
        )
        labels = labels.union(isolated.select("name", F.col("name").alias("component")))
    return labels


# Distinct names up to which canonicalize_names resolves the whole table in
# ONE task (`_canonicalize_local`) instead of the distributed path. The
# limit is the one task's memory: it holds the whole hashed table and its
# candidate frames in one Python worker. `_resolve_hashed` alone, run on
# the hashed projection of identifier-like name tables with ~10%
# near-duplicate variants (standalone process, 4-vCPU host): peak RSS
# 165 / 237 / 369 / 687 MB and 0.2 / 0.5 / 1.7 / 5.1 s at 20k / 50k /
# 100k / 200k names. 50k is the largest measured size whose peak stays
# well inside Spark's default 384 MiB executor memory overhead, which is
# where a cluster manager accounts a Python worker's memory. Speed does
# not set it: at local[4] the one task beat the distributed path at every
# size measured (median of 3, distinct + routing count included: 5k 1.9
# vs 5.9 s, 50k 4.3 vs 19.1 s, 200k 18.8 vs 77.2 s, identical rows), so
# no crossover is known. That the distributed path is the better choice
# above the budget is unverified: no benchmark workload has a name table
# that large (the refresh's is ~3k names).
SINGLE_TASK_BUDGET = 50_000


def _min_agree(threshold: float, num_hashes: int) -> int:
    """The minhash-agreement prefilter a 0.25-wide safety margin below the
    verify threshold: P(drop | true J >= threshold) ~ 0.3% at 16 hashes,
    while most sub-0.7 candidate mass dies before the exact verify (see
    lsh_candidate_pairs)."""
    return math.ceil(max(0.0, threshold - 0.25) * num_hashes)


def _hashed_names(
    names: DataFrame, k: int, num_hashes: int, bands: int, threshold: float
) -> DataFrame:
    """(name) -> (name, sh, keys, sig, buckets): the ONE narrow JVM
    projection of every hash that candidate generation groups on; the
    single-task and distributed paths differ only in how they group it.

    - sh: the sorted distinct shingle set (what the exact verify compares);
    - keys: deletion-neighborhood keys (deletion_keys), for names with
      <= B shingles, B = ceil((1+thr)/(1-thr)) - 1 (18 at thr=0.9); NULL
      for longer names;
    - sig, buckets: MinHash signature and its LSH band buckets, for names
      with >= B-1 shingles (the long subset starts at B-1 so that a pair
      straddling the boundary is seen by the LSH path too); NULL below."""
    max_short = max(2, math.ceil((1 + threshold) / (1 - threshold)) - 1) if threshold < 1 else 64
    sets = names.select("name", F.array_sort(shingle_array(F.col("name"), k)).alias("sh"))
    n_sh = F.size("sh")
    hashed = sets.select(
        "name",
        "sh",
        F.when(n_sh <= max_short, deletion_keys(F.col("sh"), threshold)).alias("keys"),
        F.when(n_sh >= max_short - 1, minhash_sig(F.col("sh"), num_hashes)).alias("sig"),
    )
    return hashed.select(
        "*", F.when(F.col("sig").isNotNull(), band_buckets(F.col("sig"), bands)).alias("buckets")
    )


def _canonicalize_distributed(
    names: DataFrame, k: int, num_hashes: int, bands: int, threshold: float,
    max_iters: int, max_bucket: int,
) -> DataFrame:
    """Distinct (name) table -> (name, canonical) with every step a Spark
    operator: the deletion-key star join, the capped LSH bucket self-join,
    the exact verify (jaccard_inline) and connected_components. For name
    tables above SINGLE_TASK_BUDGET."""
    hashed = _hashed_names(names, k, num_hashes, bands, threshold)
    pairs_short = _star_pairs(hashed.where(F.col("keys").isNotNull()))
    pairs_long = _bucket_pairs(
        hashed.where(F.col("buckets").isNotNull()), max_bucket, _min_agree(threshold, num_hashes)
    )
    pairs = pairs_short.union(pairs_long).distinct()
    # checkpointed before connected_components, whose own actions would
    # otherwise each re-run the candidate DAG. Under AQE the call runs that
    # DAG's shuffle stages; the final verify stage is deferred to the
    # first consuming job
    edges = jaccard_inline(pairs, k, threshold).localCheckpoint(eager=False)
    # CC over edge members only; names with no near-duplicate are identity
    # and are NOT returned — callers coalesce(canonical, name)
    comp = connected_components(edges, nodes=None, name_col="name", max_iters=max_iters)
    return comp.withColumnRenamed("component", "canonical")


def _list_rows(arr):
    """A list<T> Arrow array -> (row, pos, value) numpy arrays, one entry
    per list element: its row, its position in the row's list and its
    value (NULL lists contribute nothing)."""
    import numpy as np
    import pyarrow.compute as pc

    row = pc.list_parent_indices(arr).to_numpy(zero_copy_only=False)
    first = np.ones(len(row), dtype=bool)
    first[1:] = row[1:] != row[:-1]
    starts = np.flatnonzero(first)
    pos = np.arange(len(row)) - starts[np.cumsum(first) - 1]
    return row, pos, arr.flatten().to_numpy(zero_copy_only=False)


def _resolve_hashed(t, threshold: float, max_bucket: int, min_agree: int):
    """One task's canonicalization of a whole _hashed_names table (plus
    `ord` = xxhash64(name)) as a pyarrow Table -> RecordBatch (name,
    canonical), row-identical to _canonicalize_distributed.

    Names are sorted once (Arrow's binary string order, which is Spark's),
    so a row index is the name's rank and every min/compare over names is
    one over ints. Each grouping is vectorized with pandas/numpy:
    - deletion star: per key, the min row among full-key (position 0)
      members is the representative; every other member pairs with it;
    - LSH: per (band, bucket), members ordered by (ord, name) and capped at
      max_bucket, then a self-merge of the non-singleton buckets and the
      signature-agreement prefilter on a signature matrix;
    then the exact set-Jaccard verify over the distinct candidate pairs and
    union-find (_uf_batches: component = min member)."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc

    t = t.take(pc.sort_indices(t, [("name", "ascending")]))
    row, pos, key = _list_rows(t.column("keys").combine_chunks())
    keyed = pd.DataFrame({"key": key, "row": row})
    rep = keyed[pos == 0].groupby("key")["row"].min().rename("rep")
    keyed = keyed.join(rep, on="key", how="inner")
    keyed = keyed[keyed["row"] != keyed["rep"]]
    a = [np.minimum(keyed["row"], keyed["rep"]).to_numpy()]
    b = [np.maximum(keyed["row"], keyed["rep"]).to_numpy()]

    row, band, bucket = _list_rows(t.column("buckets").combine_chunks())
    ords = t.column("ord").to_numpy()
    banded = pd.DataFrame({"band": band, "bucket": bucket, "ord": ords[row], "row": row})
    banded = banded.sort_values(["band", "bucket", "ord", "row"])
    banded = banded[banded.groupby(["band", "bucket"]).cumcount() < max_bucket]
    banded = banded[banded.duplicated(["band", "bucket"], keep=False)]
    if len(banded):
        pairs = banded.merge(banded, on=["band", "bucket"])
        pairs = pairs[pairs["row_x"] < pairs["row_y"]]
        ra, rb = pairs["row_x"].to_numpy(), pairs["row_y"].to_numpy()
        srow, spos, sval = _list_rows(t.column("sig").combine_chunks())
        sig = np.zeros((t.num_rows, int(spos.max()) + 1), dtype=np.int64)
        sig[srow, spos] = sval
        agree = (sig[ra] == sig[rb]).sum(axis=1) >= min_agree
        a.append(ra[agree])
        b.append(rb[agree])

    cand = np.unique(np.stack([np.concatenate(a), np.concatenate(b)], axis=1), axis=0)
    ids = np.unique(cand)
    sets = dict(zip(ids.tolist(), map(frozenset, t.column("sh").take(ids).to_pylist())))
    ea, eb = [], []
    for x, y in cand.tolist():
        sx, sy = sets[x], sets[y]
        inter = len(sx & sy)
        if inter / (len(sx) + len(sy) - inter) >= threshold:
            ea.append(x)
            eb.append(y)
    parent, find = _uf_batches([{"a": ea, "b": eb}])
    members = list(parent)
    names = t.column("name").combine_chunks()
    return pa.RecordBatch.from_arrays(
        [names.take(pa.array(members, pa.int64())),
         names.take(pa.array([find(x) for x in members], pa.int64()))],
        names=["name", "canonical"],
    )


def _canonicalize_local(
    names: DataFrame, k: int, num_hashes: int, bands: int, threshold: float,
    max_bucket: int,
) -> DataFrame:
    """Distinct (name) table -> (name, canonical) in ONE Arrow task over
    the _hashed_names projection: the same hashes as the distributed path,
    grouped in the task (_resolve_hashed) instead of by shuffles, so a
    small table costs one job instead of a dozen."""
    import pyarrow as pa

    min_agree = _min_agree(threshold, num_hashes)
    hashed = _hashed_names(names, k, num_hashes, bands, threshold).select(
        "*", F.xxhash64("name").alias("ord")
    )

    def resolve(batches):
        batches = list(batches)
        if batches:
            yield _resolve_hashed(pa.Table.from_batches(batches), threshold, max_bucket, min_agree)

    return hashed.coalesce(1).mapInArrow(resolve, "name string, canonical string")


def canonicalize_names(
    names: DataFrame,
    name_col: str = "name",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.9,
    max_iters: int = 20,
    max_bucket: int = 64,
) -> DataFrame:
    """(name) -> (name, canonical). Names in the same near-duplicate
    component share the lexicographically smallest member as canonical;
    names with no near-duplicate are not returned.

    Candidate generation is routed by shingle count (profiled on 200k-name
    tables; see _star_pairs and _hashed_names): short names
    by deletion-neighborhood blocking — EXACT at the threshold, no
    minhash — and the long tail by MinHash-LSH banding with the
    signature-agreement prefilter. Candidates are verified by exact
    Jaccard and closed by connected components.

    Size-adaptive, like connected_components: one count of the distinct
    name table picks the physical path.
    - <= SINGLE_TASK_BUDGET names: one Arrow task (_canonicalize_local).
      The distributed path's cost at this size is its fixed per-job work:
      compute_canon_map over a refresh's 3,170 distinct norms measured 16
      Spark jobs and 1.8-2.2 s on it, against 5 jobs and 0.75-0.9 s for
      the one task.
    - above: the distributed path (_canonicalize_distributed), which
      spreads the table over many tasks so that no one task must hold it
      (see SINGLE_TASK_BUDGET for how the budget was set).
    Both paths group the same _hashed_names projection and return the same
    rows (tests/test_canonicalize.py pins them against each other)."""
    # ONE materialization of the distinct name table: every consumer below
    # (the routing count, the short/long filters and both sides of each
    # candidate self-join) would otherwise re-execute the full upstream
    # lineage — scan + distinct shuffle + interpreted shingle expressions —
    # per use (profiled: the recompute amplification, not the candidate
    # math, was the dominant cost of the whole graph phase). NULL names
    # never match anything, so they are dropped here. Under AQE the call
    # runs the distinct's shuffle; the routing count computes the
    # checkpointed partitions, which the chosen path reuses.
    names = (
        names.select(F.col(name_col).alias("name"))
        .where(F.col("name").isNotNull())
        .distinct()
        .localCheckpoint(eager=False)
    )
    if names.count() <= SINGLE_TASK_BUDGET:
        return _canonicalize_local(names, k, num_hashes, bands, threshold, max_bucket)
    # Explicit repartition to the cluster's parallelism: AQE coalesces the
    # distinct's output to ONE partition (the table is a few MB), which
    # would serialize every interpreted expression of the distributed path
    # — shingle arrays, deletion keys, minhash signatures — onto a single
    # core (profiled: the whole candidate phase ran 1-partition serial and
    # therefore did not speed up from local[2] to local[8]). AQE does not
    # re-coalesce a user-specified repartition.
    par = names.sparkSession.sparkContext.defaultParallelism
    names = names.repartition(par).localCheckpoint(eager=False)
    return _canonicalize_distributed(names, k, num_hashes, bands, threshold, max_iters, max_bucket)
