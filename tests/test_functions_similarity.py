"""Unit tests for similarity search (functions.similarity)."""

import math

import numpy as np

from theta_spark.functions.similarity import (
    brute_force_topk,
    cell_centroids,
    cosine_near_dup_pairs,
    ivf_topk,
    ivf_topk_multiprobe,
    with_unit_vec,
)


def _embeddings(spark):
    rng = np.random.RandomState(7)
    rows = []
    for i in range(40):
        v = rng.randn(8).astype(float)
        rows.append((i, [float(x) for x in v], i % 3))
    # plant a near-duplicate of vec 0 at id 100
    v0 = rows[0][1]
    rows.append((100, [x * 2.0 + 1e-3 for x in v0], 0))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")


def test_unit_vec_norm_one(spark):
    df = with_unit_vec(_embeddings(spark))
    for r in df.select("unit").collect():
        assert abs(sum(x * x for x in r.unit) - 1.0) < 1e-9


def test_brute_force_finds_planted_neighbor(spark):
    e = _embeddings(spark)
    q = e.filter("vec_id = 0")
    out = brute_force_topk(e, q, k=3).collect()
    assert out[0].neighbor_id == 100 and out[0].cos_sim > 0.999
    assert [r.rk for r in out] == [1, 2, 3]


def test_brute_force_matches_numpy(spark):
    e = _embeddings(spark)
    q = e.filter("vec_id = 5")
    got = [(r.neighbor_id, r.cos_sim) for r in brute_force_topk(e, q, k=5).collect()]
    rows = {r.vec_id: np.array(r.embedding) for r in e.collect()}
    qv = rows[5] / np.linalg.norm(rows[5])
    sims = sorted(
        ((round(float(np.dot(v / np.linalg.norm(v), qv)), 4), -i) for i, v in rows.items() if i != 5),
        reverse=True,
    )[:5]
    expect = [(-i, s) for s, i in sims]
    assert got == expect


def test_ivf_restricts_to_cell(spark):
    e = _embeddings(spark)
    q = e.filter("vec_id = 1")  # label 1
    out = ivf_topk(e, q, k=50).collect()
    labels = {r.vec_id: r.label for r in e.collect()}
    assert out and all(labels[r.neighbor_id] == 1 for r in out)


def test_cell_centroids_elementwise_mean(spark):
    e = _embeddings(spark)
    cents = {r.cell: list(r.cvec) for r in cell_centroids(e).collect()}
    rows = [(r.label, np.array(r.embedding)) for r in e.collect()]
    for cell in (0, 1, 2):
        units = [v / np.linalg.norm(v) for lbl, v in rows if lbl == cell]
        expect = [round(float(x), 6) for x in np.mean(units, axis=0)]
        assert cents[cell] == expect


def test_multiprobe_recall_dominates_single_probe(spark):
    """nprobe=2 candidates are a superset of the query's own-cell hits
    whenever the own cell ranks in the top 2 probes, and recall vs brute
    force never decreases going single -> multi."""
    e = _embeddings(spark)
    qs = e.filter("vec_id % 10 = 0")
    truth = {
        (r.query_id, r.neighbor_id) for r in brute_force_topk(e, qs, k=5).collect()
    }
    single = {
        (r.query_id, r.neighbor_id) for r in ivf_topk(e, qs, k=5).collect()
    }
    multi = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk_multiprobe(e, qs, k=5, nprobe=2).collect()
    }
    assert len(multi & truth) >= len(single & truth)


def test_multiprobe_all_cells_equals_brute_force(spark):
    """Probing every cell degenerates to exact search: same pairs, sims,
    and ranks as the brute-force baseline."""
    e = _embeddings(spark)
    qs = e.filter("vec_id % 10 = 0")
    bf = sorted(map(tuple, brute_force_topk(e, qs, k=5).collect()))
    mp = sorted(map(tuple, ivf_topk_multiprobe(e, qs, k=5, nprobe=3).collect()))
    assert bf == mp


def test_cosine_near_dup_pairs_planted(spark):
    out = {(r.a, r.b) for r in cosine_near_dup_pairs(_embeddings(spark), threshold=0.99).collect()}
    assert (0, 100) in out
    assert len(out) == 1


def test_kmeans_cells_lloyd_deterministic_and_clusters(spark):
    """Lloyd's trainer: deterministic across runs, every vector assigned to
    a live cell, and the learned cells separate an obviously-clustered
    input (two orthogonal bundles -> members of each bundle share a cell)."""
    import numpy as np

    from theta_spark.functions.similarity import kmeans_cells_lloyd

    rng = np.random.default_rng(3)
    rows = []
    for i in range(40):
        base = np.zeros(8)
        base[0 if i % 2 == 0 else 4] = 10.0  # two orthogonal bundles
        rows.append((i, (base + rng.normal(0, 0.1, 8)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    a1, c1 = kmeans_cells_lloyd(df, k=2, iters=2)
    a2, c2 = kmeans_cells_lloyd(df, k=2, iters=2)
    m1 = {r.vec_id: r.cell for r in a1.collect()}
    m2 = {r.vec_id: r.cell for r in a2.collect()}
    assert m1 == m2 and c1 == c2          # deterministic
    assert len(m1) == 40
    evens = {m1[i] for i in range(0, 40, 2)}
    odds = {m1[i] for i in range(1, 40, 2)}
    assert len(evens) == 1 and len(odds) == 1 and evens != odds


def test_kmeans_assign_arrow_matches_literal(spark):
    """The broadcast-codebook Arrow assignment (scale path for large k) is
    bit-identical to the literal-codegen path on the same data — same
    half-up 1e-4 rounding, same lowest-cell tie rule — and the "auto"
    dispatch picks Arrow above literal_max_k (pinned: the 64-cell driver
    query exercises mapInPandas, not a 64-wide literal plan)."""
    import numpy as np

    from theta_spark.functions.similarity import kmeans_cells_lloyd

    rng = np.random.default_rng(7)
    rows = [(i, rng.normal(0, 1, 16).tolist()) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    for k, iters in ((6, 2), (24, 1)):
        a_lit, c_lit = kmeans_cells_lloyd(df, k=k, iters=iters, assign_impl="literal")
        a_arw, c_arw = kmeans_cells_lloyd(df, k=k, iters=iters, assign_impl="arrow")
        assert c_lit == c_arw  # identical trained codebook
        m_lit = {r.vec_id: r.cell for r in a_lit.collect()}
        m_arw = {r.vec_id: r.cell for r in a_arw.collect()}
        assert m_lit == m_arw and len(m_lit) == 120

    # chunked argmax: a chunk boundary inside the codebook changes nothing
    from theta_spark.functions.similarity import _assign_cells_arrow, with_unit_vec
    from pyspark.sql import functions as F

    u = with_unit_vec(df).select(F.col("vec_id").alias("_vid"), "unit")
    _, cents = kmeans_cells_lloyd(df, k=24, iters=1, assign_impl="arrow")
    whole = {r._vid: r.cell for r in _assign_cells_arrow(u, cents).collect()}
    chunked = {r._vid: r.cell for r in _assign_cells_arrow(u, cents, chunk_k=5).collect()}
    assert whole == chunked


def test_kmeans_auto_dispatch_threshold(spark):
    """auto == literal at k<=literal_max_k and == arrow above: both sides
    of the threshold produce the same assignments as their forced twins."""
    import numpy as np

    from theta_spark.functions.similarity import kmeans_cells_lloyd

    rng = np.random.default_rng(11)
    rows = [(i, rng.normal(0, 1, 8).tolist()) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a_auto, c_auto = kmeans_cells_lloyd(df, k=20, iters=1, assign_impl="auto", literal_max_k=16)
    a_arw, c_arw = kmeans_cells_lloyd(df, k=20, iters=1, assign_impl="arrow")
    assert c_auto == c_arw
    assert {r.vec_id: r.cell for r in a_auto.collect()} == {
        r.vec_id: r.cell for r in a_arw.collect()
    }


def _pq_embeddings(spark, n=30, dim=8, seed=13):
    """Random vectors, NO planted near-duplicates — the degenerate-PQ
    exactness test needs distinct codewords so round-4 ties can't flip
    assignments between a vector and its near-twin."""
    rng = np.random.default_rng(seed)
    rows = [(i, rng.normal(0, 1, dim).tolist()) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_pq_degenerate_equals_brute_force(spark):
    """m=1, ksub=N, iters=0: every vector is its own codeword, so ADC
    similarity IS the exact rounded cosine — top-k must reproduce the
    brute-force baseline bit-for-bit (pairs, sims, ranks). This pins the
    ADC dataflow (table build, code join, partial-agg sum) as a lossless
    generalization of exact search."""
    from theta_spark.functions.similarity import pq_adc_topk, pq_encode, train_pq

    e = _pq_embeddings(spark, n=30, dim=8)
    qs = e.filter("vec_id % 7 = 0")
    cbs = train_pq(e, m=1, ksub=30, iters=0, dim=8)
    enc = pq_encode(e, cbs, m=1, dim=8)
    adc = sorted(
        (r.query_id, r.rk, r.neighbor_id, r.adc_sim)
        for r in pq_adc_topk(enc, qs, cbs, k=5, m=1, dim=8).collect()
    )
    bf = sorted(
        (r.query_id, r.rk, r.neighbor_id, r.cos_sim)
        for r in brute_force_topk(e, qs, k=5).collect()
    )
    assert adc == bf


def test_train_pq_deterministic_shapes(spark):
    """Trained codebooks: deterministic across runs, subvector length
    dim/m, codes within [0, ksub), and at least one live code per
    subspace after the Lloyd update."""
    from theta_spark.functions.similarity import train_pq

    e = _pq_embeddings(spark, n=40, dim=8, seed=5)
    c1 = train_pq(e, m=2, ksub=4, iters=1, dim=8)
    c2 = train_pq(e, m=2, ksub=4, iters=1, dim=8)
    assert c1 == c2
    assert all(len(v) == 4 for v in c1.values())
    subs = {s for s, _ in c1}
    assert subs == {0, 1}
    assert all(0 <= c < 4 for _, c in c1)


def test_pq_encode_matches_driver_numpy(spark):
    """The zero-shuffle Arrow encoder reproduces a driver-side numpy
    recompute of nearest-codeword assignment under the shared rounding
    contract (half-up 1e-4 dots, lowest code on ties)."""
    from theta_spark.functions.similarity import pq_encode, train_pq, with_unit_vec

    e = _pq_embeddings(spark, n=40, dim=8, seed=5)
    cbs = train_pq(e, m=2, ksub=4, iters=1, dim=8)
    got = {r.vec_id: list(r.codes) for r in pq_encode(e, cbs, m=2, dim=8).collect()}

    units = {r.vec_id: np.array(r.unit) for r in with_unit_vec(e).collect()}
    w = 4
    for vid, u in units.items():
        want = []
        for s in range(2):
            codes = sorted(c for (ss, c) in cbs if ss == s)
            best = None
            for c in codes:
                d = float(np.dot(u[s * w : (s + 1) * w], np.array(cbs[(s, c)])))
                r4 = math.copysign(math.floor(abs(d) * 1e4 + 0.5) / 1e4, d)
                if best is None or r4 > best[0]:
                    best = (r4, c)
            want.append(best[1])
        assert got[vid] == want, vid


def test_pq_adc_rank_contract(spark):
    """rk is 1..k per query, adc_sim non-increasing within a query, and
    the query itself is never its own neighbor."""
    from theta_spark.functions.similarity import pq_adc_topk, pq_encode, train_pq

    e = _pq_embeddings(spark, n=40, dim=8, seed=5)
    qs = e.filter("vec_id % 10 = 0")
    cbs = train_pq(e, m=2, ksub=4, iters=1, dim=8)
    out = pq_adc_topk(pq_encode(e, cbs, m=2, dim=8), qs, cbs, k=5, m=2, dim=8).collect()
    by_q = {}
    for r in out:
        assert r.neighbor_id != r.query_id
        by_q.setdefault(r.query_id, []).append((r.rk, r.adc_sim))
    for q, pairs in by_q.items():
        pairs.sort()
        assert [rk for rk, _ in pairs] == list(range(1, len(pairs) + 1))
        sims = [s for _, s in pairs]
        assert sims == sorted(sims, reverse=True)


def test_ivfpq_single_probe_restricts_to_cell(spark):
    """IVF-PQ with a scalar probe cell: every returned neighbor lives in
    the query's coarse cell (the IVF pruning half), and ranks stay a
    dense 1..k prefix per query (the PQ scoring half)."""
    from theta_spark.functions.similarity import (
        ivfpq_adc_topk,
        kmeans_cells_lloyd,
        pq_encode,
        train_pq,
    )

    e = _pq_embeddings(spark, n=40, dim=8, seed=5)
    assign, _ = kmeans_cells_lloyd(e, k=3, iters=1)
    cbs = train_pq(e, m=2, ksub=4, iters=1, dim=8)
    enc = pq_encode(e, cbs, m=2, dim=8).join(assign, on="vec_id")
    qs = e.join(assign, on="vec_id").filter("vec_id % 10 = 0")
    out = ivfpq_adc_topk(enc, qs, cbs, k=5, m=2, dim=8).collect()
    cell_of = {r.vec_id: r.cell for r in assign.collect()}
    by_q = {}
    for r in out:
        assert cell_of[r.neighbor_id] == cell_of[r.query_id]
        assert r.neighbor_id != r.query_id
        by_q.setdefault(r.query_id, []).append(r.rk)
    for rks in by_q.values():
        assert sorted(rks) == list(range(1, len(rks) + 1))


def test_ivfpq_all_cells_probed_equals_pure_pq(spark):
    """Multi-probe with EVERY cell in the probe array removes the IVF
    pruning entirely, so IVF-PQ must reproduce pq_adc_topk bit-for-bit —
    pins the composition as pruning-over-PQ, not a third scorer."""
    import pyspark.sql.functions as F

    from theta_spark.functions.similarity import (
        ivfpq_adc_topk,
        kmeans_cells_lloyd,
        pq_adc_topk,
        pq_encode,
        train_pq,
    )

    e = _pq_embeddings(spark, n=40, dim=8, seed=5)
    assign, _ = kmeans_cells_lloyd(e, k=3, iters=1)
    cbs = train_pq(e, m=2, ksub=4, iters=1, dim=8)
    enc = pq_encode(e, cbs, m=2, dim=8).join(assign, on="vec_id")
    all_cells = sorted(r.cell for r in assign.select("cell").distinct().collect())
    qs = e.filter("vec_id % 10 = 0").withColumn(
        "cell", F.array(*[F.lit(c) for c in all_cells])
    )
    got = sorted(
        (r.query_id, r.rk, r.neighbor_id, r.adc_sim)
        for r in ivfpq_adc_topk(enc, qs, cbs, k=5, m=2, dim=8).collect()
    )
    want = sorted(
        (r.query_id, r.rk, r.neighbor_id, r.adc_sim)
        for r in pq_adc_topk(
            pq_encode(e, cbs, m=2, dim=8), e.filter("vec_id % 10 = 0"), cbs,
            k=5, m=2, dim=8,
        ).collect()
    )
    assert got == want


def test_adc_shuffle_join_mode_bit_identical(spark):
    """broadcast_table=False (batch-mode query sets too big to broadcast)
    must change ONLY the physical join strategy: both PQ and IVF-PQ top-k
    are bit-identical to the forced-broadcast serving path."""
    from theta_spark.functions.similarity import (
        ivfpq_adc_topk,
        kmeans_cells_lloyd,
        pq_adc_topk,
        pq_encode,
        train_pq,
    )

    e = _pq_embeddings(spark, n=40, dim=8, seed=5)
    cbs = train_pq(e, m=2, ksub=4, iters=1, dim=8)
    enc = pq_encode(e, cbs, m=2, dim=8)
    qs = e.filter("vec_id % 10 = 0")

    def rows(df):
        return sorted(
            (r.query_id, r.rk, r.neighbor_id, r.adc_sim) for r in df.collect()
        )

    assert rows(pq_adc_topk(enc, qs, cbs, k=5, m=2, dim=8, broadcast_table=False)) == rows(
        pq_adc_topk(enc, qs, cbs, k=5, m=2, dim=8)
    )

    assign, _ = kmeans_cells_lloyd(e, k=3, iters=1)
    enc_c = enc.join(assign, on="vec_id")
    qs_c = qs.join(assign, on="vec_id")
    assert rows(
        ivfpq_adc_topk(enc_c, qs_c, cbs, k=5, m=2, dim=8, broadcast_table=False)
    ) == rows(ivfpq_adc_topk(enc_c, qs_c, cbs, k=5, m=2, dim=8))


def test_semantic_dedup_hand_constructed(spark):
    """SemDeDup: within-cell near-dup groups collapse to a min-id keeper;
    a near-dup pair SPLIT ACROSS CELLS is deliberately NOT merged (the
    paper's cell-bounded search); singletons keep themselves."""
    import math

    from theta_spark.functions.similarity import semantic_dedup

    def v(theta):
        # 64-dim unit vectors living on a 2-plane: cos(angle difference)
        out = [0.0] * 64
        out[0], out[1] = math.cos(theta), math.sin(theta)
        return out

    # init centroids = unit vecs of the two smallest ids (k=2):
    # id 0 at angle 0, id 1 at angle pi/2. Cluster A ~ angle 0 (ids 0,2,3),
    # cluster B ~ pi/2 (ids 1,4). id 5 sits at pi/4 + eps -> assigned to B
    # but cosine-close to id 3 (pi/4 - eps) in A: cross-cell dup NOT merged.
    rows = [
        (0, v(0.0)),
        (1, v(math.pi / 2)),
        (2, v(0.02)),            # dup of 0 (cos ~ 0.9998)
        (3, v(math.pi / 4 - 0.01)),
        (4, v(math.pi / 2 - 0.02)),  # dup of 1
        (5, v(math.pi / 4 + 0.01)),  # dup of 3, other side of the boundary
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: (r.cell, r.keeper, r.kept) for r in
           semantic_dedup(df, k=2, iters=0, threshold=0.95).collect()}
    cells = {i: got[i][0] for i in got}
    # same-cell groups resolved
    assert cells[0] == cells[2] and got[2][1] == 0 and got[2][2] == 0
    assert got[0] == (cells[0], 0, 1)
    assert cells[1] == cells[4] and got[4][1] == 1 and got[4][2] == 0
    # 3 and 5 are cosine-near (cos(0.02) ~ .9998 >= .95) but in different
    # cells -> both kept, each its own keeper
    assert cells[3] != cells[5]
    assert got[3] == (cells[3], 3, 1)
    assert got[5] == (cells[5], 5, 1)


def test_pq_encode_fused_cells_equals_join_path(spark):
    """pq_encode(cents=...) — the one-pass (id, codes, cell) index build —
    must be bit-identical to encode-then-join-assignment, and
    assign_cells must reproduce the trainer's own final assignment
    (shared _chunked_argmax_cells kernel, so this pins the contract)."""
    from theta_spark.functions.similarity import (
        assign_cells,
        kmeans_cells_lloyd,
        pq_encode,
        train_pq,

    )

    e = _pq_embeddings(spark, n=40, dim=8)
    assign, cents = kmeans_cells_lloyd(e, k=3, iters=1)
    cbs = train_pq(e, m=2, ksub=4, iters=1, dim=8)

    fused = pq_encode(e, cbs, m=2, dim=8, cents=cents)
    joined = pq_encode(e, cbs, m=2, dim=8).join(assign, on="vec_id")
    a = sorted((r["vec_id"], tuple(r["codes"]), r["cell"]) for r in fused.collect())
    b = sorted((r["vec_id"], tuple(r["codes"]), r["cell"]) for r in joined.collect())
    assert a == b

    ac = sorted((r["vec_id"], r["cell"]) for r in assign_cells(e, cents).collect())
    tr = sorted((r["vec_id"], r["cell"]) for r in assign.collect())
    assert ac == tr


def test_with_unit_vec_idempotent(spark):
    from theta_spark.functions.similarity import with_unit_vec

    e = _pq_embeddings(spark, n=5, dim=4)
    u1 = with_unit_vec(e)
    u2 = with_unit_vec(u1)
    assert u2 is u1  # no second normalization layer in the plan
    assert sorted(tuple(r) for r in u1.collect()) == sorted(tuple(r) for r in u2.collect())


def test_with_unit_vec_replaces_an_unrelated_unit_column(spark):
    """Only a `unit` column tagged as the normalization of the same vector
    column is trusted; any other column of that name is recomputed."""
    from pyspark.sql import functions as F

    e = _pq_embeddings(spark, n=5, dim=4)
    for stale in (
        e.withColumn("unit", F.array(F.lit(2.0), F.lit(0.0))),  # untagged
        with_unit_vec(e.withColumn("other", F.col("embedding")), "other")  # tag names "other"
        .withColumn("embedding", F.transform("embedding", lambda x: x * 3)),
    ):
        got = with_unit_vec(stale)
        assert got is not stale
        for r in got.collect():
            norm = math.sqrt(sum(x * x for x in r["embedding"]))
            assert len(r["unit"]) == len(r["embedding"])
            assert all(
                math.isclose(u, x / norm, rel_tol=1e-12) for u, x in zip(r["unit"], r["embedding"])
            )


def test_assign_cells_keep_unit(spark):
    from theta_spark.functions.similarity import assign_cells, kmeans_cells_lloyd

    e = _pq_embeddings(spark, n=20, dim=8)
    _, cents = kmeans_cells_lloyd(e, k=2, iters=1)
    got = assign_cells(e, cents, keep_unit=True)
    assert set(got.columns) == {"vec_id", "cell", "unit"}
    # unit column is the normalized vector (norm 1)
    import math
    for r in got.collect():
        assert math.isclose(sum(x * x for x in r["unit"]), 1.0, rel_tol=1e-9)


def test_assign_cells_keep_unit_arrow_feeds_ivfpq(spark):
    """The large-codebook (Arrow) assignment keeps the unit column's tag,
    so its (id, cell, unit) query side — which has no `embedding` — feeds
    ivfpq_adc_topk exactly like the literal path's."""
    from pyspark.sql import functions as F

    from theta_spark.functions.similarity import (
        assign_cells,
        ivfpq_adc_topk,
        kmeans_cells_lloyd,
        pq_encode,
        train_pq,
    )

    e = _pq_embeddings(spark, n=40, dim=8)
    _, cents = kmeans_cells_lloyd(e, k=3, iters=1)
    cbs = train_pq(e, m=2, ksub=4, iters=1, dim=8)
    enc = pq_encode(e, cbs, m=2, dim=8, cents=cents)
    q = e.filter(F.col("vec_id") % 5 == 0)

    def served(impl):
        qs = assign_cells(q, cents, assign_impl=impl, keep_unit=True)
        assert "embedding" not in qs.columns
        return sorted(map(tuple, ivfpq_adc_topk(enc, qs, cbs, k=3, m=2, dim=8).collect()))

    lit = served("literal")
    assert lit and served("arrow") == lit


def test_ivfpq_index_roundtrip_serving(spark, tmp_path):
    """The build-once/serve-later lifecycle: build the IVF-PQ index, save
    it (cell-partitioned codes + quantizers), load it in a 'fresh
    serving' step, and the served top-k must be bit-identical to querying
    the in-memory index. Cell filters on the loaded codes must prune at
    the parquet scan (PartitionFilters), not post-scan."""
    from pyspark.sql import functions as F

    from theta_spark.functions.similarity import (
        assign_cells,
        ivfpq_adc_topk,
        kmeans_cells_lloyd,
        load_ivfpq_index,
        pq_encode,
        save_ivfpq_index,
        train_pq,
    )

    e = _pq_embeddings(spark, n=60, dim=8)
    _, cents = kmeans_cells_lloyd(e, k=3, iters=1)
    cbs = train_pq(e, m=2, ksub=4, iters=1, dim=8)
    enc = pq_encode(e, cbs, m=2, dim=8, cents=cents)

    path = str(tmp_path / "ivfpq")
    save_ivfpq_index(enc, cbs, cents, path)
    enc2, cbs2, cents2, manifest = load_ivfpq_index(spark, path)
    assert cbs2 == cbs and cents2 == sorted(cents)
    assert manifest["m"] == 2 and manifest["nlist"] == 3 and manifest["dim"] == 8

    qs = assign_cells(e.filter(F.col("vec_id") % 10 == 0), cents, keep_unit=True)
    served = sorted(
        map(tuple, ivfpq_adc_topk(enc2, qs, cbs2, k=3, m=2, dim=8).collect())
    )
    in_mem = sorted(
        map(tuple, ivfpq_adc_topk(enc, qs, cbs, k=3, m=2, dim=8).collect())
    )
    assert served == in_mem and served

    # partition pruning: a single-cell filter reaches the scan as a
    # PartitionFilter over the cell directory, reading only that cell
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        enc2.filter(F.col("cell") == 1).explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert any(
        "cell" in seg for seg in plan.split("PartitionFilters: [")[1:2]
    ), plan
