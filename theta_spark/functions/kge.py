"""Knowledge-graph embedding training (TransE, Bordes et al. 2013) as a
distributed, DETERMINISTIC fixed-point dataflow.

TransE learns vectors where head + relation ≈ tail (L1 here). This
implementation keeps every quantity an exact i64 so the training loop is
reproducible and oracle-able — the same discipline as the PageRank/HITS
iterations and the hard-sigmoid quality-LR trainer:

- init: md5-keyed integer draws in [-H, +H] per (id, dim) — formulaic, so
  any engine (or the DuckDB oracle) can rebuild epoch-0 exactly;
- epoch: FULL-BATCH margin ranking step. For each triple and its
  deterministically corrupted tail, the margin violation test and the L1
  subgradients (per-dim sign vectors) are pure integer comparisons; each
  entity's update is the SUM of its ±lr sign contributions — associative,
  so the trajectory is bit-identical under any partitioning/AQE re-plan;
- no per-epoch L2 normalization (that would be float): the fixed-point
  variant relies on the margin test to bound drift, documented trade-off.

Scale shape per epoch: 4 equi-joins of the triple table against the
entity/relation tables (shuffle on id — the join AQE handles, salting
hooks not needed because sign contributions, not embeddings, ride the
wide side), one (id, pos) grouped SUM of integer deltas (map-side
partials), one left join to apply. No collect of embeddings — entity
tables never visit the driver, so the entity count can be 10^9. Epoch
count is wall-bounded like any KGE trainer; `checkpoint_every` bounds
lineage exactly as functions/graph.py's iterations do.

Reference anchor: the reference's training loop is task-level PyTorch
(theta/nlp/tasks/task.py); there is no KGE op to transcribe — this is a
net-new downstream consumer of the KG the pipeline materializes, like
gr_pagerank/gr_link_pred.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from theta_spark.functions.graph import fixed_rounds

# the package's ONE replayable-randomness kernel (shared with the
# sampling/augment side so the draw format can never desynchronize)
from theta_spark.functions.sampling import _draw32  # noqa: E402,F401


def init_embeddings(
    ids: DataFrame,
    id_col: str = "id",
    dim: int = 4,
    half_range: int = 100,
    tag: str = "kge",
    seed: int = 42,
) -> DataFrame:
    """(id, emb array<long>): md5-keyed init, each dim uniform in [-H, +H].

    emb[p] = draw32(id # tag p # seed) % (2H+1) - H — formulaic per
    (id, p), so epoch-0 is rebuildable anywhere without shipping state."""
    mod = 2 * half_range + 1
    emb = F.array(
        *[
            _draw32(F.col(id_col), f"{tag}{p}", seed) % mod - half_range
            for p in range(dim)
        ]
    )
    return ids.select(F.col(id_col).alias("id"), emb.alias("emb"))


def _sign(arr: Column) -> Column:
    return F.transform(arr, lambda x: F.when(x > 0, 1).when(x < 0, -1).otherwise(0).cast("long"))


def _l1(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0).cast("long"), lambda acc, x: acc + F.abs(x))


def _vadd(a: Column, b: Column) -> Column:
    return F.zip_with(a, b, lambda x, y: x + y)


def _vsub(a: Column, b: Column) -> Column:
    return F.zip_with(a, b, lambda x, y: x - y)


def _apply_updates(emb: DataFrame, deltas: DataFrame, lr: int) -> DataFrame:
    """emb + lr * grouped-sum(deltas): (id, pos, d) -> per-id arrays ->
    left join (absent ids keep their vector unchanged)."""
    upd = (
        deltas.groupBy("id", "pos")
        .agg(F.sum("d").alias("d"))
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "d"))).alias("pd"))
        .select("id", F.transform("pd", lambda t: t["d"] * lr).alias("delta"))
    )
    return emb.join(upd, on="id", how="left").select(
        "id",
        F.when(F.col("delta").isNull(), F.col("emb"))
        .otherwise(_vadd(F.col("emb"), F.col("delta")))
        .alias("emb"),
    )


def transe_epoch(
    ent: DataFrame,
    rel: DataFrame,
    triples: DataFrame,
    lr: int = 1,
    margin: int = 50,
) -> tuple[DataFrame, DataFrame]:
    """One full-batch TransE step. `triples` carries (h, r, t, t_corr)
    with ids resolving into `ent` (h/t/t_corr) and `rel` (r).

    Per violated triple (|h+r-t|_1 + margin > |h+r-t'|_1):
      h and r move by (s_neg - s_pos), t by +s_pos, t' by -s_neg,
    where s_pos/s_neg are the per-dim sign vectors of the L1 diffs —
    the exact subgradient of the margin ranking loss, all-integer."""
    j = (
        triples.join(ent.select(F.col("id").alias("h"), F.col("emb").alias("he")), on="h")
        .join(rel.select(F.col("id").alias("r"), F.col("emb").alias("re")), on="r")
        .join(ent.select(F.col("id").alias("t"), F.col("emb").alias("te")), on="t")
        .join(
            ent.select(F.col("id").alias("t_corr"), F.col("emb").alias("tce")),
            on="t_corr",
        )
    )
    hr = _vadd(F.col("he"), F.col("re"))
    pos_diff = _vsub(hr, F.col("te"))
    neg_diff = _vsub(hr, F.col("tce"))
    v = j.select(
        "h",
        "r",
        "t",
        "t_corr",
        _sign(pos_diff).alias("sp"),
        _sign(neg_diff).alias("sn"),
        ((_l1(pos_diff) + margin) > _l1(neg_diff)).alias("violate"),
    ).filter("violate")
    hr_delta = _vsub(F.col("sn"), F.col("sp"))
    ent_deltas = (
        v.select(F.col("h").alias("id"), F.posexplode(hr_delta).alias("pos", "d"))
        .unionByName(
            v.select(F.col("t").alias("id"), F.posexplode(F.col("sp")).alias("pos", "d"))
        )
        .unionByName(
            v.select(
                F.col("t_corr").alias("id"),
                F.posexplode(F.transform("sn", lambda x: -x)).alias("pos", "d"),
            )
        )
    )
    rel_deltas = v.select(F.col("r").alias("id"), F.posexplode(hr_delta).alias("pos", "d"))
    return (
        _apply_updates(ent, ent_deltas, lr),
        _apply_updates(rel, rel_deltas, lr),
    )


def train_transe(
    ent: DataFrame,
    rel: DataFrame,
    triples: DataFrame,
    epochs: int = 2,
    lr: int = 1,
    margin: int = 50,
    checkpoint_every: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """`epochs` full-batch steps; returns (ent, rel) final embeddings.

    checkpoint_every=k eagerly localCheckpoints both tables every k
    epochs — the graph-iteration lineage discipline (functions/graph.py),
    but here it is NOT merely an optimization: each epoch references the
    entity table FOUR times (3 joins + the apply), so an uncut lineage
    grows 4^epochs logical-plan copies and Catalyst optimization time
    explodes after a handful of epochs. Default 1 (cut every epoch); the
    integer arithmetic is partitioning-invariant, so materialize points
    are bit-unobservable (pinned by test). 0 disables (tiny epoch counts
    only)."""
    def epoch(state, _e):
        return transe_epoch(*state, triples, lr=lr, margin=margin)

    return fixed_rounds((ent, rel), epoch, epochs, checkpoint_every)


def violation_count(
    ent: DataFrame,
    rel: DataFrame,
    triples: DataFrame,
    margin: int = 50,
) -> int:
    """Margin violations at the CURRENT embeddings — the training-progress
    metric (decreasing across epochs = the model is learning)."""
    j = (
        triples.join(ent.select(F.col("id").alias("h"), F.col("emb").alias("he")), on="h")
        .join(rel.select(F.col("id").alias("r"), F.col("emb").alias("re")), on="r")
        .join(ent.select(F.col("id").alias("t"), F.col("emb").alias("te")), on="t")
        .join(
            ent.select(F.col("id").alias("t_corr"), F.col("emb").alias("tce")),
            on="t_corr",
        )
    )
    hr = _vadd(F.col("he"), F.col("re"))
    return j.filter(
        (_l1(_vsub(hr, F.col("te"))) + margin) > _l1(_vsub(hr, F.col("tce")))
    ).count()
