"""A8/A9: epoch-level validation metrics and best-model selection.

The reference tracks training as driver-side control flow:

- A8 — epoch validation metrics are the UNWEIGHTED mean of per-batch
  means (``theta/nlp/tasks/task.py:1300-1305``,
  ``task_glue.py:692-695``: ``sum(out[k] for out in outputs) /
  len(outputs)`` where each ``out[k]`` is already a batch mean) — a
  small batch counts exactly as much as a full one. We keep that quirk
  and expose the sample-weighted mean beside it for comparison.

- A9 — best-model selection with early stopping
  (``task.py:483-518``): ``best_score`` starts at **0.0** when
  ``greater_is_better`` (NOT -inf — a score that never exceeds 0 is
  never "best") and +inf otherwise; an epoch is best only on STRICT
  improvement; ``wait_count`` resets to 0 on improvement, increments
  otherwise, and training stops after the epoch where ``wait_count >=
  patience``.

Spark shape: both are relational over a metrics table keyed by
(run_id, epoch[, batch]). The sequential early-stop scan is inherently
serial PER RUN, so every window partitions by ``run_col`` — the scale
dimension is the number of concurrent runs (hyperparameter sweeps,
k-fold replicas train thousands of models side by side), and each
run's partition holds O(epochs) rows, bounded by wall-clock training
reality, never by data volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def epoch_val_metrics(
    batch_df: DataFrame,
    metric_cols: list[str],
    run_col: str = "run_id",
    epoch_col: str = "epoch",
    weight_col: str | None = None,
) -> DataFrame:
    """A8: per-(run, epoch) validation metrics from per-batch means.

    Each input row is one validation batch's already-averaged outputs
    (the reference's ``outputs`` list). The epoch metric is the plain
    AVG over batch rows — the reference's mean-of-means, which weights
    every batch equally regardless of batch size. When ``weight_col``
    (the batch size) is given, a ``<metric>_weighted`` column carries
    the sample-weighted mean beside it.

    One groupBy with map-side partials; no window, no collect.
    """
    aggs = [F.count(F.lit(1)).cast("long").alias("n_batches")]
    for c in metric_cols:
        aggs.append(F.round(F.avg(c), 6).alias(c))
        if weight_col is not None:
            aggs.append(
                F.round(
                    F.sum(F.col(c) * F.col(weight_col)) / F.sum(weight_col), 6
                ).alias(f"{c}_weighted")
            )
    return batch_df.groupBy(run_col, epoch_col).agg(*aggs)


def best_model_selection(
    epoch_df: DataFrame,
    score_col: str = "score",
    run_col: str = "run_id",
    epoch_col: str = "epoch",
    greater_is_better: bool = False,
    patience: int = 3,
) -> DataFrame:
    """A9: the reference's save_best_model/early-stop loop as windows.

    Input: one row per (run, epoch) with the selection metric. Output:
    the PREFIX of epochs each run actually trains (everything after the
    early stop is dropped — those epochs never run), annotated with

    - ``is_best``  (1/0): strict improvement over the running best,
      seeded with the reference's init quirk (0.0 when
      ``greater_is_better``, +inf otherwise; ``task.py:331``);
    - ``best_so_far``: the running best score after this epoch;
    - ``wait_count``: epochs since the last improvement (reset on
      improvement; ``task.py:504,513``);
    - ``stopped`` (1/0): this epoch tripped ``wait_count >= patience``
      — training halts after it (``task.py:517-518``);
    - ``selected`` (1/0): the checkpoint that survives — the LAST
      is_best epoch within the trained prefix.

    Every window partitions by run: runs scale out, epochs per run are
    O(10-100) by construction.
    """
    w_ord = Window.partitionBy(run_col).orderBy(epoch_col)
    w_prev = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    w_cur = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_run = Window.partitionBy(run_col)

    score = F.col(score_col)
    if greater_is_better:
        init = F.lit(0.0)
        best_prev = F.greatest(F.coalesce(F.max(score).over(w_prev), init), init)
        is_best = score > best_prev
    else:
        init = F.lit(float("inf"))
        best_prev = F.least(F.coalesce(F.min(score).over(w_prev), init), init)
        is_best = score < best_prev

    annotated = (
        epoch_df.withColumn("_rn", F.row_number().over(w_ord))
        .withColumn("is_best", is_best.cast("int"))
        .withColumn("best_so_far", F.when(is_best, score).otherwise(best_prev))
    )
    last_best_rn = F.max(
        F.when(F.col("is_best") == 1, F.col("_rn"))
    ).over(w_cur)
    annotated = annotated.withColumn(
        "wait_count", F.col("_rn") - F.coalesce(last_best_rn, F.lit(0))
    ).withColumn("stopped", (F.col("wait_count") >= patience).cast("int"))

    stop_rn = F.coalesce(
        F.min(F.when(F.col("stopped") == 1, F.col("_rn"))).over(w_run),
        F.lit(2**31),
    )
    kept = annotated.withColumn("_stop_rn", stop_rn).filter(
        F.col("_rn") <= F.col("_stop_rn")
    )
    sel_rn = F.max(F.when(F.col("is_best") == 1, F.col("_rn"))).over(w_run)
    return (
        kept.withColumn(
            "selected", (F.col("_rn") == F.coalesce(sel_rn, F.lit(-1))).cast("int")
        )
        .drop("_rn", "_stop_rn")
    )


# ----------------------------------------------------------------- quality LR
# Distributed quality-classifier training (the CCNet/fasttext-style "is this
# document worth keeping" linear filter trained over the corpus itself —
# GPT-3's quality classifier, CCNet's LM filter). Full-batch gradient
# descent on a HARD-SIGMOID logistic regression in exact i64 fixed-point:
#
#   sigma_h(z) = clamp(z/4 + 1/2, 0, 1)      (piecewise-linear sigmoid)
#
# Every quantity is a micro-unit integer (scale QL_S = 1e6) and every
# division is an explicit FLOOR, so the per-row gradient is an exact i64
# and the batch gradient is an exact SUM of i64 — associative and
# therefore BIT-IDENTICAL under any partitioning, AQE re-plan, or
# executor count. That is what makes distributed training oracle-able:
# the DuckDB twin unrolls the same iterations in SQL and hash-matches
# the weight trajectory exactly (no float drift, no reduction-order
# nondeterminism — the classic reason distributed SGD is untestable).
#
# Magnitude bounds (documented so the FLOOR-through-double trick stays
# exact, |x| < 2^53): features are CAPPED at QL_S = 1e6 (x_stop
# saturates — a space-free doc of repeated stopwords would otherwise
# blow the bound), err <= 1e6; per-row err*m*x_i <= 1e12; the gradient
# SUM <= n_rows * 1e6 (exact i64 up to ~9e12 docs); per-row
# |w·x| <= 4 * |w| * 1e6 must stay < 2^53, so |w| < 2.25e9 — asserted
# at runtime each iteration (|w| stays < ~1e7 for the shipped
# lr/iters; the assert is the contract for exotic ones).
#
# Scale shape: features are ONE narrow projection of the corpus scan
# (all JVM built-ins — length/translate/replace arithmetic), persisted
# once; each GD iteration is ONE scalar aggregate (map-side partial
# sums, tree-reduce shape, no shuffle of row data) returning 5 i64s to
# the driver, which updates the 4 weights in exact Python ints. O(iters)
# actions total, like the Lloyd/PageRank trainers.

QL_S = 1_000_000  # fixed-point scale: 1.0 == 1e6 micro-units


def _fdiv(a, b):
    """Python-`//` floor division as a column op (exact for |a| < 2^53)."""
    return F.floor(a / b).cast("long")


def quality_features(
    docs: DataFrame,
    text_col: str = "text",
    n_chars_col: str = "n_chars",
    label_threshold: int = 300,
) -> DataFrame:
    """Per-doc quality features + label, all exact micro-unit i64.

    x_len   min(n_chars, 1000)/1000      (length, saturated)
    x_space spaces/n_chars               (whitespace ratio)
    x_stop  count('the')/(spaces+1)      (stopword-per-word ratio, capped at 1.0)
    x_bias  1.0
    y       1 iff n_chars >= label_threshold (the teachable proxy rule)

    Pure codegen: length/translate/replace + integer floor arithmetic.
    """
    s = F.lit(QL_S)
    nc = F.col(n_chars_col).cast("long")
    spaces = (
        F.length(text_col) - F.length(F.translate(F.col(text_col), " ", ""))
    ).cast("long")
    cnt_stop = _fdiv(
        (F.length(text_col) - F.length(F.replace(F.col(text_col), F.lit("the")))).cast("long"),
        F.lit(3),
    )
    return docs.select(
        _fdiv(F.least(nc, F.lit(1000)) * s, F.lit(1000)).alias("x_len"),
        _fdiv(spaces * s, F.greatest(nc, F.lit(1))).alias("x_space"),
        F.least(_fdiv(cnt_stop * s, F.greatest(spaces + 1, F.lit(1))), s).alias("x_stop"),
        s.cast("long").alias("x_bias"),
        (nc >= label_threshold).cast("long").alias("y"),
    )


_QL_FEATURE_COLS = ("x_len", "x_space", "x_stop", "x_bias")


def train_quality_lr(
    docs: DataFrame,
    iters: int = 8,
    lr_num: int = 6,
    lr_den: int = 1,
    label_threshold: int = 300,
) -> DataFrame:
    """Train the quality filter; return the exact weight/accuracy history.

    Output: one row per iteration 0..iters with the weights IN FORCE at
    that step plus that step's training accuracy numerator —
    (iter, w_len, w_space, w_stop, w_bias, acc_num, n_rows), all i64.

    w_{k+1,i} = w_{k,i} - floor(lr_num * G_i / (lr_den * n)) where
    G_i = SUM_rows floor(err * m * x_i / S), err = sigma_h(z) - y in
    micro-units, m = [|z| < 2S] (the hard sigmoid's support), and
    z = floor(w·x / S).
    """
    spark = docs.sparkSession
    feats = quality_features(docs, label_threshold=label_threshold).persist()
    n = feats.count()
    if n == 0:
        feats.unpersist()
        return spark.createDataFrame(
            [],
            "iter int, w_len long, w_space long, w_stop long, "
            "w_bias long, acc_num long, n_rows long",
        )
    s, half, two_s = QL_S, QL_S // 2, 2 * QL_S
    w = [0, 0, 0, 0]
    hist = []
    for it in range(iters + 1):
        # exactness: per-row |w.x| <= 4*|w|*QL_S must stay < 2^53
        if not all(abs(wi) < 2 * 10**9 for wi in w):
            raise ValueError(
                f"weights {w} at iteration {it} are out of the i64 exactness bound "
                "(|w| < 2e9); lower lr_num/lr_den"
            )
        # weights ride as a BROADCAST 1-row frame, not literals: the
        # generated codegen source is then IDENTICAL across iterations
        # (only broadcast values differ), so whole-stage compilation is
        # paid once, not once per GD step — with literal weights the
        # per-iteration recompile is a serial Amdahl constant that caps
        # scaling of the whole training loop (measured: bench_trainers)
        wdf = spark.createDataFrame(
            [tuple(w)], ", ".join(f"_w{i} long" for i in range(4))
        )
        feats_w = feats.crossJoin(F.broadcast(wdf))
        z = _fdiv(
            sum(F.col(f"_w{i}") * F.col(c) for i, c in enumerate(_QL_FEATURE_COLS)),
            F.lit(s),
        )
        p = F.least(F.greatest(_fdiv(z, F.lit(4)) + half, F.lit(0)), F.lit(s))
        err = p - F.col("y") * s
        m = ((z > -two_s) & (z < two_s)).cast("long")
        row = feats_w.agg(
            *[
                F.sum(_fdiv(err * m * F.col(c), F.lit(s))).alias(f"g{i}")
                for i, c in enumerate(_QL_FEATURE_COLS)
            ],
            F.sum(((p >= half) == (F.col("y") == 1)).cast("long")).alias("acc"),
        ).collect()[0]
        hist.append((it, *w, int(row["acc"]), n))
        if it < iters:
            w = [
                wi - (lr_num * int(row[f"g{i}"])) // (lr_den * n)
                for i, wi in enumerate(w)
            ]
    feats.unpersist()
    return spark.createDataFrame(
        hist,
        "iter int, w_len long, w_space long, w_stop long, "
        "w_bias long, acc_num long, n_rows long",
    )
