"""A8/A9 (operators/training.py): epoch mean-of-means and best-model
selection vs a line-for-line Python replica of the reference loop
(theta/nlp/tasks/task.py:331,483-518), plus the real numpy-MLP training
history flowing through both operators."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from theta_spark.operators.training import best_model_selection, epoch_val_metrics


def _reference_selection(scores, greater_is_better, patience):
    """Transcription of the reference's control flow: init quirk
    (best_score = 0.0 if greater_is_better else +inf), strict-improvement
    is_best, wait_count reset/increment, stop AFTER wait_count >= patience.
    Returns the trained prefix as (epoch, is_best, wait_count, stopped)
    plus the selected epoch (last is_best in the prefix, or None)."""
    best = 0.0 if greater_is_better else math.inf
    wait, rows, selected = 0, [], None
    for epoch, s in enumerate(scores):
        is_best = s > best if greater_is_better else s < best
        if is_best:
            best, wait, selected = s, 0, epoch
        else:
            wait += 1
        stopped = wait >= patience
        rows.append((epoch, int(is_best), wait, int(stopped)))
        if stopped:
            break
    return rows, selected


def _run_selection(spark, scores, greater_is_better, patience):
    df = spark.createDataFrame(
        [(0, e, float(s)) for e, s in enumerate(scores)],
        "run_id int, epoch int, score double",
    )
    out = best_model_selection(
        df, greater_is_better=greater_is_better, patience=patience
    )
    rows = [
        (r.epoch, r.is_best, r.wait_count, r.stopped, r.selected)
        for r in out.orderBy("epoch").collect()
    ]
    sel = [r[0] for r in rows if r[4] == 1]
    return [r[:4] for r in rows], (sel[0] if sel else None)


SEQUENCES = [
    # improving then plateau: stops, selects the dip
    ([5.0, 3.0, 2.0, 2.0, 2.0, 1.0], False, 2),
    # strictly improving: never stops, selects the last
    ([5.0, 4.0, 3.0, 2.0], False, 2),
    # equal score is NOT an improvement (strict <)
    ([3.0, 3.0, 3.0], False, 2),
    # late rebound rescued before patience trips
    ([5.0, 4.0, 6.0, 3.0, 3.5, 3.4, 2.0], False, 3),
    # greater_is_better init quirk: all-negative scores are NEVER best
    ([-1.0, -0.5, -0.1], True, 2),
    # greater_is_better: 0.0 itself is not best (strict >)
    ([0.0, 0.2, 0.1, 0.05], True, 2),
    # patience 1: first non-improving epoch stops training
    ([2.0, 1.0, 1.5, 0.5], False, 1),
]


def test_selection_matches_reference_loop(spark):
    for scores, gib, patience in SEQUENCES:
        exp_rows, exp_sel = _reference_selection(scores, gib, patience)
        got_rows, got_sel = _run_selection(spark, scores, gib, patience)
        assert got_rows == exp_rows, (scores, gib, patience, got_rows, exp_rows)
        assert got_sel == exp_sel, (scores, gib, patience)


def test_selection_runs_are_independent(spark):
    """Two runs in one table stop and select independently — the windows
    partition by run_id (the sweep scale-out dimension)."""
    a = [5.0, 3.0, 3.0, 3.0, 1.0]  # stops at epoch 3 (patience 2)
    b = [9.0, 8.0, 7.0, 6.0, 5.0]  # never stops
    df = spark.createDataFrame(
        [(0, e, s) for e, s in enumerate(a)] + [(1, e, s) for e, s in enumerate(b)],
        "run_id int, epoch int, score double",
    )
    out = best_model_selection(df, greater_is_better=False, patience=2)
    got = {
        run: [(r.epoch, r.selected) for r in rows]
        for run, rows in (
            (0, out.filter(F.col("run_id") == 0).orderBy("epoch").collect()),
            (1, out.filter(F.col("run_id") == 1).orderBy("epoch").collect()),
        )
    }
    assert [e for e, _ in got[0]] == [0, 1, 2, 3]  # epoch 4 never trains
    assert [e for e, s in got[0] if s == 1] == [1]
    assert [e for e, _ in got[1]] == [0, 1, 2, 3, 4]
    assert [e for e, s in got[1] if s == 1] == [4]


def test_epoch_metrics_mean_of_means_quirk(spark):
    """A8: a tiny tail batch counts as much as a full one (unweighted mean
    of batch means), and the weighted column differs when sizes differ."""
    rows = [
        (0, 0, 0, 1.0, 100),
        (0, 0, 1, 3.0, 1),  # tail batch
        (0, 1, 0, 2.0, 50),
        (0, 1, 1, 2.0, 50),
    ]
    df = spark.createDataFrame(rows, "run_id int, epoch int, batch int, val_loss double, bsz int")
    got = {
        r.epoch: (r.n_batches, r.val_loss, r.val_loss_weighted)
        for r in epoch_val_metrics(df, ["val_loss"], weight_col="bsz").collect()
    }
    assert got[0] == (2, 2.0, round((100 * 1.0 + 3.0) / 101, 6))
    assert got[1] == (2, 2.0, 2.0)


def test_mlp_training_history_through_a8_a9(spark):
    """The real trainer's per-batch CE history (operators/neural.py)
    flows through A8 (epoch mean loss decreases every epoch on this
    deterministic run) and A9 (smaller-is-better selection picks the
    final epoch of a converging run)."""
    from theta_spark.operators.neural import train_mlp_scorer

    history: list = []
    train_mlp_scorer(n_docs=30, epochs=3, history=history)
    assert history and all(len(t) == 4 for t in history)

    df = spark.createDataFrame(
        [(0, e, b, loss, bsz) for e, b, loss, bsz in history],
        "run_id int, epoch int, batch int, val_loss double, bsz int",
    )
    ep = epoch_val_metrics(df, ["val_loss"], weight_col="bsz")
    losses = [r.val_loss for r in ep.orderBy("epoch").collect()]
    assert len(losses) == 3
    assert losses[0] > losses[1] > losses[2], losses

    sel = best_model_selection(
        ep.select("run_id", "epoch", F.col("val_loss").alias("score")),
        greater_is_better=False,
        patience=2,
    )
    assert [r.epoch for r in sel.filter(F.col("selected") == 1).collect()] == [2]


# ------------------------------------------------ fixed-point quality LR
def _reference_quality_lr(rows, iters, lr_num, lr_den, threshold=300):
    """Pure-Python replica of train_quality_lr: same features, same
    hard-sigmoid fixed-point GD, all arithmetic exact ints."""
    S = 1_000_000
    feats = []
    for text, nc in rows:
        spaces = len(text) - len(text.replace(" ", ""))
        cnt_the = (len(text) - len(text.replace("the", ""))) // 3
        feats.append(
            (
                (min(nc, 1000) * S) // 1000,
                (spaces * S) // max(nc, 1),
                min((cnt_the * S) // max(spaces + 1, 1), S),
                S,
                1 if nc >= threshold else 0,
            )
        )
    n = len(feats)
    w, hist = [0, 0, 0, 0], []
    for it in range(iters + 1):
        G, acc = [0, 0, 0, 0], 0
        for x1, x2, x3, x4, y in feats:
            x = (x1, x2, x3, x4)
            z = sum(wi * xi for wi, xi in zip(w, x)) // S
            p = min(max(z // 4 + S // 2, 0), S)
            acc += (p >= S // 2) == (y == 1)
            err = p - y * S
            m = 1 if -2 * S < z < 2 * S else 0
            for i in range(4):
                G[i] += (err * m * x[i]) // S
        hist.append((it, *w, acc, n))
        if it < iters:
            w = [wi - (lr_num * G[i]) // (lr_den * n) for i, wi in enumerate(w)]
    return hist


def _qdocs(spark, n=80):
    import hashlib

    rows = []
    for i in range(n):
        h = int(hashlib.md5(f"q{i}".encode()).hexdigest()[:8], 16)
        words = ["the" if (h >> j) % 3 == 0 else f"w{j}" for j in range(4 + h % 40)]
        text = " ".join(words)
        rows.append((i, text, len(text)))
    return rows, spark.createDataFrame(rows, "doc_id long, text string, n_chars long")


def test_quality_lr_matches_python_replica(spark):
    from theta_spark.operators.training import train_quality_lr

    rows, df = _qdocs(spark)
    got = [tuple(r) for r in train_quality_lr(df, iters=4, lr_num=6, lr_den=1).orderBy("iter").collect()]
    want = _reference_quality_lr([(t, nc) for _, t, nc in rows], 4, 6, 1)
    assert got == want


def test_quality_lr_partitioning_invariant(spark):
    """Integer gradients are associative: the trajectory is bit-identical
    under any partitioning — the property that makes distributed training
    deterministic (and oracle-able) at all."""
    from theta_spark.operators.training import train_quality_lr

    _, df = _qdocs(spark)
    a = [tuple(r) for r in train_quality_lr(df.repartition(1), iters=3).orderBy("iter").collect()]
    b = [tuple(r) for r in train_quality_lr(df.repartition(13), iters=3).orderBy("iter").collect()]
    assert a == b


def test_quality_lr_learns(spark):
    """Accuracy at the final weights must beat the zero-weight start on
    the documents-shaped corpus (the label IS a linear function of x_len,
    so GD has something to find)."""
    from theta_spark.operators.training import train_quality_lr

    _, df = _qdocs(spark, n=200)
    hist = train_quality_lr(df, iters=8, label_threshold=120).orderBy("iter").collect()
    assert hist[-1]["acc_num"] > hist[0]["acc_num"]
    # the md5-soup test corpus is noisier than the driver documents table
    # (which reaches ~94% — pinned by the t_train_quality_lr oracle);
    # materially-above-chance is the property asserted here
    assert hist[-1]["acc_num"] >= int(0.6 * hist[-1]["n_rows"])


def test_quality_lr_empty_input(spark):
    from theta_spark.operators.training import train_quality_lr

    df = spark.createDataFrame([], "doc_id long, text string, n_chars long")
    assert train_quality_lr(df, iters=2).count() == 0


def test_quality_lr_rejects_weights_past_exactness_bound(spark):
    """A step size that throws the weights past |w| < 2e9 would make
    w·x overflow exact i64 arithmetic: an error, even under python -O."""
    from theta_spark.operators.training import train_quality_lr

    _, df = _qdocs(spark)
    with pytest.raises(ValueError, match="exactness bound"):
        train_quality_lr(df, iters=2, lr_num=10**12)
