"""Streaming incremental KG ingest (streaming/ingest.py): every epoch is a
pipeline refresh against the previous epoch, committed into its own
workdir `out/epoch=<id>` — changed and reverted docs are re-scored,
unchanged re-arrivals are not, crash replays resume, chained stages
flatten at cfg.delta_max_chain and the epochs below a flattened epoch
are deleted; the batch graph finalize runs over the latest epoch."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from theta_spark.config import PipelineConfig
from theta_spark.corpus import CORPUS_SCHEMA, corpus_rows, generate_corpus
from theta_spark.pipeline import (
    audit_stage,
    extract_mentions_df,
    extract_triples,
    read_stage,
    read_stage_local,
    stage_complete,
    stage_manifest,
    with_doc_id,
)
from theta_spark.streaming.ingest import (
    CHAINED,
    COMMITTED,
    attach_stream,
    finalize_graph,
    latest_epoch,
    process_corpus_batch,
)

MENTION_COLS = ["doc_id", "sha256", "category", "start", "end", "mention", "norm"]
TRIPLE_COLS = ["subj", "pred", "obj", "doc_id", "sha256"]


def _run_wave(spark, src, out, ckpt, cfg=None):
    stream = spark.readStream.schema(CORPUS_SCHEMA).parquet(src)
    q = attach_stream(stream, out, ckpt, cfg)
    q.awaitTermination(180)


def _run_epoch(spark, out, epoch, rows, cfg=None):
    process_corpus_batch(spark.createDataFrame(rows, schema=CORPUS_SCHEMA), out, epoch, cfg)


def _rows(df, cols=None):
    return {tuple(r) for r in (df.select(*cols) if cols else df).collect()}


def _resolved(spark, out, stage, cols=None):
    return _rows(read_stage(spark, latest_epoch(out), stage), cols)


def _epoch(out, e):
    return os.path.join(out, f"epoch={e}")


def _epoch_dirs(out):
    return sorted(d for d in os.listdir(out) if d.startswith("epoch="))


def _delta_stats(spark, out, e):
    return read_stage(spark, _epoch(out, e), "delta_stats").collect()[0]


def _mutate(row, tag):
    return (row[0], row[1], row[2], row[3],
            row[4] + f"\ndef mutated_{tag}(x):\n    return x\n")


def _doc_id(row):
    return f"{row[0]}:{row[1]}@{row[2]}"


def test_incremental_stream_two_waves(spark, tmp_path):
    docs = generate_corpus(15, seed=42)
    rows_v1 = corpus_rows(docs)
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # wave 1: the full corpus v1
    spark.createDataFrame(rows_v1, schema=CORPUS_SCHEMA).write.mode("overwrite").parquet(src)
    _run_wave(spark, src, out, ckpt)
    assert len(_resolved(spark, out, "scored_docs")) == 15

    # wave 2: 1 changed doc (same repo/path/commit => same doc_id, new
    # sha), 1 changed-to-EMPTY doc (its v2 yields nothing), 1 brand-new
    # doc, 2 unchanged re-arrivals
    changed = rows_v1[0]
    changed_v2 = (changed[0], changed[1], changed[2], changed[3],
                  changed[4] + "\ndef extra_fn(x):\n    return x\n")
    emptied = rows_v1[1]
    emptied_v2 = (emptied[0], emptied[1], emptied[2], emptied[3], "# nothing here\n")
    new_doc = ("wave2repo", "brand_new.py", "c9", "python",
               "def wave_two_fn(a, b):\n    return a + b\n")
    wave2 = [changed_v2, emptied_v2, new_doc, rows_v1[2], rows_v1[3]]
    spark.createDataFrame(wave2, schema=CORPUS_SCHEMA).write.mode("append").parquet(src)
    _run_wave(spark, src, out, ckpt)
    assert latest_epoch(out) == _epoch(out, 1)

    # delta-proportional: epoch 1 scored ONLY the 2 changed + 1 new doc;
    # unchanged re-arrivals and the 10 docs that did not arrive cost no
    # scoring, and nothing is deleted
    scored = read_stage_local(spark, _epoch(out, 1), "scored_docs")
    assert {r.doc_id for r in scored.collect()} == {
        _doc_id(changed), _doc_id(emptied), _doc_id(new_doc)
    }
    stats = _delta_stats(spark, out, 1)
    assert (stats.n_docs, stats.n_extracted, stats.n_retired) == (16, 3, 2)

    # the resolved latest epoch equals a full batch recompute on the
    # FINAL corpus (12 unchanged v1 + changed v2 + emptied v2 + new doc)
    final_rows = [changed_v2, emptied_v2, new_doc] + rows_v1[2:]
    final_corpus = spark.createDataFrame(final_rows, schema=CORPUS_SCHEMA)
    cfg = PipelineConfig()
    got = _resolved(spark, out, "triples", TRIPLE_COLS)
    assert got == _rows(extract_triples(final_corpus, cfg), TRIPLE_COLS)
    assert _resolved(spark, out, "mentions", MENTION_COLS) == _rows(
        extract_mentions_df(final_corpus, cfg), MENTION_COLS
    )

    # the changed-to-empty doc's v1 rows are retired, not resurrected
    assert not [t for t in got if t[3] == _doc_id(emptied)]

    # graph finalize over the latest epoch == batch graph layer on the
    # final corpus
    gdir = str(tmp_path / "graph")
    stages = finalize_graph(spark, out, gdir)
    from theta_spark.pipeline import build_nodes_edges

    _, batch_edges, _ = build_nodes_edges(
        extract_triples(final_corpus, cfg), extract_mentions_df(final_corpus, cfg), cfg
    )
    cols = ["subj", "pred", "obj", "n_docs"]
    assert _rows(stages["edges"], cols) == _rows(batch_edges, cols)


def test_stream_revert_is_rescored(spark, tmp_path):
    """A doc that goes v1 -> v2 -> v1 over three epochs resolves to its v1
    rows: the revert epoch re-scores exactly that doc. (Holding every
    pair ever scored as 'seen' would skip the revert and keep v2's rows.)"""
    rows = corpus_rows(generate_corpus(6, seed=11))
    out = str(tmp_path / "out")
    doc0_v2 = _mutate(rows[0], "a")
    _run_epoch(spark, out, 0, rows)
    _run_epoch(spark, out, 1, [doc0_v2])
    _run_epoch(spark, out, 2, [rows[0]])

    final = spark.createDataFrame(rows, schema=CORPUS_SCHEMA)
    assert _resolved(spark, out, "triples", TRIPLE_COLS) == _rows(
        extract_triples(final), TRIPLE_COLS
    )
    assert _resolved(spark, out, "mentions", MENTION_COLS) == _rows(
        extract_mentions_df(final), MENTION_COLS
    )
    want = _rows(with_doc_id(spark.createDataFrame([rows[0]], schema=CORPUS_SCHEMA)),
                 ["doc_id", "sha256"])
    assert _rows(read_stage_local(spark, _epoch(out, 2), "scored_docs")) == want
    stats = _delta_stats(spark, out, 2)
    assert (stats.n_extracted, stats.n_retired) == (1, 1)


def test_epoch_replay_idempotent_incremental(spark, tmp_path):
    """A crash-replayed epoch sees the same prior and resumes from its
    manifests: identical rows, no duplicates, no empty-delta erasure. An
    unchanged batch as a new epoch scores nothing."""
    docs = generate_corpus(8, seed=3)
    out = str(tmp_path / "out")
    rows = corpus_rows(docs)
    _run_epoch(spark, out, 0, rows)
    first = {s: _resolved(spark, out, s) for s in CHAINED}
    assert len(first["scored_docs"]) == 8 and first["triples"]

    # replay epoch 0 verbatim: identical outputs
    _run_epoch(spark, out, 0, rows)
    assert {s: _resolved(spark, out, s) for s in CHAINED} == first

    # an unchanged corpus as epoch 1 scores nothing
    _run_epoch(spark, out, 1, rows)
    assert latest_epoch(out) == _epoch(out, 1)
    assert read_stage_local(spark, _epoch(out, 1), "scored_docs").count() == 0
    stats = _delta_stats(spark, out, 1)
    assert (stats.n_docs, stats.n_extracted, stats.n_retired) == (8, 0, 0)
    assert {s: _resolved(spark, out, s) for s in CHAINED} == first


def test_compact_epochs_preserves_registry_resolution_and_delta(spark, tmp_path, monkeypatch):
    """~20 epochs under a small cfg.delta_max_chain: every chained stage
    stays below the bound, only O(delta_max_chain) epoch dirs remain, and
    resolution (every `bound` epochs and at the end) and the delta of a
    later epoch match an unflattened control copy. A replay right after a
    flatten resumes without scoring."""
    bound = 4
    small, control_cfg = PipelineConfig(delta_max_chain=bound), PipelineConfig(delta_max_chain=None)
    rows = corpus_rows(generate_corpus(16, seed=9))
    out, control = str(tmp_path / "out"), str(tmp_path / "control")

    def run_both(epoch, wave):
        _run_epoch(spark, out, epoch, wave, small)
        _run_epoch(spark, control, epoch, wave, control_cfg)
        latest = latest_epoch(out)
        assert latest == _epoch(out, epoch)
        for stage in CHAINED:
            assert stage_manifest(latest, stage).get("delta_depth", 0) < bound
        assert len(_epoch_dirs(out)) <= bound

    def resolved(target):
        return {stage: _resolved(spark, target, stage) for stage in CHAINED}

    def manifest_mtimes(workdir):
        return {s: os.stat(os.path.join(workdir, s, "_STAGE_MANIFEST.json")).st_mtime_ns
                for s in COMMITTED}

    # epochs 0..13: introduce one new doc each plus a re-arrival of the
    # previous one; epochs 14..17: churn — doc0 v2, doc0 v3, doc1 v2,
    # doc2 v2 (doc0 changes twice)
    doc0_v2, doc0_v3 = _mutate(rows[0], "a"), _mutate(rows[0], "b")
    waves = [[rows[e]] + ([rows[e - 1]] if e else []) for e in range(14)]
    waves += [[doc0_v2, rows[5]], [doc0_v3], [_mutate(rows[1], "c"), rows[7]],
              [_mutate(rows[2], "d")]]
    for e, wave in enumerate(waves):
        run_both(e, wave)
        if e == 16:
            # epoch 16 reached the bound: every chained stage is flat and
            # the epochs below it are gone
            assert _epoch_dirs(out) == ["epoch=16"]
            assert not any(stage_manifest(_epoch(out, 16), s).get("delta_base") for s in CHAINED)
            # a replay right after the flatten resumes: no scoring, no
            # rewrite of a committed stage
            marks = manifest_mtimes(_epoch(out, 16))

            def no_scoring(*a, **k):
                raise AssertionError("a resumed epoch must not score")

            with monkeypatch.context() as m:
                m.setattr("theta_spark.pipeline.extract_docs", no_scoring)
                _run_epoch(spark, out, 16, wave, small)
            assert manifest_mtimes(_epoch(out, 16)) == marks
        if e % bound == 0:
            assert resolved(out) == resolved(control)
    assert resolved(out) == resolved(control)
    assert _epoch_dirs(out) == ["epoch=16", "epoch=17"]
    assert len(_epoch_dirs(control)) == 18

    # epoch 18 on both copies: 1 brand-new doc, 1 changed doc, 1 unchanged
    # re-arrival, and doc0 REVERTED to its superseded v2 content, which
    # is a change against doc0's current v3 and so re-scored
    new_doc = ("cmpct", "fresh.py", "c1", "python",
               "def fresh_fn(a):\n    return a\n")
    wave18 = [new_doc, _mutate(rows[3], "e"), rows[4], doc0_v2]
    run_both(18, wave18)

    def epoch18(target):
        scored = read_stage_local(spark, _epoch(target, 18), "scored_docs")
        return {r.doc_id for r in scored.collect()}

    got = epoch18(out)
    assert got == epoch18(control) == {_doc_id(new_doc), _doc_id(rows[3]), _doc_id(rows[0])}
    assert _delta_stats(spark, out, 18) == _delta_stats(spark, control, 18)
    assert resolved(out) == resolved(control)

    # a replay of epoch 18 gives the same delta and rows
    _run_epoch(spark, out, 18, wave18, small)
    assert epoch18(out) == got
    assert resolved(out) == resolved(control)


def test_stream_cardinality_hll_matches_batch_and_survives_compaction(spark, tmp_path):
    """The cumulative HLL register stage equals the batch sketch over
    every content version (doc_id, sha256) the waves delivered — after
    adds, a change, an unchanged re-arrival, a revert, a replayed epoch,
    and the deletion of the epochs below a flattened one."""
    from theta_spark.functions.sketch import hll_estimate
    from theta_spark.streaming.ingest import HLL_B, read_stream_cardinality

    cfg = PipelineConfig(delta_max_chain=1)  # every refresh flattens
    rows_v1 = corpus_rows(generate_corpus(12, seed=7))
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    ch = rows_v1[0]
    wave2 = [
        (ch[0], ch[1], ch[2], ch[3], ch[4] + "\ndef tail():\n    pass\n"),
        ("w2", "new.py", "c1", "python", "def f():\n    return 1\n"),
        rows_v1[1],  # unchanged re-arrival: no new version
    ]
    wave3 = [ch, ("w3", "new.py", "c1", "python", "def g():\n    return 2\n")]  # revert + new
    waves = [rows_v1, wave2, wave3]

    def expect(n_waves):
        ingested = spark.createDataFrame(
            [r for w in waves[:n_waves] for r in w], schema=CORPUS_SCHEMA
        )
        vkey = F.concat_ws("|", "doc_id", "sha256").alias("vkey")
        return hll_estimate(with_doc_id(ingested).select(vkey), "vkey", b=HLL_B).collect()[0]

    def got():
        return read_stream_cardinality(spark, out).collect()[0]

    for i, wave in enumerate(waves):
        spark.createDataFrame(wave, schema=CORPUS_SCHEMA).write.mode("append").parquet(src)
        _run_wave(spark, src, out, ckpt, cfg)
        exp = expect(i + 1)
        g = got()
        assert (g.s_scaled, g.est, g.v_empty) == (exp.s_scaled, exp.est, exp.v_empty)
        # retention: only the latest (flattened) epoch is kept
        assert _epoch_dirs(out) == [f"epoch={i}"]
    assert exp.est >= 1  # 15 versions; HLL at m=256 lands near it

    # replay the last epoch (crash redelivery): same sketch
    _run_epoch(spark, out, 2, wave3, cfg)
    assert got().s_scaled == exp.s_scaled


def test_stream_epoch_stages_commit_with_manifests(spark, tmp_path):
    """Every stage of every kept epoch — delta-referencing or flattened —
    has a manifest, and audit_stage finds no file that differs from its
    recorded lineage."""
    rows = corpus_rows(generate_corpus(8, seed=5))
    out = str(tmp_path / "out")
    cfg = PipelineConfig(delta_max_chain=3)
    waves = [rows[:6], [_mutate(rows[0], "x"), rows[6]], [rows[0], rows[7]], [rows[1]]]
    for e, wave in enumerate(waves):
        _run_epoch(spark, out, e, wave, cfg)
    assert _epoch_dirs(out) == ["epoch=3"] and not any(
        stage_manifest(_epoch(out, 3), s).get("delta_base") for s in CHAINED
    )
    _run_epoch(spark, out, 4, [_mutate(rows[2], "y")], cfg)
    for d in _epoch_dirs(out):
        workdir = os.path.join(out, d)
        stages = sorted(s for s in os.listdir(workdir) if not s.startswith(("_", ".")))
        assert stages == sorted(COMMITTED + ("delta_stats",)), (d, stages)
        for stage in stages:
            assert stage_complete(workdir, stage), (d, stage)
            assert audit_stage(spark, workdir, stage).count() == 0, (d, stage)
    assert stage_manifest(_epoch(out, 4), "triples")["delta_base"] == _epoch(out, 3)


def test_replay_after_a_crash_in_retention_resumes(spark, tmp_path, monkeypatch):
    """A crash while the epochs below a flattened epoch are deleted
    leaves a stream that still resolves: they go newest first, so every
    epoch left behind keeps its whole chain. A replay of the flattened
    epoch resumes from its own manifests without reading below it, so it
    succeeds even when the lowest epoch is gone and those above it are
    not, and it finishes the retention."""
    bound = 4
    cfg = PipelineConfig(delta_max_chain=bound)
    rows = corpus_rows(generate_corpus(6, seed=5))
    out = str(tmp_path / "out")
    for e in range(bound):
        _run_epoch(spark, out, e, [rows[e]], cfg)
    flat = [_mutate(rows[0], "a"), rows[bound]]

    real_rmtree, deleted = shutil.rmtree, []

    def crash_after_one(path, *a, **k):
        # stage writes delete their own dirs too; only epoch dirs count
        if os.path.dirname(path) == out:
            if deleted:
                raise OSError("crash during retention")
            deleted.append(path)
        real_rmtree(path, *a, **k)

    with monkeypatch.context() as m:
        m.setattr("theta_spark.streaming.ingest.shutil.rmtree", crash_after_one)
        with pytest.raises(OSError):
            _run_epoch(spark, out, bound, flat, cfg)
    assert deleted == [_epoch(out, bound - 1)]
    assert not any(stage_manifest(_epoch(out, bound), s).get("delta_base") for s in CHAINED)
    want = {s: _resolved(spark, out, s) for s in CHAINED}
    for d in _epoch_dirs(out):
        for s in CHAINED:
            read_stage(spark, os.path.join(out, d), s).collect()

    # the lowest epoch is gone as well, the ones above it are not
    shutil.rmtree(_epoch(out, 0))

    def no_scoring(*a, **k):
        raise AssertionError("a committed epoch must not score")

    with monkeypatch.context() as m:
        m.setattr("theta_spark.pipeline.extract_docs", no_scoring)
        _run_epoch(spark, out, bound, flat, cfg)
    assert _epoch_dirs(out) == [f"epoch={bound}"]
    assert {s: _resolved(spark, out, s) for s in CHAINED} == want
    final = spark.createDataFrame([flat[0]] + rows[1 : bound + 1], schema=CORPUS_SCHEMA)
    assert _resolved(spark, out, "triples", TRIPLE_COLS) == _rows(
        extract_triples(final), TRIPLE_COLS
    )


def test_old_stream_layout_is_refused(spark, tmp_path):
    """An out_dir in the older per-stage layout (out/<stage>/epoch=<id>)
    has no epoch workdirs; ingesting into it would silently start a new
    stream that drops every earlier doc, so it fails instead."""
    out = tmp_path / "out"
    (out / "scored_docs" / "epoch=0").mkdir(parents=True)
    rows = corpus_rows(generate_corpus(2, seed=1))
    with pytest.raises(ValueError, match="old per-stage layout"):
        _run_epoch(spark, str(out), 1, rows)
    assert _epoch_dirs(str(out)) == []
