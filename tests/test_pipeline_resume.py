"""Checkpoint/resume semantics (north rule: every stage resumable with
per-stage lineage + metrics)."""

import json
import os

from theta_spark.pipeline import run_checkpointed, run_pipeline, stage_complete


def test_run_checkpointed_writes_manifest(spark, tmp_path):
    wd = str(tmp_path)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(10).withColumnRenamed("id", "x")

    out = run_checkpointed(spark, wd, "s1", build)
    assert out.count() == 10
    assert calls["n"] == 1
    assert stage_complete(wd, "s1")
    manifest = json.load(open(os.path.join(wd, "s1", "_STAGE_MANIFEST.json")))
    assert manifest["rows_out"] == 10
    assert "wall_ms" in manifest and "schema" in manifest

    # resume: build NOT called again
    out2 = run_checkpointed(spark, wd, "s1", build)
    assert out2.count() == 10
    assert calls["n"] == 1

    # resume=False: rebuild
    run_checkpointed(spark, wd, "s1", build, resume=False)
    assert calls["n"] == 2


def test_full_pipeline_resume(spark, corpus50, tmp_path):
    wd = str(tmp_path / "run")
    r1 = run_pipeline(spark, corpus50, wd)
    n_triples = r1["triples"].count()
    n_nodes = r1["nodes"].count()
    assert n_triples > 0 and n_nodes > 0
    for stage in ["mentions", "triples", "nodes", "edge_provenance", "edges"]:
        assert stage_complete(wd, stage)

    # resume from snapshots: same results without recompute (pass a corpus
    # that would fail if evaluated)
    bad = corpus50.filter("1=0")
    r2 = run_pipeline(spark, bad, wd)
    assert r2["triples"].count() == n_triples
    assert r2["nodes"].count() == n_nodes


def test_edges_aggregate_hot_entity(spark, corpus50, tmp_path):
    wd = str(tmp_path / "run2")
    r = run_pipeline(spark, corpus50, wd)
    edges = {(e.subj, e.pred, e.obj): e.n_docs for e in r["edges"].collect()}
    hot = [(k, v) for k, v in edges.items() if k[2] == "shared_util" and k[1] == "calls"]
    assert hot, "hot entity shared_util must appear as a call target"


def _assert_provenance_audits(stages, sha_by_id):
    """Every edge_provenance row's sha256 equals sha256(content) of its
    source document, and the edges table is exactly the provenance
    aggregation (same keys, same doc counts)."""
    from collections import Counter

    prov = stages["edge_provenance"].collect()
    assert prov
    for row in prov:
        assert row.sha256 == sha_by_id[row.doc_id], row
    agg = Counter((p.subj, p.pred, p.obj) for p in prov)
    edges = {(e.subj, e.pred, e.obj): e.n_docs for e in stages["edges"].collect()}
    assert edges == dict(agg)


def test_edge_provenance_carries_sha_invariant(spark, corpus50, docs50, tmp_path):
    """The graph layer keeps the input_hint sha256 invariant: every
    edge_provenance row's sha256 equals sha256(content) of its source
    document, and the edges table is exactly the provenance aggregation
    (so every edge is auditable back to document contents)."""
    import hashlib

    wd = str(tmp_path / "run3")
    r = run_pipeline(spark, corpus50, wd)
    sha_by_id = {d.doc_id: hashlib.sha256(d.content.encode()).hexdigest() for d in docs50}
    _assert_provenance_audits(r, sha_by_id)


def test_refresh_edge_provenance_audits(spark, docs50, tmp_path):
    """The same audit on a refresh, whose edge_provenance resolves as
    base − retired ∪ delta while edges aggregates the canonical triple
    stream: with changed, deleted and new docs, and a new doc whose name
    merges an unchanged doc's entity cluster (re-keying its base rows)."""
    import hashlib

    from theta_spark.corpus import CORPUS_SCHEMA, corpus_rows
    from theta_spark.pipeline import run_pipeline_incremental

    x_doc = ("cm", "x.py", "c1", "python",
             "class GammaHolder:\n    def gamma_delta_utils(self):\n        return 1\n")
    y_doc = ("cm", "y.py", "c1", "python",
             "class GammaKeeper:\n    def gamma_delta_util(self):\n        return 2\n")
    rows = corpus_rows(docs50)
    v1 = [x_doc] + rows[:40]
    v2 = [x_doc, y_doc] + rows[40:] + [
        (repo, path, commit, lang, content + "\n# edit\n") if i % 5 == 0 else (repo, path, commit, lang, content)
        for i, (repo, path, commit, lang, content) in enumerate(rows[:40])
        if i % 9 != 1
    ]
    w1, w2 = str(tmp_path / "v1"), str(tmp_path / "v2")
    run_pipeline(spark, spark.createDataFrame(v1, CORPUS_SCHEMA), w1)
    r = run_pipeline_incremental(spark, spark.createDataFrame(v2, CORPUS_SCHEMA), w2, w1)
    sha_by_id = {
        f"{repo}:{path}@{commit}": hashlib.sha256(content.encode()).hexdigest()
        for repo, path, commit, _, content in v2
    }
    _assert_provenance_audits(r, sha_by_id)
    x_rows = r["edge_provenance"].where("doc_id = 'cm:x.py@c1'").collect()
    assert "gamma_delta_util" in {name for p in x_rows for name in (p.subj, p.obj)}


LINEAGE_SCHEMA = "struct<file:string,rows_out:bigint,fingerprint:bigint>"


def _fingerprint(df):
    """The lineage row of each file of `df`: row count and the sum of the
    rows' bounded xxhash64 over all columns."""
    from pyspark.sql import functions as F

    return df.groupBy(F.input_file_name().alias("file")).agg(
        F.count(F.lit(1)).alias("rows_out"),
        F.sum(F.pmod(F.xxhash64(*df.columns), F.lit(1_000_003))).alias("fingerprint"),
    )


def test_per_partition_lineage_and_audit(spark, tmp_path):
    """North rule: per-partition lineage + metrics. Each stage records one
    row per output file (rows, content fingerprint); audit_stage diffs a
    re-fingerprint of the snapshot against the record (clean snapshot ->
    empty diff; corrupted snapshot -> the damaged file surfaces)."""
    from theta_spark.pipeline import audit_stage, run_checkpointed, stage_lineage

    wd = str(tmp_path)
    run_checkpointed(
        spark, wd, "s1",
        lambda: spark.range(1000).selectExpr("id AS x", "id % 7 AS y").repartition(4),
    )
    lin = stage_lineage(spark, wd, "s1")
    rows = lin.collect()
    assert len(rows) == 4, [r.file for r in rows]
    assert sum(r.rows_out for r in rows) == 1000
    assert all(r.fingerprint is not None for r in rows)
    assert audit_stage(spark, wd, "s1").count() == 0

    # the _lineage format: one parquet file, a fixed schema, and rows equal
    # to a fresh per-file re-fingerprint of the snapshot
    assert lin.schema.simpleString() == LINEAGE_SCHEMA
    assert os.listdir(os.path.join(wd, "s1", "_lineage")) == ["part-00000.parquet"]
    fresh = _fingerprint(spark.read.parquet(os.path.join(wd, "s1"))).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, fresh))

    # a zero-row stage still records a readable, empty lineage table
    run_checkpointed(spark, wd, "s0", lambda: spark.range(0).selectExpr("id AS x"))
    empty = stage_lineage(spark, wd, "s0")
    assert empty.schema.simpleString() == LINEAGE_SCHEMA
    assert empty.count() == 0
    assert os.listdir(os.path.join(wd, "s0", "_lineage")) == ["part-00000.parquet"]
    assert audit_stage(spark, wd, "s0").count() == 0

    # corrupt one data file -> audit flags exactly the damaged partitions
    import glob

    victim = sorted(glob.glob(os.path.join(wd, "s1", "part-*.parquet")))[0]
    os.remove(victim)
    bad = audit_stage(spark, wd, "s1").collect()
    assert len(bad) >= 1


def test_empty_corpus_pipeline_and_resume(spark, tmp_path):
    """A corpus yielding zero mentions must produce empty (but readable)
    stage snapshots — including the PARTITIONED nodes/edges stages, whose
    zero-row write emits no parquet data files (schema comes from the
    manifest) — and resume cleanly."""
    from theta_spark.config import PipelineConfig
    from theta_spark.corpus import CORPUS_SCHEMA
    from theta_spark.pipeline import run_pipeline

    rows = [("r", "a.py", "c1", "python", "   \n\n  "), ("r", "b.py", "c2", "python", "#")]
    corpus = spark.createDataFrame(rows, CORPUS_SCHEMA)
    wd = str(tmp_path / "wd")
    stages = run_pipeline(spark, corpus, wd, PipelineConfig(), resume=False)
    assert {k: v.count() for k, v in stages.items()} == {
        "mentions": 0, "triples": 0, "nodes": 0, "canon_map": 0,
        "edge_provenance": 0, "edges": 0,
        # the scored-docs registry still records both docs: zero-yield docs
        # are exactly what it exists to witness (incremental delta)
        "scored_docs": 2,
    }
    resumed = run_pipeline(spark, corpus, wd, PipelineConfig(), resume=True)
    assert resumed["edges"].count() == 0
    assert set(resumed["edges"].columns) == {"subj", "pred", "obj", "n_docs"}
    # lineage audit works on the empty partitioned snapshot too
    from theta_spark.pipeline import audit_stage, run_pipeline_incremental

    assert audit_stage(spark, wd, "edges").count() == 0

    # refreshing to an empty corpus retires both docs; the counts with no
    # matching key are 0, not NULL
    inc = run_pipeline_incremental(spark, corpus.limit(0), str(tmp_path / "wd2"), wd)
    assert [tuple(r) for r in inc["delta_stats"].collect()] == [(0, 0, 2)]


def test_once_memoizes_failures():
    """Commit threads share memoized stage inputs (_once): when make()
    raises, it still runs once, and every concurrent caller gets its
    error."""
    import sys
    import threading
    import time

    import pytest

    from theta_spark.pipeline import _once

    calls = []
    n = 16  # more threads than cores
    barrier = threading.Barrier(n, timeout=30)

    def make():
        calls.append(1)
        time.sleep(0.05)  # callers arrive while the first one builds
        raise RuntimeError("build failed")

    get = _once(make)
    errors = []

    def caller():
        barrier.wait()
        try:
            get()
        except RuntimeError as e:
            errors.append(str(e))

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=caller) for _ in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert len(calls) == 1
    assert errors == ["build failed"] * n
    with pytest.raises(RuntimeError, match="build failed"):
        get()
    assert len(calls) == 1
