"""Model checkpoint store + registry (sources/registry.py: S7/S9/O3)."""

import numpy as np

from theta_spark.sources.registry import latest, load_model, registry_df, save_model


def _tiny_scorer():
    from theta_spark.operators.neural import train_mlp_scorer

    return train_mlp_scorer(n_docs=12, epochs=1)


def test_save_load_roundtrip_identical_scores(tmp_path):
    sc = _tiny_scorer()
    path = save_model(sc, str(tmp_path), "mlp", metrics={"f1": 1.0}, ts=1000)
    sc2 = load_model(path)
    sp1, ep1, st1, en1 = sc.score_text("def foo(): bar()")
    sp2, ep2, st2, en2 = sc2.score_text("def foo(): bar()")
    assert np.array_equal(sp1, sp2) and np.array_equal(ep1, ep2)
    assert st1 == st2 and en1 == en2


def test_registry_scan_ordered_and_latest(spark, tmp_path):
    sc = _tiny_scorer()
    p1 = save_model(sc, str(tmp_path), "mlp", ts=1000)
    p2 = save_model(sc, str(tmp_path), "mlp", ts=3000)
    p3 = save_model(sc, str(tmp_path), "other", ts=2000)
    rows = registry_df(spark, str(tmp_path)).collect()
    assert [r.ts for r in rows] == [3000, 2000, 1000]  # O3: newest first
    assert all(r.n_params > 0 for r in rows)
    assert latest(str(tmp_path), "mlp") == p2
    assert latest(str(tmp_path), "other") == p3
    assert latest(str(tmp_path), "absent") is None
    assert p1 != p2


def test_checkpoint_path_resolves_through_config(tmp_path):
    """predict_by_checkpoint parity (SURVEY §3.2): cfg.scorer set to a
    saved .npz path resolves to the reloaded model."""
    from theta_spark.config import PipelineConfig
    from theta_spark.operators.neural import MLPScorer
    from theta_spark.pipeline import _resolve_scorer

    path = save_model(_tiny_scorer(), str(tmp_path), "ckpt")
    assert isinstance(_resolve_scorer(PipelineConfig(scorer=path)), MLPScorer)


def test_loaded_model_plugs_into_fused_stage(spark, corpus50, tmp_path):
    """Checkpoint-store contract end-to-end: weights saved by one driver,
    reloaded, and run through the SAME fused mapInPandas stage produce the
    mentions of the in-memory scorer exactly."""
    from theta_spark.config import PipelineConfig
    from theta_spark.operators.extract import extract_docs_df
    from theta_spark.pipeline import doc_mentions, with_doc_id

    sc = _tiny_scorer()
    path = save_model(sc, str(tmp_path), "mlp")
    sc2 = load_model(path)
    cfg = PipelineConfig()
    docs = with_doc_id(corpus50)

    def run(s):
        return {
            tuple(r)
            for r in doc_mentions(extract_docs_df(docs, cfg.seg_len, cfg.seg_stride, scorer=s))
            .select("doc_id", "category_id", "start", "end")
            .collect()
        }

    assert run(sc) == run(sc2)
