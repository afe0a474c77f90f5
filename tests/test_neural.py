"""M1/M2/T1: a REAL (trained) model behind the scorer contract.

Proves the "pluggable scorer" claim with a second implementation: the
numpy MLP (shared hidden layer + two pointer heads, the BertSpanForNer
shape, reference task_ner.py:348-445) trained on corpus segments with
rule_labels supervision, then run through the SAME fused mapInPandas
stage as the rule scorer."""

from __future__ import annotations

import numpy as np
import pytest

from theta_spark.operators.neural import (
    default_mlp_scorer,
    featurize,
    token_label_agreement,
)
from theta_spark.operators.scoring import NUM_LABELS, tokenize_with_offsets


@pytest.fixture(scope="session")
def mlp():
    return default_mlp_scorer()


def test_featurize_offsets_match_tokenizer():
    text = 'def helper(a, b):\n    r0 = u.shared_util(a)\n'
    ids, starts, ends = featurize(text)
    toks, tstarts, tends = tokenize_with_offsets(text)
    assert list(starts) == list(tstarts) and list(ends) == list(tends)
    assert ids.shape == (len(toks), 17)
    assert (ids >= 0).all()


def test_training_is_deterministic():
    from theta_spark.operators.neural import train_mlp_scorer

    a = train_mlp_scorer(n_docs=10, epochs=1)
    b = train_mlp_scorer(n_docs=10, epochs=1)
    assert np.array_equal(a.W1, b.W1) and np.array_equal(a.Ws, b.Ws)


def test_scorer_contract_shape(mlp):
    text = 'import os.path\ndef f(a):\n    x = g(a)\n'
    sp, ep, starts, ends = mlp.score_text(text, visible_start=True)
    n = len(starts)
    assert sp.shape == (n, NUM_LABELS) and ep.shape == (n, NUM_LABELS)
    assert np.allclose(sp.sum(axis=1), 1.0) and np.allclose(ep.sum(axis=1), 1.0)


def test_heldout_token_agreement(mlp):
    """Held-out docs (different generator seed): the trained model must
    reproduce the latent labeling function almost perfectly."""
    s_acc, e_acc = token_label_agreement(mlp, n_docs=30, seed=901)
    assert s_acc >= 0.98, s_acc
    assert e_acc >= 0.98, e_acc


def test_mention_level_agreement(mlp):
    """Doc-level mention F1 vs the rule scorer through the SAME pure-Python
    inference path (segment -> score -> decode -> dedup)."""
    from theta_spark.corpus import doc_rng, generate_doc
    from theta_spark.reference_impl import extract_doc_mentions

    tp = np_ = ng = 0
    for i in range(40):
        d = generate_doc(doc_rng(77, i), i)
        rule = {
            (m["category_id"], m["start"], m["end"])
            for m in extract_doc_mentions(d.content)
        }
        neural = {
            (m["category_id"], m["start"], m["end"])
            for m in extract_doc_mentions(d.content, scorer=mlp)
        }
        tp += len(rule & neural)
        np_ += len(neural)
        ng += len(rule)
    p, r = tp / np_, tp / ng
    f1 = 2 * p * r / (p + r)
    assert f1 >= 0.95, (p, r, f1)


def test_mlp_through_spark_stage(spark, corpus50, mlp):
    """Plug-compatibility: the SAME fused mapInPandas stage, scorer swapped
    — weights ride the closure like a broadcast checkpoint. Mention F1 vs
    the rule-scorer run of the same stage must stay high."""
    from theta_spark.config import PipelineConfig
    from theta_spark.operators.extract import extract_docs_df
    from theta_spark.pipeline import doc_mentions, with_doc_id

    cfg = PipelineConfig()
    docs = with_doc_id(corpus50)
    rule = {
        tuple(r)
        for r in doc_mentions(extract_docs_df(docs, cfg.seg_len, cfg.seg_stride))
        .select("doc_id", "category_id", "start", "end")
        .collect()
    }
    neural = {
        tuple(r)
        for r in doc_mentions(extract_docs_df(docs, cfg.seg_len, cfg.seg_stride, scorer=mlp))
        .select("doc_id", "category_id", "start", "end")
        .collect()
    }
    tp = len(rule & neural)
    p, r = tp / len(neural), tp / len(rule)
    f1 = 2 * p * r / (p + r)
    assert f1 >= 0.95, (p, r, f1)


def test_config_scorer_decoder_plumbing(spark, corpus50):
    """cfg.scorer/cfg.decoder select the head through the PIPELINE API
    (not just the stage): 'mlp' resolves to the trained MLPScorer, unknown
    values fail fast, and the cfg-driven run matches the explicit-scorer
    run of the same stage exactly."""
    import pytest

    from theta_spark.config import PipelineConfig
    from theta_spark.operators.neural import MLPScorer, default_mlp_scorer
    from theta_spark.pipeline import _resolve_scorer, doc_mentions, extract_mentions_df, with_doc_id
    from theta_spark.operators.extract import extract_docs_df

    assert _resolve_scorer(PipelineConfig()) is None
    assert isinstance(_resolve_scorer(PipelineConfig(scorer="mlp")), MLPScorer)
    with pytest.raises(ValueError):
        _resolve_scorer(PipelineConfig(scorer="bert"))

    cfg = PipelineConfig(scorer="mlp")
    via_cfg = {
        tuple(r)
        for r in extract_mentions_df(corpus50, cfg)
        .select("doc_id", "category_id", "start", "end")
        .collect()
    }
    explicit = {
        tuple(r)
        for r in doc_mentions(
            extract_docs_df(
                with_doc_id(corpus50), cfg.seg_len, cfg.seg_stride, scorer=default_mlp_scorer()
            )
        )
        .select("doc_id", "category_id", "start", "end")
        .collect()
    }
    assert via_cfg == explicit
