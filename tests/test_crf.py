"""M3 CRF/Viterbi decode: exact-DP correctness vs brute force, BIOES
structural constraints, and the differential against the D3 tag-walk and
the D1 span decode (reference ner_models.py:94-183, decode :178-181)."""

from __future__ import annotations

import numpy as np
import pytest

from theta_spark.config import LABEL2ID, NER_LABELS
from theta_spark.operators.crf import (
    bioes_tagset,
    bioes_transitions,
    brute_force_decode,
    crf_decode_spans,
    spans_to_bioes_emissions,
    viterbi_decode,
)
from theta_spark.operators.scoring import decode_bioes


@pytest.mark.parametrize("seed", range(8))
def test_viterbi_matches_brute_force_unconstrained(seed):
    rng = np.random.default_rng(seed)
    T, K = int(rng.integers(1, 6)), int(rng.integers(2, 5))
    em = rng.standard_normal((T, K))
    tr = rng.standard_normal((K, K))
    st = rng.standard_normal(K)
    en = rng.standard_normal(K)
    path, score = viterbi_decode(em, tr, st, en)
    bpath, bscore = brute_force_decode(em, tr, st, en)
    assert path == bpath
    assert score == pytest.approx(bscore)


@pytest.mark.parametrize("seed", range(4))
def test_viterbi_matches_brute_force_with_bioes_constraints(seed):
    rng = np.random.default_rng(100 + seed)
    tags = bioes_tagset(["x"])  # O, B-x, I-x, E-x, S-x -> K=5
    tr, st, en = bioes_transitions(tags)
    T = int(rng.integers(1, 5))
    em = rng.standard_normal((T, len(tags)))
    path, score = viterbi_decode(em, tr, st, en)
    bpath, bscore = brute_force_decode(em, tr, st, en)
    assert path == bpath and score == pytest.approx(bscore)
    # the winning path is structurally valid BIOES
    assert decode_bioes([tags[i] for i in path]) is not None


def test_viterbi_hand_computed():
    # 2 tags {0, 1}, 3 steps; transitions prefer staying, emissions pull to
    # 1 at t=1: best path is 0,0,0 (transition penalty beats emission gain)
    em = np.array([[2.0, 0.0], [0.0, 1.5], [2.0, 0.0]])
    tr = np.array([[1.0, -2.0], [-2.0, 1.0]])
    path, score = viterbi_decode(em, tr)
    assert path == [0, 0, 0]
    assert score == pytest.approx(2.0 + 1.0 + 0.0 + 1.0 + 2.0)
    # flip: make switching cheap -> path follows emissions
    tr2 = np.array([[0.0, 0.0], [0.0, 0.0]])
    path2, _ = viterbi_decode(em, tr2)
    assert path2 == [0, 1, 0]


def test_bioes_constraints_block_malformed_spans():
    tags = bioes_tagset(["x", "y"])
    tr, st, en = bioes_transitions(tags)
    i = {t: k for k, t in enumerate(tags)}
    # inside-span continuations only, same category
    assert tr[i["B-x"], i["I-x"]] == 0.0
    assert tr[i["B-x"], i["E-x"]] == 0.0
    assert tr[i["B-x"], i["I-y"]] < -1e11
    assert tr[i["B-x"], i["O"]] < -1e11
    assert tr[i["I-x"], i["B-x"]] < -1e11
    # boundary: cannot start inside or end open
    assert st[i["I-x"]] < -1e11 and st[i["E-x"]] < -1e11
    assert en[i["B-x"]] < -1e11 and en[i["I-x"]] < -1e11
    assert st[i["B-x"]] == 0.0 and en[i["E-x"]] == 0.0


def test_crf_decode_spans_matches_tag_walk():
    """Emissions built from known spans: constrained Viterbi must recover
    exactly the spans the D3 BIOES walk reads off the gold tag sequence."""
    tags = bioes_tagset(list(NER_LABELS))
    spans = [("function", 1, 1), ("library", 3, 5), ("call", 7, 8)]
    em = spans_to_bioes_emissions(10, spans, tags)
    assert sorted(crf_decode_spans(em, tags)) == sorted(spans)


def test_crf_spark_stage_differential(spark, corpus50, docs50):
    """decoder='crf' through the full fused Spark stage produces the same
    mention set as the default span decode — the M3/D1 differential."""
    from theta_spark.config import PipelineConfig
    from theta_spark.operators.extract import extract_docs_df
    from theta_spark.pipeline import doc_mentions, with_doc_id

    cfg = PipelineConfig()
    docs = with_doc_id(corpus50)
    span_rows = {
        tuple(r)
        for r in doc_mentions(extract_docs_df(docs, cfg.seg_len, cfg.seg_stride))
        .select("doc_id", "category_id", "start", "end")
        .collect()
    }
    crf_rows = {
        tuple(r)
        for r in doc_mentions(extract_docs_df(docs, cfg.seg_len, cfg.seg_stride, decoder="crf"))
        .select("doc_id", "category_id", "start", "end")
        .collect()
    }
    assert span_rows == crf_rows
    assert len(span_rows) > 100
