"""X6 augmentation (operators/augment.py vs reference theta/utils/augment.py).

The reference draws with `random`; ours replays md5-derived draws, so the
differential here transcribes the reference's SPLICE semantics (what the
op does once positions/choices are fixed) and feeds it the engine's own
deterministic draws — the op logic is what's under test, not the RNG.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from theta_spark.operators.augment import (
    PAD,
    augment_span_freq,
    augment_tokens,
    bucketize_index,
    vocab_index,
    weighted_choice,
)


def h32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def py_token_ops(doc_id: str, text: str, seed: int):
    """Reference splice semantics (augment.py:96-104 del, :139-143 swap)
    with the engine's deterministic draws."""
    toks = text.split(" ")
    n = len(toks)
    p1 = h32(f"{doc_id}#p1#{seed}") % n  # 0-based here
    p2 = h32(f"{doc_id}#p2#{seed}") % n
    del_toks = toks[:p1] + [PAD] + toks[p1 + 1 :]
    swap_toks = list(toks)
    swap_toks[p1], swap_toks[p2] = swap_toks[p2], swap_toks[p1]
    return " ".join(del_toks), " ".join(swap_toks)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        ("d1", "def foo ( bar ) : return bar"),
        ("d2", "class Baz : pass"),
        ("d3", "import os import sys"),
        ("d4", "x = 1"),
        ("d5", "single"),
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_del_swap_match_reference_splice(docs):
    out = {r["doc_id"]: r for r in augment_tokens(docs, ops=("del", "swap"), seed=7).collect()}
    for doc_id, text in [(r["doc_id"], r["text"]) for r in docs.collect()]:
        d, s = py_token_ops(doc_id, text, seed=7)
        assert out[doc_id]["del_text"] == d, doc_id
        assert out[doc_id]["swap_text"] == s, doc_id


def test_del_preserves_token_count(docs):
    out = augment_tokens(docs, ops=("del",), seed=1)
    bad = out.where(F.size(F.split("del_text", " ")) != F.size(F.split("text", " "))).count()
    assert bad == 0  # augment.py:96-104 keeps sequence length via PAD


def test_repl_token_comes_from_corpus_vocab(docs):
    out = augment_tokens(docs, ops=("repl",), seed=3).collect()
    vocab = {t for r in docs.collect() for t in r["text"].split(" ")}
    for r in out:
        for tok in r["repl_text"].split(" "):
            assert tok in vocab


def test_weighted_choice_matches_cumulative_intervals(spark, docs):
    """The bucketed equi-join must pick exactly the interval owner a
    direct cumsum lookup picks (np.random.choice(p=freqs) analog)."""
    cum = vocab_index(docs).collect()
    intervals = sorted([(r["lo"], r["hi"], r["token"]) for r in cum])
    rows = spark.range(200).select(
        F.col("id").cast("string").alias("rid"), (F.col("id") / 200.0).alias("_u")
    )
    got = {
        r["rid"]: r["pick"]
        for r in weighted_choice(rows, bucketize_index(vocab_index(docs)), "_u", "pick").collect()
    }
    for i in range(200):
        u = i / 200.0
        want = next(tok for lo, hi, tok in intervals if lo <= u < hi)
        assert got[str(i)] == want, u


def test_span_freq_offsets_stay_valid(spark, corpus50, docs50):
    """After span replacement every mention must still be the exact
    substring of the rewritten text at its (shifted) offset — the char-
    offset form of the reference's label-consistency walk
    (augment.py:196-208)."""
    from theta_spark.corpus import GOLD_MENTIONS_SCHEMA, gold_mention_rows

    from theta_spark.pipeline import with_doc_id

    docs = with_doc_id(corpus50)  # (doc_id, ..., text)
    mentions = spark.createDataFrame(gold_mention_rows(docs50), GOLD_MENTIONS_SCHEMA)
    aug_docs, aug_mentions = augment_span_freq(docs, mentions, seed=11, text_col="text")
    joined = aug_mentions.join(aug_docs.select("doc_id", "aug_text"), "doc_id")
    bad = joined.where(
        F.expr("substring(aug_text, start + 1, length(mention))") != F.col("mention")
    )
    assert bad.count() == 0, bad.limit(5).collect()
    # replacement spans come from the same category's vocab
    cats = {
        (r["category"], r["mention"]) for r in mentions.select("category", "mention").distinct().collect()
    }
    for r in aug_mentions.select("category", "mention").distinct().collect():
        assert (r["category"], r["mention"]) in cats


def test_span_freq_docs_without_mentions_pass_through(spark):
    docs = spark.createDataFrame(
        [("a", "hello world"), ("b", "no mentions here")], "doc_id string, content string"
    )
    mentions = spark.createDataFrame(
        [("a", "function", 0, "hello")], "doc_id string, category string, start int, mention string"
    )
    aug_docs, _ = augment_span_freq(docs, mentions, seed=5)
    row = {r["doc_id"]: r["aug_text"] for r in aug_docs.collect()}
    assert row["b"] == "no mentions here"


def test_weighted_choice_is_broadcast_hash_join(docs):
    """The vocab lookup must be a broadcast HASH join keyed on the draw's
    bucket (equality), with the interval test as a residual filter — not a
    BroadcastNestedLoopJoin range scan, which would be O(rows x vocab) at
    100 TB."""
    import contextlib
    import io

    import re

    out = augment_tokens(docs, ops=("repl",), seed=3)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    p = buf.getvalue()
    assert "BroadcastHashJoin" in p
    # a nested-loop join is allowed ONLY inside the vocab-index build:
    # the 1-row grand-total cross (its prefix sum is a window over the
    # per-bucket totals, with no join). Any BNLJ whose condition touches
    # the per-ROW draw/interval columns (u / lo / hi / bucket) would be
    # the O(rows x vocab) scan this test forbids.
    for m in re.finditer(r"\(\d+\) BroadcastNestedLoopJoin[^(]*", p):
        section = m.group(0)
        cond = re.search(r"Join condition: ([^\n]*)", section)
        cond_txt = cond.group(1) if cond else ""
        assert not re.search(r"\b(u|lo|hi|bucket)#", cond_txt), section
