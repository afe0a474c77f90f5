"""Spark engine vs pure-Python reference transcription vs gold
(SURVEY.md §5.2 item 3): the triple sets must be identical (P=R=1.0 —
BASELINE.md demands >= 0.95; the scorer is shared and deterministic, so any
gap isolates a distributed-plumbing bug)."""

from theta_spark.config import ID2LABEL, PipelineConfig
from theta_spark.corpus import gold_mention_rows, gold_triple_rows
from theta_spark.pipeline import extract_mentions_df, extract_triples, with_doc_id
from theta_spark.reference_impl import prf, reference_triples


def test_doc_id_and_sha(spark, corpus50, docs50):
    rows = with_doc_id(corpus50).select("doc_id", "sha256", "text").collect()
    import hashlib

    by_id = {d.doc_id: d for d in docs50}
    assert len(rows) == len(by_id)
    for r in rows:
        assert r.doc_id in by_id
        assert r.sha256 == hashlib.sha256(by_id[r.doc_id].content.encode()).hexdigest()


def test_engine_mentions_match_gold(spark, corpus50, docs50):
    m = extract_mentions_df(corpus50, PipelineConfig())
    got = {(r.doc_id, r.category, r.start, r.mention) for r in m.collect()}
    gold = set(gold_mention_rows(docs50))
    assert got == gold, (sorted(gold - got)[:5], sorted(got - gold)[:5])


def test_engine_triples_match_reference_and_gold(spark, corpus50, docs50):
    engine_rows = extract_triples(corpus50, PipelineConfig()).collect()
    engine = {(r.subj, r.pred, r.obj, r.doc_id) for r in engine_rows}
    ref = reference_triples(docs50)
    gold = set(gold_triple_rows(docs50))
    assert prf(engine, ref) == (1.0, 1.0, 1.0), (sorted(ref - engine)[:5], sorted(engine - ref)[:5])
    assert prf(engine, gold) == (1.0, 1.0, 1.0)


def test_triples_carry_sha256_invariant(spark, corpus50, docs50):
    """input_hint invariant end-to-end: every TRIPLE row (not just mentions)
    carries sha256(content) of its source document."""
    import hashlib

    sha_by_id = {d.doc_id: hashlib.sha256(d.content.encode()).hexdigest() for d in docs50}
    rows = extract_triples(corpus50, PipelineConfig()).collect()
    assert rows
    for r in rows:
        assert r.sha256 == sha_by_id[r.doc_id]


def test_fused_equals_relational_assembly(spark, corpus50):
    """The fused per-doc stage and the relational operators (segment ->
    score_and_decode -> unshift/dedup -> window assembly) must produce
    identical mention and triple sets. A zero-yield document keeps its
    per-doc row, with empty arrays, and projects to no mention or triple."""
    from pyspark.sql import functions as F

    from theta_spark.corpus import CORPUS_SCHEMA
    from theta_spark.operators.extract import score_and_decode
    from theta_spark.operators.merge import dedup_mentions, unshift_mentions
    from theta_spark.operators.segmentation import segment
    from theta_spark.operators.triples import assemble_triples, with_category_names, with_norm
    from theta_spark.pipeline import doc_mentions, doc_triples, extract_docs

    cfg = PipelineConfig()
    empty = spark.createDataFrame(
        [("zy", "empty.py", "c0", "python", "# nothing to extract here\n")], CORPUS_SCHEMA
    )
    docs = with_doc_id(corpus50.unionByName(empty))
    scored = extract_docs(docs, cfg)
    zero_id = "zy:empty.py@c0"
    zero = scored.where(F.col("doc_id") == zero_id).collect()
    assert [(list(r.mentions), list(r.triples)) for r in zero] == [([], [])]
    assert scored.count() == docs.count()

    mentions, triples = doc_mentions(scored), doc_triples(scored)
    assert mentions.where(F.col("doc_id") == zero_id).count() == 0
    assert triples.where(F.col("doc_id") == zero_id).count() == 0

    fused = {tuple(r) for r in triples.collect()}
    assert fused == {tuple(r) for r in assemble_triples(mentions).collect()}

    raw = score_and_decode(segment(docs, "text", cfg.seg_len, cfg.seg_stride), cfg.confidence)
    rel_mentions = with_norm(with_category_names(dedup_mentions(unshift_mentions(raw))))
    m_cols = ["doc_id", "category_id", "start", "end", "mention", "indent"]
    assert {tuple(r) for r in rel_mentions.select(*m_cols).collect()} == {
        tuple(r) for r in mentions.select(*m_cols).collect()
    }
    assert {tuple(r) for r in assemble_triples(rel_mentions).collect()} == {
        f[:4] for f in fused
    }


def test_engine_categories_cover_label_space(spark, corpus50):
    m = extract_mentions_df(corpus50, PipelineConfig())
    cats = {r.category for r in m.select("category").distinct().collect()}
    assert cats == set(ID2LABEL.values())
