"""Streaming bridge: the pipeline's refresh composed under foreachBatch
with availableNow, reading a file-source corpus stream."""

import glob

from theta_spark.corpus import CORPUS_SCHEMA, corpus_rows, generate_corpus
from theta_spark.pipeline import read_stage
from theta_spark.streaming import attach_stream
from theta_spark.streaming.ingest import latest_epoch


def test_foreach_batch_extraction(spark, tmp_path):
    docs = generate_corpus(20, seed=42)
    src = str(tmp_path / "src")
    spark.createDataFrame(corpus_rows(docs), schema=CORPUS_SCHEMA).write.parquet(src)

    stream = spark.readStream.schema(CORPUS_SCHEMA).parquet(src)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = attach_stream(stream, out, ckpt)
    q.awaitTermination(120)

    mentions = read_stage(spark, latest_epoch(out), "mentions")
    triples = read_stage(spark, latest_epoch(out), "triples")
    gold = {(s, p, o, d.doc_id) for d in docs for (s, p, o) in d.triples}
    got = {tuple(r) for r in triples.select("subj", "pred", "obj", "doc_id").collect()}
    assert mentions.count() > 0
    assert got == gold
    assert glob.glob(ckpt + "/*")  # streaming checkpoint written


def test_epoch_replay_is_idempotent(spark, tmp_path):
    """Crash-replay semantics: re-running an epoch resumes its committed
    stages instead of appending duplicates, and the same batch as a new
    epoch re-arrives unchanged, so the resolved rows stay the same."""
    from theta_spark.streaming import process_corpus_batch

    docs = generate_corpus(10, seed=7)
    batch = spark.createDataFrame(corpus_rows(docs), schema=CORPUS_SCHEMA)
    out = str(tmp_path / "out2")

    def triples():
        return sorted(tuple(r) for r in read_stage(spark, latest_epoch(out), "triples").collect())

    process_corpus_batch(batch, out, epoch_id=0)
    first = triples()
    assert first
    process_corpus_batch(batch, out, epoch_id=0)  # replay same epoch
    assert triples() == first
    process_corpus_batch(batch, out, epoch_id=1)  # unchanged re-arrival
    assert latest_epoch(out).endswith("epoch=1")
    assert triples() == first
