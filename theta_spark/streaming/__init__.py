"""Streaming composition (completeness note + foreachBatch bridge).

The reference is batch-only — SURVEY.md §2.11: no watermarks, event-time
windows, or stateful operators exist anywhere in the snapshot; its only
"windows" are the text sliding windows of §2.3, and resumability is
checkpoint/snapshot-based. The north rule therefore requires no Structured
Streaming.

For pipelines that *arrive* as streams (e.g. a commit firehose feeding the
corpus table), the batch stages compose unchanged under foreachBatch: each
micro-batch is a corpus DataFrame, and `attach_stream` appends mentions +
triples to the same snapshot layout `run_pipeline` resumes from.

Native streaming operators (watermarked windowed aggregation and
applyInPandasWithState sessionization) live in `streaming.stateful`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from theta_spark.streaming.stateful import (  # noqa: F401 - re-export
    sessionize_stream,
    windowed_event_counts,
)

from theta_spark.config import PipelineConfig
from theta_spark.pipeline import doc_mentions, doc_triples, extract_docs, with_doc_id


def process_corpus_batch(
    batch_df: DataFrame, out_dir: str, epoch_id: int, cfg: PipelineConfig | None = None
) -> None:
    """foreachBatch body: corpus micro-batch -> mentions + triples parquet
    under `out_dir`, each epoch in its own `epoch=<id>` subdirectory
    written with OVERWRITE. A replayed epoch (crash between the two writes
    and the checkpoint commit) overwrites its own directory instead of
    appending duplicates — this is what makes the sink idempotent; a blind
    mode('append') would be at-least-once. Readers see `epoch` as a
    discovered partition column under `out_dir`/mentions|triples. Each
    document is scored once: both outputs are projections of one
    materialized per-doc frame."""
    scored = extract_docs(with_doc_id(batch_df), cfg).localCheckpoint(eager=True)
    doc_mentions(scored).write.mode("overwrite").parquet(f"{out_dir}/mentions/epoch={epoch_id}")
    doc_triples(scored).write.mode("overwrite").parquet(f"{out_dir}/triples/epoch={epoch_id}")


def attach_stream(corpus_stream: DataFrame, out_dir: str, checkpoint_dir: str, cfg: PipelineConfig | None = None):
    """corpus readStream -> writeStream.foreachBatch(extraction). Returns
    the StreamingQuery (caller awaits/stops). Exactly-once = streaming
    checkpoint (epoch replay on recovery) + the idempotent epoch-keyed
    overwrite sink in process_corpus_batch."""
    return (
        corpus_stream.writeStream.option("checkpointLocation", checkpoint_dir)
        .foreachBatch(lambda df, epoch: process_corpus_batch(df, out_dir, epoch, cfg))
        .trigger(availableNow=True)
        .start()
    )
