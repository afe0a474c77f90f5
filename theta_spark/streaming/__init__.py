"""Streaming composition (completeness note + foreachBatch bridge).

The reference is batch-only — SURVEY.md §2.11: no watermarks, event-time
windows, or stateful operators exist anywhere in the snapshot; its only
"windows" are the text sliding windows of §2.3, and resumability is
checkpoint/snapshot-based. The north rule therefore requires no Structured
Streaming.

For pipelines that *arrive* as streams (e.g. a commit firehose feeding the
corpus table), `attach_stream` runs each micro-batch as a pipeline refresh
against the previous epoch (`streaming.ingest`): every epoch commits
mentions, triples and the scored_docs registry into `out_dir/epoch=<id>`,
the same snapshot layout `run_pipeline` resumes from. `out_dir` is a path
the driver can open, as a pipeline workdir is.

Native streaming operators (watermarked windowed aggregation and
applyInPandasWithState sessionization) live in `streaming.stateful`.
"""

from __future__ import annotations

from theta_spark.streaming.ingest import (  # noqa: F401 - re-export
    attach_stream,
    process_corpus_batch,
)
from theta_spark.streaming.stateful import (  # noqa: F401 - re-export
    sessionize_stream,
    windowed_event_counts,
)
