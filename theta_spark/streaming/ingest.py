"""Streaming incremental KG ingest: each epoch of a corpus stream is a
pipeline refresh against the previous epoch.

A corpus stream (commit firehose: repo/path/commit/lang/content rows,
the input_hint shape) is ingested epoch by epoch under foreachBatch.
Epoch <id> is a pipeline workdir, `out_dir/epoch=<id>`: it commits the
doc-keyed stages `mentions`, `triples` and the `scored_docs` registry
(plus `delta_stats` against a prior) through the same `Increment` and
`run_checkpointed_delta` calls a batch refresh uses, so every epoch has
the snapshot layout `run_pipeline` resumes from and `read_stage` on the
latest epoch is the stream's resolved view. The prior of an epoch is the
latest epoch below it whose stages all have manifests.

An arrival replaces every prior version of its doc_id; a doc_id that did
not arrive keeps its rows. So an epoch's current key set is its arrivals'
(doc_id, sha256) keys plus the prior registry's keys of every doc_id that
did not arrive, and `Increment` derives the change from it exactly as for
a batch refresh: a new, changed or reverted doc is scored, an unchanged
re-arrival costs a key comparison, and nothing is deleted.

Exactly-once: manifests are the commit markers. A crash-replayed epoch
sees the same prior, so it resumes its committed stages and recomputes
the others from the same delta; a replay of an epoch whose stages are
all committed reads nothing and only finishes its retention.

Retention: a chained stage is flattened into a self-contained snapshot
once its chain reaches `cfg.delta_max_chain`; once every chained stage
of an epoch is self-contained, the epochs below it are deleted, so a
stream that runs for ever keeps O(delta_max_chain) epoch directories.
They are deleted newest first, so a crash part-way leaves only epochs
whose whole chain is still on disk.

Path contract: `out_dir` is a path the driver can open — epochs are
listed, manifests written and old epochs deleted by the driver, as for a
pipeline workdir. A stream written in the older per-stage layout
(`out_dir/<stage>/epoch=<id>`) is refused: re-ingest it into a new
`out_dir`.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from theta_spark.config import PipelineConfig
from theta_spark.functions.sketch import hll_estimate_from_registers, hll_registers
from theta_spark.pipeline import (
    Increment,
    _commit_graph_layer,
    read_stage,
    run_checkpointed,
    run_stages_parallel,
    stage_complete,
    stage_manifest,
)

HLL_B = 8  # stream-cardinality sketch precision (m=256 registers)
# the doc-keyed stages whose delta chains reach back to earlier epochs
CHAINED = ("mentions", "triples", "scored_docs")
# the stages every epoch commits: their manifests mark the epoch committed
COMMITTED = CHAINED + ("hll_versions",)


def _epoch_dir(out_dir: str, epoch_id: int) -> str:
    return os.path.join(out_dir, f"epoch={epoch_id}")


def _epoch_ids(out_dir: str) -> list[int]:
    if not os.path.isdir(out_dir):
        return []
    return sorted(int(d.split("=", 1)[1]) for d in os.listdir(out_dir) if d.startswith("epoch="))


def latest_epoch(out_dir: str, below: int | None = None) -> str | None:
    """Workdir of the latest committed epoch (below `below`, when given),
    or None when there is none."""
    for e in reversed(_epoch_ids(out_dir)):
        if below is not None and e >= below:
            continue
        if all(stage_complete(_epoch_dir(out_dir, e), s) for s in COMMITTED):
            return _epoch_dir(out_dir, e)
    return None


def process_corpus_batch(
    batch_df: DataFrame, out_dir: str, epoch_id: int, cfg: PipelineConfig | None = None
) -> None:
    """foreachBatch body: refresh the previous epoch with this epoch's
    arrivals, committing into `out_dir/epoch=<epoch_id>`. Besides the
    pipeline's doc-keyed stages, the epoch commits `hll_versions`: HLL
    registers over every content version the stream has scored, the
    prior epoch's registers max-merged with this epoch's."""
    cfg = cfg or PipelineConfig()
    if any(os.path.isdir(os.path.join(out_dir, s)) for s in CHAINED):
        raise ValueError(
            f"{out_dir} holds a stream in the old per-stage layout "
            "(<stage>/epoch=<id>); re-ingest the corpus into a new out_dir"
        )
    workdir = _epoch_dir(out_dir, epoch_id)
    prior = latest_epoch(out_dir, below=epoch_id)
    # a replay of a committed epoch reads nothing below it: a crash during
    # retention may have deleted part of its prior's chain
    committed = all(stage_complete(workdir, s) for s in COMMITTED) and (
        prior is None or stage_complete(workdir, "delta_stats")
    )
    if not committed:
        _refresh(batch_df, workdir, prior, cfg)
    if not any(stage_manifest(workdir, s).get("delta_base") for s in CHAINED):
        # every stage of this epoch is self-contained: nothing reads the
        # epochs below it any more. Newest first: delta chains point only
        # downward, so every epoch a crash here leaves behind still resolves.
        for e in reversed(_epoch_ids(out_dir)):
            if e < epoch_id:
                shutil.rmtree(_epoch_dir(out_dir, e))


def _refresh(batch_df: DataFrame, workdir: str, prior: str | None, cfg: PipelineConfig) -> None:
    spark = batch_df.sparkSession
    inc = Increment(spark, batch_df, workdir, prior, cfg, True, arrivals=True)

    def hll():
        # max-merge is idempotent: a re-scored old version cannot move it
        regs = hll_registers(
            inc.scored().select(F.concat_ws("|", "doc_id", "sha256").alias("vkey")),
            "vkey",
            b=HLL_B,
        )
        if prior is not None:
            regs = regs.unionByName(read_stage(spark, prior, "hll_versions"))
        return regs.groupBy("idx").agg(F.max("mx").alias("mx"))

    commits = {
        "mentions": inc.mentions,
        "triples": inc.triples,
        "scored_docs": inc.commit_scored_docs,
        "hll_versions": lambda: run_checkpointed(spark, workdir, "hll_versions", hll),
    }
    if prior is not None:
        commits["delta_stats"] = inc.commit_delta_stats
    run_stages_parallel(commits)


def attach_stream(
    corpus_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    cfg: PipelineConfig | None = None,
):
    """corpus readStream -> writeStream.foreachBatch(process_corpus_batch).
    Returns the StreamingQuery (the caller awaits or stops it).
    Exactly-once = streaming checkpoint (epoch replay on recovery) + the
    manifest-committed epoch workdirs."""
    return (
        corpus_stream.writeStream.option("checkpointLocation", checkpoint_dir)
        .foreachBatch(lambda df, epoch: process_corpus_batch(df, out_dir, epoch, cfg))
        .trigger(availableNow=True)
        .start()
    )


def read_stream_cardinality(spark: SparkSession, out_dir: str, b: int = HLL_B) -> DataFrame:
    """HLL estimate (m, v_empty, s_scaled, est) of the distinct content
    versions (doc_id, sha256) the stream has ever ingested, from the
    latest epoch's O(2^b) cumulative registers — bit-equal to the batch
    `hll_estimate` over those versions (test-pinned)."""
    regs = read_stage(spark, latest_epoch(out_dir), "hll_versions")
    return hll_estimate_from_registers(regs, (), b)


def finalize_graph(
    spark: SparkSession,
    out_dir: str,
    graph_dir: str,
    cfg: PipelineConfig | None = None,
) -> dict:
    """Materialize the graph layer (nodes / edge_provenance / edges) from
    the latest epoch's mentions + triples, via the SAME commit path the
    batch pipeline uses (pipeline._commit_graph_layer). Entity
    canonicalization is corpus-global, so the graph is a periodic batch
    finalize over the accumulated stream, not a per-epoch rebuild."""
    latest = latest_epoch(out_dir)
    mentions = read_stage(spark, latest, "mentions")
    triples = read_stage(spark, latest, "triples")
    graph = _commit_graph_layer(
        spark, graph_dir, lambda: triples, lambda: mentions, cfg or PipelineConfig(),
        resume=False,
    )
    return {"mentions": mentions, "triples": triples, **graph}
