"""End-to-end KG construction pipeline (SURVEY.md §4.3 physical sketch).

    corpus(repo, path, commit, lang, content)
      -> doc_id + sha256 invariant                       [narrow]
      -> one fused mapInPandas per document: segment     [Arrow batches]
         (W1) + score + decode (M*/D1) + un-shift/dedup
         (G1/G2) + triple assembly -> (doc_id, sha256,
         mentions[], triples[]), materialized once
      -> mentions, triples = inline projections          [narrow]
      -> canonicalization (LSH + CC) on entity names     [small table]
      -> nodes/edges materialization (salted agg)        [shuffle]

One driver (`_run_pipeline`) builds every run: a full build is a refresh
against no prior (`run_pipeline`), in which every document is new
(`Increment`). Every document is scored at most once per run: the
`mentions` and `triples` stages are both projections of the same
per-document frame. Per-row invariant: sha256(content) via F.sha2 carried
from the scan into the mentions and triples outputs (input_hint
contract). Every stage is a checkpointable parquet snapshot via
`run_checkpointed` with per-stage lineage + metrics (north rule:
resumable with per-partition lineage and metrics tables); the doc-keyed
stages commit through `run_checkpointed_delta`, which against a prior
writes only the delta plus a `_retired` doc-id table.
"""

from __future__ import annotations

import json
import os
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from theta_spark.canonicalize import canonicalize_names
from theta_spark.config import PipelineConfig
from theta_spark.operators.extract import extract_docs_df
from theta_spark.operators.triples import with_category_names, with_norm


def with_doc_id(corpus: DataFrame) -> DataFrame:
    """doc_id = repo:path@commit; sha = sha2(content, 256) (input_hint)."""
    return corpus.select(
        F.concat_ws("", F.col("repo"), F.lit(":"), F.col("path"), F.lit("@"), F.col("commit")).alias("doc_id"),
        "repo",
        "path",
        "commit",
        "lang",
        F.sha2(F.col("content"), 256).alias("sha256"),
        F.col("content").alias("text"),
    )


def _resolve_scorer(cfg: PipelineConfig):
    """cfg.scorer -> scorer object for the fused stage (None = the default
    rule scorer). 'mlp' trains/loads the driver-side singleton; a path
    ending in .npz loads a checkpointed model from the registry store —
    the reference's predict_by_checkpoint entry point (SURVEY §3.2). The
    resolved numpy weights ship to executors via closure broadcast
    (operators/neural.py scale notes)."""
    if cfg.scorer == "mlp":
        from theta_spark.operators.neural import default_mlp_scorer

        return default_mlp_scorer()
    if isinstance(cfg.scorer, str) and cfg.scorer.endswith(".npz"):
        from theta_spark.sources.registry import load_model

        return load_model(cfg.scorer)
    if cfg.scorer not in (None, "rule"):
        raise ValueError(
            f"unknown cfg.scorer {cfg.scorer!r} (expected 'rule', 'mlp', or a .npz checkpoint path)"
        )
    return None


def extract_docs(docs: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """Keyed docs (with_doc_id output) -> one row per document: (doc_id,
    sha256, mentions[], triples[]), from ONE fused scoring pass
    (operators.extract.extract_docs_df). cfg.scorer/cfg.decoder select the
    model head (M1 rule/MLP) and decode (D1 span / M3 CRF-Viterbi /
    GlobalPointer) run inside the stage."""
    cfg = cfg or PipelineConfig()
    return extract_docs_df(
        docs, cfg.seg_len, cfg.seg_stride, cfg.confidence,
        scorer=_resolve_scorer(cfg), decoder=cfg.decoder, gp_max_span=cfg.gp_max_span,
    )


def doc_mentions(scored: DataFrame) -> DataFrame:
    """Per-doc frame -> deduped document-level mentions with category
    names + norms; a zero-yield document contributes no row."""
    return with_norm(with_category_names(scored.select("doc_id", "sha256", F.inline("mentions"))))


def doc_triples(scored: DataFrame) -> DataFrame:
    """Per-doc frame -> triples(subj, pred, obj, doc_id, sha256)."""
    return scored.select(F.inline("triples"), "doc_id", "sha256")


def extract_mentions_df(corpus: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """corpus -> deduped document-level mentions with category names + norms."""
    return doc_mentions(extract_docs(with_doc_id(corpus), cfg))


def extract_triples(corpus: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """corpus -> triples(subj, pred, obj, doc_id, sha256)."""
    return doc_triples(extract_docs(with_doc_id(corpus), cfg))


def compute_canon_map(mentions: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """(name, canonical) over the distinct mention norms, MATERIALIZED.
    The eager cut matters: the map is consumed by three joins (mention
    re-key, triple subj, triple obj) across two output tables, and without
    it each consumer would re-execute the whole LSH banding + exact-Jaccard
    verify DAG (~minutes at 10^5 names — profiled as the graph phase's
    dominant cost). The map itself is tiny (only names with a
    near-duplicate), so the checkpoint is cheap and the subsequent
    broadcasts ship a materialized table."""
    names = mentions.select(F.col("norm").alias("name"))
    return canonicalize_names(
        names,
        k=cfg.shingle_k,
        num_hashes=cfg.minhash_rows,
        bands=cfg.lsh_bands,
        threshold=cfg.jaccard_threshold,
        max_iters=cfg.cc_max_iters,
    ).localCheckpoint(eager=True)


def canonical_triples(triples: DataFrame, canon: DataFrame) -> DataFrame:
    """Canonical-keyed triples WITH provenance: doc_id + the per-row sha256
    content invariant (input_hint) survive canonicalization — this is the
    edge_provenance row shape, so every aggregated edge can be audited back
    to the exact document contents it came from. Both joins broadcast the
    tiny canonical map."""
    canon_b = F.broadcast(canon)
    prov_cols = ["doc_id"] + (["sha256"] if "sha256" in triples.columns else [])
    return (
        triples.join(
            canon_b.withColumnRenamed("name", "subj").withColumnRenamed("canonical", "subj_c"),
            on="subj",
            how="left",
        )
        .join(
            canon_b.withColumnRenamed("name", "obj").withColumnRenamed("canonical", "obj_c"),
            on="obj",
            how="left",
        )
        .select(
            F.coalesce("subj_c", "subj").alias("subj"),
            "pred",
            F.coalesce("obj_c", "obj").alias("obj"),
            *prov_cols,
        )
    )


def build_nodes(mentions: DataFrame, canon: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """(canonical, category, n_mentions, n_doc_parts) over the mentions
    re-keyed through the canonical map. Node mention-counts use a two-phase
    salted aggregation so a hot entity (e.g. a util called from 20% of
    files) cannot straddle one reducer (SURVEY.md §4.2 skew row)."""
    canon_b = F.broadcast(canon)  # distinct entity names << mentions
    m = mentions.join(canon_b.withColumnRenamed("name", "norm"), on="norm", how="left").withColumn(
        "canonical", F.coalesce("canonical", "norm")
    )

    # two-phase salted count: partial by (canonical, salt) then final
    salted = m.withColumn("salt", F.pmod(F.hash("doc_id"), F.lit(cfg.salt_buckets)))
    partial = salted.groupBy("canonical", "category", "salt").agg(
        F.count(F.lit(1)).alias("cnt"), F.countDistinct("doc_id").alias("docs_part")
    )
    return partial.groupBy("canonical", "category").agg(
        F.sum("cnt").alias("n_mentions"), F.sum("docs_part").alias("n_doc_parts")
    )


def edge_counts(t: DataFrame) -> DataFrame:
    """Canonical triple stream -> (subj, pred, obj, n_docs) edges."""
    return t.groupBy("subj", "pred", "obj").agg(F.count(F.lit(1)).alias("n_docs"))


def build_nodes_edges(
    triples: DataFrame,
    mentions: DataFrame,
    cfg: PipelineConfig | None = None,
    canon: DataFrame | None = None,
):
    """Materialize graph tables: (nodes, edges, canonical triples).

    Canonicalization: distinct mention norms -> (name, canonical) via
    MinHash-LSH + connected components (precomputed map accepted via
    `canon`); triples re-keyed to canonical ids.
    """
    cfg = cfg or PipelineConfig()
    if canon is None:
        canon = compute_canon_map(mentions, cfg)
    t = canonical_triples(triples, canon)
    return build_nodes(mentions, canon, cfg), edge_counts(t), t


# ------------------------------------------------------------ lineage/resume

_LINEAGE_SCHEMA = pa.schema(
    [("file", pa.string()), ("rows_out", pa.int64()), ("fingerprint", pa.int64())]
)


def _manifest_path(workdir: str, stage: str) -> str:
    return os.path.join(workdir, stage, "_STAGE_MANIFEST.json")


def stage_complete(workdir: str, stage: str) -> bool:
    return os.path.exists(_manifest_path(workdir, stage))


def run_checkpointed(
    spark: SparkSession,
    workdir: str,
    stage: str,
    build: "callable",
    partition_cols: list | None = None,
    resume: bool = True,
    extra_manifest: dict | None = None,
    post_write: "callable | None" = None,
) -> DataFrame:
    """Stage-level checkpoint: if the stage's manifest exists and resume is
    on, read the snapshot; otherwise build, write parquet, record lineage +
    metrics (rows_out, wall_ms) in the manifest. On a real cluster the same
    contract is an Iceberg snapshot + per-bucket manifest (SURVEY.md §4.2).

    `extra_manifest` entries (e.g. the extraction config fingerprint) are
    recorded verbatim in the manifest so a later incremental run can
    validate compatibility before merging against this snapshot."""
    path = os.path.join(workdir, stage)
    if resume and stage_complete(workdir, stage):
        return read_stage(spark, workdir, stage)
    t0 = time.time()
    df = build()
    writer = df.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)
    # read back with the build schema (same reason as above: a zero-row
    # partitioned write emits only _SUCCESS; partition values are parsed
    # into their column from the directory names)
    out = spark.read.schema(df.schema).parquet(path)
    # per-partition lineage + metrics (north rule): one row per output
    # file with its row count and an order-insensitive content fingerprint
    # (sum of bounded xxhash64 over all columns — bounded so the bigint
    # sum cannot overflow under ANSI mode). The `_lineage` prefix keeps
    # the table invisible to the stage's own parquet scans; a resumed run
    # can re-aggregate it to audit that the snapshot it is trusting still
    # fingerprints the same, per partition, without recomputing the stage.
    #
    # The commit is one data write, one collect of the per-file rows
    # (driver traffic is bounded by the file count, not the data), then
    # driver-side writes of the `_lineage` parquet file and the manifest.
    # The lineage file is written with pyarrow, not a Spark job: turning
    # a Python row list into a DataFrame ships it through a Python worker,
    # a ~1 s single-task job per commit for a table of a few rows. Both
    # driver-side writes need the workdir to be a path the driver can
    # open, as the manifest write always has.
    lineage_rows = (
        out.groupBy(F.input_file_name().alias("file"))
        .agg(
            F.count(F.lit(1)).alias("rows_out"),
            F.sum(F.pmod(F.xxhash64(*[F.col(c) for c in out.columns]), F.lit(1_000_003))).alias(
                "fingerprint"
            ),
        )
        .collect()
    )
    lineage_dir = os.path.join(path, "_lineage")
    os.makedirs(lineage_dir, exist_ok=True)
    pq.write_table(
        pa.Table.from_pylist([r.asDict() for r in lineage_rows], schema=_LINEAGE_SCHEMA),
        os.path.join(lineage_dir, "part-00000.parquet"),
        store_schema=False,
        write_statistics=False,
    )
    if post_write is not None:
        # side tables (e.g. a delta stage's `_retired` doc keys) land
        # before the manifest: the manifest is the stage's commit marker,
        # so a crash here leaves an incomplete, restartable stage
        post_write()
    manifest = {
        "stage": stage,
        "rows_out": int(sum(r["rows_out"] for r in lineage_rows)),
        "n_files": len(lineage_rows),
        "wall_ms": int((time.time() - t0) * 1000),
        "partition_cols": list(partition_cols) if partition_cols else None,
        "schema": out.schema.simpleString(),
        "schema_json": json.dumps(out.schema.jsonValue()),
        **(extra_manifest or {}),
    }
    with open(_manifest_path(workdir, stage), "w") as f:
        json.dump(manifest, f)
    return out


def run_checkpointed_delta(
    spark: SparkSession,
    workdir: str,
    stage: str,
    delta_build: "callable",
    retired_build: "callable",
    base_workdir: str | None,
    partition_cols: list | None = None,
    resume: bool = True,
    extra_manifest: dict | None = None,
    max_chain: int | None = None,
) -> DataFrame:
    """Delta-referencing stage commit (the parquet-fallback twin of an
    Iceberg MERGE INTO): write ONLY the rows this run changed plus a tiny
    `_retired` doc-key table, and record the prior run's workdir as
    `delta_base` in the manifest. read_stage resolves the full view as
    base − retired ∪ delta — so an incremental run's WRITE volume is
    proportional to the delta, not the corpus (VERDICT r4 #6: the 8.7M-row
    provenance snapshot was rewritten in full for a 3-doc delta).

    Chain bounding: the manifest records `delta_depth` (links back to the
    nearest self-contained snapshot — each link costs read_stage one
    anti-join at resolve time). When `max_chain` is set and this commit
    would reach it, the stage is flattened IN PLACE via rewrite_stage_full
    (the Iceberg compaction-policy twin), so resolution cost stays O(1)
    no matter how many incremental runs chain — without the operator
    having to remember the maintenance pass. Crash-safe: flattening is a
    fresh full commit; a crash before it leaves a valid (deeper) delta
    stage that re-flattens on resume.

    Lineage/audit cover the delta files (the base snapshot is audited by
    its own run's lineage). Returns the RESOLVED view.

    Without a base (`base_workdir=None`: a full build, in which every
    document is new) the stage is a self-contained run_checkpointed
    snapshot and `retired_build` is not called."""
    if base_workdir is None:
        return run_checkpointed(
            spark, workdir, stage, delta_build, partition_cols, resume, extra_manifest
        )

    def _post():
        # no distinct: resolution is an anti-join, so a repeated doc_id is
        # harmless
        retired_build().select("doc_id").coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(workdir, stage, "_retired"))

    depth = int(stage_manifest(base_workdir, stage).get("delta_depth", 0)) + 1
    run_checkpointed(
        spark,
        workdir,
        stage,
        delta_build,
        partition_cols=partition_cols,
        resume=resume,
        extra_manifest={
            **(extra_manifest or {}),
            "delta_base": base_workdir,
            "delta_depth": depth,
        },
        post_write=_post,
    )
    if max_chain is not None and depth >= max_chain:
        return rewrite_stage_full(spark, workdir, stage)
    return read_stage(spark, workdir, stage)


def rewrite_stage_full(spark: SparkSession, workdir: str, stage: str) -> DataFrame:
    """Flatten a delta-referencing stage into a SELF-CONTAINED snapshot in
    place: resolve base − retired ∪ delta, materialize it, rewrite the
    stage dir without the `delta_base` pointer, and refresh lineage. The
    maintenance pass that bounds read_stage's chain depth — run it every
    few increments, exactly like Iceberg snapshot compaction; afterwards
    the base workdirs can be garbage-collected if nothing else references
    them. No-op (returns the snapshot) when the stage is already full.

    Durability: the resolved view is first written to a TEMP parquet dir
    beside the stage (not a localCheckpoint — executor block loss on a
    cluster would make a checkpoint-only copy unrecomputable once the
    source files below are deleted), and only then is the old stage dir
    removed and recommitted from the durable temp. The manifest-recorded
    partition spec (e.g. edge_provenance's pred dirs) is re-applied, so
    flattening never degrades downstream partition pruning."""
    import shutil

    manifest = stage_manifest(workdir, stage)
    if not manifest.get("delta_base"):
        return read_stage(spark, workdir, stage)
    tmp = os.path.join(workdir, f"{stage}__flatten_tmp")
    resolved = read_stage(spark, workdir, stage)
    schema = resolved.schema
    resolved.write.mode("overwrite").parquet(tmp)
    extra = {k: v for k, v in manifest.items() if k in ("config",)}
    pcols = manifest.get("partition_cols")
    shutil.rmtree(os.path.join(workdir, stage))
    out = run_checkpointed(
        spark,
        workdir,
        stage,
        lambda: spark.read.schema(schema).parquet(tmp),
        partition_cols=pcols,
        resume=False,
        extra_manifest=extra,
    )
    shutil.rmtree(tmp, ignore_errors=True)
    return out


def run_stages_parallel(commits: dict) -> dict:
    """Run independent stage commits CONCURRENTLY: `commits` maps a stage
    name to a no-argument thunk that commits it (a run_checkpointed or
    run_checkpointed_delta call) with no data dependency on the others;
    each runs in its own thread (Spark's scheduler accepts concurrent job
    submission — in local mode and on a cluster the independent write
    jobs interleave instead of serializing their fixed commit costs).
    Returns {stage_name: DataFrame}.

    This targets the graph-layer tail: nodes and edge_provenance derive
    from the same materialized inputs but were committed back-to-back,
    paying two full write-job latencies where one wall suffices."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(commits)) as pool:
        futs = {name: pool.submit(commit) for name, commit in commits.items()}
        return {name: fut.result() for name, fut in futs.items()}


def stage_manifest(workdir: str, stage: str) -> dict:
    """The stage's recorded manifest (empty dict if the stage is absent)."""
    if not stage_complete(workdir, stage):
        return {}
    with open(_manifest_path(workdir, stage)) as f:
        return json.load(f)


# config fields that determine the ROWS of the mentions/triples stages.
# Deliberately excluded (ADVICE r4): graph-layer knobs (shingle_k,
# minhash_rows, lsh_bands, jaccard_threshold, cc_max_iters) and physical
# knobs (delta_max_chain, salt_buckets): changing those leaves prior
# mention/triple rows valid, so an incremental merge against them must NOT
# be rejected as config drift.
_EXTRACTION_CFG_FIELDS = (
    "max_length", "confidence", "scorer", "decoder", "gp_max_span",
)


def _cfg_fingerprint(cfg) -> str:
    """Order-stable JSON of the extraction-relevant config (the fields that
    change mention/triple ROWS — see _EXTRACTION_CFG_FIELDS): recorded in
    the mentions/triples stage manifests and validated by incremental runs
    before merging prior rows (a config drift between runs would otherwise
    fail late with a union/column error — or worse, silently mix rows
    scored under different heads)."""
    import dataclasses

    full = dataclasses.asdict(cfg)
    return json.dumps({k: full[k] for k in _EXTRACTION_CFG_FIELDS}, sort_keys=True, default=str)


def read_stage_local(spark: SparkSession, workdir: str, stage: str) -> DataFrame:
    """Read ONLY the rows physically stored in this workdir's stage dir
    (for a delta-referencing stage: the delta rows, without base
    resolution), applying the manifest-recorded schema when available: an
    EMPTY partitioned snapshot has no parquet data files, so a schema-less
    read would fail inference."""
    path = os.path.join(workdir, stage)
    manifest = stage_manifest(workdir, stage)
    if manifest.get("schema_json"):
        from pyspark.sql import types as T

        schema = T.StructType.fromJson(json.loads(manifest["schema_json"]))
        return spark.read.schema(schema).parquet(path)
    return spark.read.parquet(path)


def read_stage(spark: SparkSession, workdir: str, stage: str) -> DataFrame:
    """Read a stage snapshot. A DELTA-REFERENCING snapshot (manifest
    carries `delta_base`: the prior run's workdir) stores only the rows
    this run changed plus a tiny `_retired` doc-key table; the full view
    is resolved lazily as base − retired ∪ delta, recursing through a
    chain of incremental runs (each link costs one key-only anti-join —
    the parquet-fallback twin of reading an Iceberg snapshot chain).
    Chains are bounded operationally by running a full (non-incremental)
    rewrite every few increments, exactly like Iceberg snapshot
    compaction."""
    local = read_stage_local(spark, workdir, stage)
    manifest = stage_manifest(workdir, stage)
    base_dir = manifest.get("delta_base")
    if not base_dir:
        return local
    base = read_stage(spark, base_dir, stage)
    # the key table's schema is fixed: given, it spares a schema-inference
    # job per chain link
    retired = spark.read.schema("doc_id STRING").parquet(os.path.join(workdir, stage, "_retired"))
    # the join moves doc_id first; the resolved view keeps the snapshot's
    # column order
    return base.join(retired, "doc_id", "left_anti").select(*local.columns).unionByName(local)


def stage_lineage(spark: SparkSession, workdir: str, stage: str) -> DataFrame:
    """The stage's per-partition lineage table (file, rows_out, fingerprint)."""
    return spark.read.parquet(os.path.join(workdir, stage, "_lineage"))


def audit_stage(spark: SparkSession, workdir: str, stage: str) -> DataFrame:
    """Re-fingerprint the stage snapshot per file and diff against the
    recorded lineage; returns the mismatched/missing files (empty = the
    snapshot a resume would trust is byte-equivalent, per partition, to
    what the original run wrote). One narrow scan + tiny join — cheap
    relative to recomputing the stage. Audits the rows THIS workdir wrote
    (for a delta stage: the delta files — the base snapshot is audited by
    its own run's lineage)."""
    out = read_stage_local(spark, workdir, stage)
    fresh = out.groupBy(F.input_file_name().alias("file")).agg(
        F.count(F.lit(1)).alias("rows_now"),
        F.sum(F.pmod(F.xxhash64(*[F.col(c) for c in out.columns]), F.lit(1_000_003))).alias(
            "fp_now"
        ),
    )
    rec = stage_lineage(spark, workdir, stage)
    return (
        rec.join(fresh, on="file", how="full_outer")
        .where(
            F.col("rows_out").isNull()
            | F.col("rows_now").isNull()
            | (F.col("rows_out") != F.col("rows_now"))
            | (F.col("fingerprint") != F.col("fp_now"))
        )
    )


def _doc_key_sides(keys: DataFrame, prior_keys: DataFrame) -> DataFrame:
    """Per doc_id, its (doc_id, sha256) key rows on each side: `cur` and
    `pri` count the doc_id's rows in the current corpus and in the prior
    run, `n_extracted` its current rows whose key has no prior row and
    `n_retired` its prior rows whose key has no current row. One shuffle:
    a per-doc_id aggregate over the tagged union of both key tables. The
    change table (_doc_changes) and the delta_stats counts both derive
    from it without another shuffle of the keys."""

    def side(df, is_cur):
        # a NULL content hash (NULL content) is a key like any other
        sha = F.coalesce(F.col("sha256"), F.lit(""))
        return df.select("doc_id", sha.alias("sha256"), F.lit(is_cur).alias("is_cur"))

    per_doc = (
        side(keys, True)
        .unionByName(side(prior_keys, False))
        .groupBy("doc_id")
        .agg(
            F.collect_list(F.when(F.col("is_cur"), F.col("sha256"))).alias("c"),
            F.collect_list(F.when(~F.col("is_cur"), F.col("sha256"))).alias("p"),
        )
    )

    def only_in(a, b):
        return F.size(F.filter(a, lambda x: ~F.array_contains(b, x)))

    return per_doc.select(
        "doc_id",
        F.size("c").alias("cur"),
        F.size("p").alias("pri"),
        only_in("c", "p").alias("n_extracted"),
        only_in("p", "c").alias("n_retired"),
    )


def _doc_changes(sides: DataFrame) -> DataFrame:
    """(doc_id, cur, pri) for every doc_id whose SET of content keys
    (sha256 values) differs between the current corpus and the prior run,
    from its per-doc key counts (_doc_key_sides): a key on one side only
    is an extracted or a retired row. `cur` and `pri` say whether the
    doc_id has a version on each side.

    The unit of change is the doc_id, not the key, because delta stages
    retire rows by doc_id: a doc_id that keeps one version and loses (or
    gains) another has EVERY current version re-extracted, or retiring
    it would drop the unchanged version's rows with the changed one's."""
    return sides.where((F.col("n_extracted") > 0) | (F.col("n_retired") > 0)).select(
        "doc_id", (F.col("cur") > 0).alias("cur"), (F.col("pri") > 0).alias("pri")
    )


def _check_prior_config(prior: str, cfg_fp: str) -> None:
    """Fail FAST on config drift (ADVICE r3): a prior run scored under a
    different head/segmentation would otherwise surface as a late
    union/column error — or silently mix rows scored under different
    models. Old snapshots without a recorded config fall back to a
    column-set check at union time (unionByName still fails loud)."""
    for st in ("mentions", "triples"):
        manifest = stage_manifest(prior, st)
        prior_cfg = manifest.get("config")
        if prior_cfg is not None:
            # fingerprint-format migration: snapshots written before the
            # extraction-relevant-fields filter recorded the FULL config
            # dict, so a raw string compare would false-positive on every
            # pre-upgrade snapshot even when the config is identical.
            # Re-project both sides onto the extraction fields they share
            # before comparing.
            try:
                prior_sub = json.loads(prior_cfg)
                cur_sub = json.loads(cfg_fp)
                shared = [k for k in _EXTRACTION_CFG_FIELDS if k in prior_sub]
                prior_cfg = json.dumps({k: prior_sub[k] for k in shared}, sort_keys=True)
                cfg_cmp = json.dumps({k: cur_sub[k] for k in shared}, sort_keys=True)
            except (ValueError, KeyError):
                cfg_cmp = cfg_fp  # unparseable prior: fall back to raw compare
        if prior_cfg is not None and prior_cfg != cfg_cmp:
            raise ValueError(
                f"incremental run config does not match prior run's {st} stage: "
                f"prior={prior_cfg} current={cfg_fp}; re-run full (or pass the "
                "prior config) — merging rows scored under different configs "
                "is not meaningful"
            )
        if prior_cfg is None and manifest:
            # pre-config snapshot (ADVICE r4): drift against it is
            # UNVERIFIABLE — say so loudly instead of silently skipping;
            # an identical-column-set drift would otherwise merge silently.
            import warnings

            warnings.warn(
                f"prior {st} stage at {prior} predates config recording: "
                "config drift cannot be validated; the merge proceeds on "
                "column-set compatibility only. Re-run full once to stamp it.",
                stacklevel=5,
            )


def _once(make: "callable") -> "callable":
    """A getter for make()'s result, computed at most once — also when
    several commit threads ask for it at the same time. A failure is
    memoized too: make() is not re-run, and every caller gets its
    exception."""
    lock = threading.Lock()
    memo: list = []

    def get():
        with lock:
            if not memo:
                try:
                    memo.append((make(), None))
                except Exception as e:
                    memo.append((None, e))
            value, error = memo[0]
        if error is not None:
            raise error
        return value

    return get


class Increment:
    """The documents of one pipeline run, keyed against the run it
    refreshes: `prior` is that run's workdir, or None for a full build —
    a full build is a refresh against no prior, in which every document
    is new.

    Every doc-keyed stage (mentions, triples, scored_docs,
    edge_provenance) commits through run_checkpointed_delta with `prior`
    as its base: against a prior it writes only the rows of changed
    documents plus a `_retired` doc-id table, so the write volume is
    delta-proportional; without one, a self-contained snapshot. A
    document is changed when its set of content keys differs from the
    prior run's (_doc_changes). Each input below is materialized at most
    once, when the first builder that needs it runs, so a resumed run
    whose stages are all committed scores and scans nothing.

    `arrivals` says `corpus` holds only the documents that arrived since
    the prior (a stream epoch, streaming.ingest): a doc_id that did not
    arrive is then unchanged, not deleted. The run's current (doc_id,
    sha256) key set `keys` is the corpus's keys, plus — for arrivals —
    the prior registry's keys of every doc_id that did not arrive."""

    def __init__(self, spark, corpus, workdir, prior, cfg, resume, arrivals=False):
        self.spark, self.workdir, self.prior, self.cfg, self.resume = (
            spark, workdir, prior, cfg, resume,
        )
        self.docs = with_doc_id(corpus)
        self.cfg_fp = _cfg_fingerprint(cfg)
        if prior is not None:
            _check_prior_config(prior, self.cfg_fp)
        # prior scored-docs REGISTRY: every (doc_id, sha256) the prior run
        # scored, including zero-yield docs. Without it (pre-r4 snapshots)
        # the prior keys are the row-bearing mentions keys, which
        # re-extracts zero-yield docs every run (correct but not
        # delta-proportional).
        self.registry = None
        if prior is not None and stage_complete(prior, "scored_docs"):
            self.registry = read_stage(spark, prior, "scored_docs")
        self.keys = self.docs.select("doc_id", "sha256")
        if arrivals and self.registry is not None:
            kept = self.registry.join(self.keys.select("doc_id"), "doc_id", "left_anti")
            self.keys = self.keys.unionByName(kept)
        # per-doc key counts against the prior, aggregated once: the
        # change table and delta_stats both derive from them — from
        # parallel commit threads — and each lazy re-scan would re-read
        # the corpus and re-hash every document's full content. (Only
        # against a prior with no registry does commit_scored_docs hash
        # the corpus once more, for its self-contained key snapshot.)
        self.sides = _once(
            lambda: _doc_key_sides(self.keys, self._prior_keys()).localCheckpoint(eager=True)
        )
        self.scored = _once(self._score)
        # the row stages, committed once each: the graph-layer batch runs
        # them as two of its commits, and every other commit waits only
        # on the one it reads (canonicalization on mentions)
        self.mentions = _once(lambda: self._commit_rows("mentions", doc_mentions))
        self.triples = _once(lambda: self._commit_rows("triples", doc_triples))

    def _prior_keys(self) -> DataFrame:
        if self.registry is not None:
            return self.registry.select("doc_id", "sha256")
        return read_stage(self.spark, self.prior, "mentions").select("doc_id", "sha256").distinct()

    def _score(self) -> DataFrame:
        # the changed docs (every doc of a full build) scored ONCE; each
        # row stage commits a projection of it. Against a prior, every
        # current version of a changed doc_id (redo) is re-extracted: the
        # per-doc key counts are materialized once, so only this semi-join
        # scans the corpus content again, to fetch the delta docs' text.
        docs = self.docs
        if self.prior is not None:
            docs = docs.join(self.redo(), "doc_id", "left_semi")
        return extract_docs(docs, self.cfg).localCheckpoint(eager=True)

    def retired(self) -> DataFrame:
        """doc_ids whose prior rows must not resolve: prior docs that
        changed or left the corpus."""
        return _doc_changes(self.sides()).where(F.col("pri")).select("doc_id")

    def redo(self) -> DataFrame:
        """doc_ids re-extracted by this refresh."""
        return _doc_changes(self.sides()).where(F.col("cur")).select("doc_id")

    def _commit_rows(self, stage: str, project) -> DataFrame:
        return run_checkpointed_delta(
            self.spark, self.workdir, stage, lambda: project(self.scored()), self.retired,
            self.prior, resume=self.resume, extra_manifest={"config": self.cfg_fp},
            max_chain=self.cfg.delta_max_chain,
        )

    def commit_extraction(self):
        """Commit `mentions` and `triples`, both projections of the ONE
        scoring pass. Returns (mentions, triples), resolved."""
        return self.mentions(), self.triples()

    def commit_scored_docs(self) -> DataFrame:
        """The scored-docs registry: every (doc_id, sha256) scored —
        INCLUDING zero-yield docs, which row-bearing stages cannot
        witness. A refresh deltas against it, so an unchanged zero-mention
        doc is never re-extracted. Against a prior that has no registry
        there is no base to reference, so the snapshot holds every
        current key."""
        if self.prior is not None and self.registry is None:
            return run_checkpointed(
                self.spark, self.workdir, "scored_docs",
                lambda: self.keys.distinct(),
                resume=self.resume,
            )
        return run_checkpointed_delta(
            self.spark, self.workdir, "scored_docs",
            lambda: self.scored().select("doc_id", "sha256").distinct(), self.retired,
            self.prior, resume=self.resume, max_chain=self.cfg.delta_max_chain,
        )

    def commit_delta_stats(self) -> DataFrame:
        """One row (n_docs, n_extracted, n_retired) of key counts against
        the prior: one lazy sum over the per-doc key counts
        (_doc_key_sides), run by the stage's own write job. A current row
        counts as extracted when its key has no prior occurrence, a prior
        row as retired when its key has no current one — the counts of the
        two key anti-joins, without an action or a driver-side row list."""

        def build():
            def total(c):  # 0, not NULL, when no row qualifies
                return F.coalesce(F.sum(c), F.lit(0))

            return self.sides().agg(
                total("cur").alias("n_docs"),
                total("n_extracted").alias("n_extracted"),
                total("n_retired").alias("n_retired"),
            )

        return run_checkpointed(self.spark, self.workdir, "delta_stats", build, resume=self.resume)


def _commit_graph_layer(
    spark: SparkSession,
    workdir: str,
    triples: "callable",
    mentions: "callable",
    cfg: PipelineConfig,
    resume: bool,
    inc: Increment | None = None,
):
    """Commit the graph-layer stages as ONE batch of concurrent commits:
    nodes, canon_map, edge_provenance and edges, plus — for a pipeline
    run (`inc`) — its mentions and triples commits, its scored_docs
    registry and, against a prior, its delta_stats. `triples` and
    `mentions` are no-argument getters of the resolved row streams (in a
    pipeline run, inc's memoized commits). The tail is dominated by fixed
    per-commit costs (write-job latency, lineage aggregate, small shuffles
    on an otherwise idle cluster), so the commit walls overlap instead of
    adding. Each commit waits only on what it reads: the canonical map
    (materialized once, by the first thread that needs it) on mentions, so
    the triples, scored_docs and delta_stats commits run alongside the
    mentions -> canon_map -> nodes chain.

    nodes partitioned by category, edges by predicate (north rule:
    partitioned node/edge tables — Iceberg partition spec on a cluster,
    hive-style parquet dirs in the sandbox fallback): both are
    low-cardinality columns every downstream graph query filters on, so
    the scan prunes whole directories. The tiny canon_map snapshot is what
    lets the NEXT refresh detect which canonical assignments drifted
    without recomputing anything.

    edges is the aggregate of the canonical triple stream (the resolved
    triples re-keyed through the current map) in every run: row-identical
    to aggregating edge_provenance (pinned by the audit test: edges ==
    groupBy(edge_provenance)), but a concurrent job instead of one
    serialized behind the provenance write.

    edge_provenance — one row per triple OCCURRENCE, the biggest graph
    snapshot — is a doc-keyed stage. Without a prior it is written whole.
    Against a prior (`inc.prior`) it is committed DELTA-ONLY: rows are
    rewritten only for (a) this run's changed docs and (b) docs owning a
    triple whose subj/obj canonical assignment CHANGED between the prior
    and the current map (entity resolution is corpus-global: one new
    mention can merge two existing clusters, which re-keys old rows).
    Everything else resolves from the base snapshot by reference. The
    prior must have a canon_map stage: building the delta without one
    raises ValueError. nodes and edges are aggregates over the full
    resolved streams — recomputed, but their outputs are orders of
    magnitude smaller."""
    prior = inc.prior if inc is not None else None
    canon = _once(lambda: compute_canon_map(mentions(), cfg))
    # the lazy canonical-keyed stream: the edges aggregate and, in a full
    # build, the edge_provenance write consume it concurrently (same plan,
    # two independent jobs — the aggregate re-runs the cheap
    # broadcast-canon join instead of waiting for the snapshot write,
    # taking the edges wall off the tail's critical path)
    canonical = _once(lambda: canonical_triples(triples(), canon()))

    def _prov_layout():
        # Write layout for the biggest snapshot (one row per triple
        # occurrence): repartition on (pred, salt-of-doc) bounds the file
        # count at n_preds * salt buckets instead of n_preds * shuffle
        # partitions (5x fewer files measured at 200k docs — less commit
        # overhead now, fewer tasks for every later scan), and the
        # sortWithinPartitions satisfies the dynamic-partition writer's
        # sort requirement up front while clustering (subj, obj) runs for
        # parquet encoding. Measured ~2x faster than the plain write at
        # 200k docs under zstd; the salt keeps a hot predicate spread
        # across writers.
        return canonical().repartition(
            F.col("pred"), F.pmod(F.xxhash64("doc_id"), F.lit(16))
        ).sortWithinPartitions("pred", "subj", "obj")

    @_once
    def _affected_docs():
        # docs owning any triple that touches a name whose CANONICAL
        # assignment drifted between the prior and current map: their
        # base provenance rows carry stale canonical keys and must be
        # re-keyed (from the already-extracted triples — no re-scoring).
        # A name absent from a map canonicalizes to itself, so drift = the
        # coalesced assignment differs on a full outer join of the two
        # tiny maps. Both the delta and the retired builders consume it.
        changed_names = (
            read_stage(spark, prior, "canon_map").withColumnRenamed("canonical", "c_old")
            .join(
                canon().withColumnRenamed("canonical", "c_new"),
                on="name",
                how="full_outer",
            )
            .where(F.coalesce("c_old", "name") != F.coalesce("c_new", "name"))
            .select("name")
        )
        by_subj = triples().join(
            F.broadcast(changed_names.withColumnRenamed("name", "subj")), "subj", "left_semi"
        ).select("doc_id")
        by_obj = triples().join(
            F.broadcast(changed_names.withColumnRenamed("name", "obj")), "obj", "left_semi"
        ).select("doc_id")
        return by_subj.unionByName(by_obj).distinct().localCheckpoint(eager=True)

    def _prov_delta():
        if not stage_complete(prior, "canon_map"):
            raise ValueError(
                f"prior run at {prior} has no canon_map stage: the canonical "
                "drift of its edge_provenance rows cannot be diffed; refresh "
                "against a run that committed canon_map, or re-run full"
            )
        redo = inc.redo().unionByName(_affected_docs())
        return canonical_triples(triples().join(redo, "doc_id", "left_semi"), canon())

    def _prov_retired():
        return inc.retired().unionByName(_affected_docs())

    batch = {"mentions": mentions, "triples": triples} if inc is not None else {}
    batch |= {
        "nodes": lambda: run_checkpointed(
            spark, workdir, "nodes", lambda: build_nodes(mentions(), canon(), cfg), ["category"],
            resume,
        ),
        "canon_map": lambda: run_checkpointed(spark, workdir, "canon_map", canon, None, resume),
        "edge_provenance": lambda: run_checkpointed_delta(
            spark, workdir, "edge_provenance", _prov_layout if prior is None else _prov_delta,
            _prov_retired, prior, ["pred"], resume, max_chain=cfg.delta_max_chain,
        ),
        "edges": lambda: run_checkpointed(
            spark, workdir, "edges", lambda: edge_counts(canonical()), ["pred"], resume
        ),
    }
    if inc is not None:
        batch["scored_docs"] = inc.commit_scored_docs
        if prior is not None:
            batch["delta_stats"] = inc.commit_delta_stats
    return run_stages_parallel(batch)


def _run_pipeline(spark, corpus, workdir, prior, cfg, resume):
    """The one pipeline driver: one batch of concurrent commits, the
    extraction stages included. `prior=None` is a full build."""
    inc = Increment(spark, corpus, workdir, prior, cfg or PipelineConfig(), resume)
    return _commit_graph_layer(spark, workdir, inc.triples, inc.mentions, inc.cfg, resume, inc)


def run_pipeline_incremental(
    spark: SparkSession,
    corpus: DataFrame,
    workdir: str,
    prior_workdir: str,
    cfg: PipelineConfig | None = None,
    resume: bool = True,
):
    """Incremental run against a prior run's snapshots: re-score ONLY
    changed documents (by the doc_id+sha256 invariant; see Increment),
    reuse prior mentions/triples rows for unchanged docs by reference,
    then rebuild the graph layer from the merged streams. It is the same
    driver as run_pipeline, which is a refresh against no prior.

    Canonicalization and the node/edge aggregates are recomputed over the
    MERGED data by design: entity resolution is corpus-global (one new
    mention can merge two existing clusters), but it runs over distinct
    entity NAMES — orders of magnitude smaller than the corpus — while
    the corpus-proportional cost (segment + score + decode) is paid only
    for the delta. The doc-keyed stages (mentions, triples, scored_docs,
    edge_provenance) store only their delta plus a `_retired` doc-id
    table and resolve through read_stage; a stage is flattened back into
    a self-contained snapshot once its chain reaches cfg.delta_max_chain.
    Output snapshots land in `workdir` with the same stage layout as
    run_pipeline, so a later refresh can chain off this one; the extra
    `delta_stats` stage records the key counts of the delta.
    """
    return _run_pipeline(spark, corpus, workdir, prior_workdir, cfg, resume)


def run_pipeline(spark: SparkSession, corpus: DataFrame, workdir: str, cfg: PipelineConfig | None = None, resume: bool = True):
    """Full checkpoint-resumable run; returns dict of stage DataFrames."""
    return _run_pipeline(spark, corpus, workdir, None, cfg, resume)
