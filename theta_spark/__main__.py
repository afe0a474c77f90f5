"""spark-submit entry point for the KG-construction pipeline.

North-rule deployment contract: the job ships as a plain script plus the
package zip —

    zip -r theta_spark.zip theta_spark
    spark-submit --py-files theta_spark.zip theta_spark/__main__.py \
        --input warehouse.code.corpus --workdir s3://bucket/kg/run1 --resume

(`--input` is an Iceberg table identifier when a catalog is configured, or
a parquet/json path; `sources.io.read_table` routes either way.) Locally
the same module runs as `python -m theta_spark --synthetic 5000 --workdir
/tmp/kg`.

The driver process only plans: it resolves the scorer (training/loading
numpy weights once, shipped to executors via closure broadcast), wires the
checkpoint-resumable stages, and prints one JSON line of per-stage
manifests (rows_out, wall_ms) — all row work happens in executors.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="theta_spark",
        description="PySpark-native KG construction: corpus -> mentions -> triples -> canonicalized nodes/edges",
    )
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="Iceberg table identifier or parquet/json path with columns (repo, path, commit, lang, content)")
    src.add_argument("--synthetic", type=int, metavar="N_DOCS", help="synthesize a deterministic N-doc corpus instead (smoke/bench)")
    p.add_argument("--workdir", required=True, help="stage snapshot root (parquet + per-stage manifests)")
    p.add_argument("--resume", action="store_true", help="reuse completed stage snapshots found in --workdir")
    p.add_argument(
        "--incremental-from", metavar="PRIOR_WORKDIR", default=None,
        help="prior run's workdir: re-score only new/changed docs (by doc_id+sha256), reuse prior mention/triple rows for byte-identical docs, rebuild the graph layer from the merge",
    )
    p.add_argument(
        "--scorer", default="rule",
        help="'rule', 'mlp', or a path to .npz weights saved by sources.registry.save_model (checkpoint inference)",
    )
    p.add_argument("--decoder", choices=["span", "crf", "globalpointer"], default="span")
    p.add_argument(
        "--gp-max-span", type=int, default=64,
        help="globalpointer decoder only: widest span (in tokens) the banded span matrix scores",
    )
    p.add_argument("--confidence", type=float, default=0.0)
    p.add_argument("--seed", type=int, default=42, help="synthetic corpus seed")
    p.add_argument("--master", default=None, help="override master (default: spark-submit/env provided)")
    return p


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)

    from theta_spark.config import PipelineConfig
    from theta_spark.pipeline import run_pipeline, run_pipeline_incremental, stage_complete, stage_manifest
    from theta_spark.session import get_spark

    spark = get_spark(app_name="theta-spark-kg", master=args.master)
    cfg = PipelineConfig(
        confidence=args.confidence, scorer=args.scorer, decoder=args.decoder,
        gp_max_span=args.gp_max_span,
    )

    if args.synthetic is not None:
        from theta_spark.corpus import corpus_df

        corpus, _ = corpus_df(spark, args.synthetic, seed=args.seed, with_docs=False)
    else:
        from theta_spark.sources.io import read_table

        corpus = read_table(spark, args.input)

    if args.incremental_from:
        stages = run_pipeline_incremental(
            spark, corpus, args.workdir, args.incremental_from, cfg, resume=args.resume
        )
    else:
        stages = run_pipeline(spark, corpus, args.workdir, cfg, resume=args.resume)

    manifests = {
        stage: stage_manifest(args.workdir, stage)
        for stage in stages
        if stage_complete(args.workdir, stage)
    }
    print(json.dumps({"workdir": args.workdir, "scorer": cfg.scorer, "decoder": cfg.decoder, "stages": manifests}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
