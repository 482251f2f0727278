#!/usr/bin/env python
"""spark-submit entry point for the identity-resolution pipeline.

The north-rule deployment shape:

    python jobs/package_pyfiles.py                      # build dist/eaps.zip
    spark-submit --master <cluster> \\
        --py-files dist/eaps.zip \\
        jobs/run_pipeline.py \\
        --input  <transcripts parquet/iceberg path | testdata sf dir> \\
        --checkpoint-dir <stage store> --output <clusters table>

Reads the transcripts table (input_hint schema: conv_id, turn_idx, role,
text, tool, ts), runs extract → parse, then the production chain
(`pipeline.resolve`: block → score → cluster) with per-stage checkpoints (resume = rerun the same command; completed stages are
skipped from their manifests), writes clusters + a run manifest.

In the sandbox the same command runs against local[N] and the driver
testdata (pass --sf-dir instead of --input to derive transcripts from the
TPC-H-ish tables).
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path


def main(argv=None) -> int:
    # imports deferred until after spark-submit has set up the python path
    # from --py-files
    from email_address_parser_spark.operators.scoring import DEFAULT_THRESHOLD
    from email_address_parser_spark.pipeline import (
        HOT_THRESHOLD,
        TARGET_BLOCK,
        PipelineConfig,
        run_pipeline,
    )
    from email_address_parser_spark.session import build_session
    from email_address_parser_spark.sources.testdata import derive_transcripts

    p = argparse.ArgumentParser(description=__doc__)
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="transcripts parquet path (input_hint schema)")
    src.add_argument("--sf-dir", help="driver testdata dir; transcripts are derived")
    p.add_argument("--output", required=True, help="clusters output parquet path")
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--threshold", type=float, default=DEFAULT_THRESHOLD)
    p.add_argument("--hot-threshold", type=int, default=HOT_THRESHOLD)
    p.add_argument("--target-block-size", type=int, default=TARGET_BLOCK)
    p.add_argument("--no-resume", action="store_true")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    existing = SparkSession.getActiveSession()
    spark = existing or build_session(app_name="er-pipeline")
    t0 = time.time()
    if args.sf_dir:
        transcripts = derive_transcripts(spark, args.sf_dir)
    else:
        transcripts = spark.read.parquet(args.input)

    cfg = PipelineConfig(
        checkpoint_dir=args.checkpoint_dir,
        resume=not args.no_resume,
        threshold=args.threshold,
        hot_threshold=args.hot_threshold,
        target_block_size=args.target_block_size,
    )
    out = run_pipeline(spark, transcripts, cfg)
    out["clusters"].write.mode("overwrite").parquet(args.output)

    clusters = spark.read.parquet(args.output)
    manifest = {
        "output": args.output,
        "n_emails": clusters.count(),
        "n_clusters": clusters.select("cluster_id").distinct().count(),
        "elapsed_sec": round(time.time() - t0, 2),
        "config": {k: getattr(cfg, k) for k in (
            "threshold", "hot_threshold", "target_block_size", "resume")},
    }
    Path(args.output + "_RUN_MANIFEST.json").write_text(json.dumps(manifest, indent=2))
    print(json.dumps(manifest))
    if existing is None:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
