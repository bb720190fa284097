"""spark-submit entry point for the extraction pipeline.

North-rule launch shape:

    spark-submit --py-files docling_ibm_models_spark.zip \\
        -m docling_ibm_models_spark.run \\
        --pages /data/pages --out file:///shared/out [--partitions 4096] \\
        [--chunk-partitions 64] [--snapshot-desc crawl-2024-18]

``--out`` must be on the local filesystem (on a cluster: a mount the
driver and every executor share); any other scheme is refused, since the
lineage and manifest files are written by the driver.

or locally:

    python -m docling_ibm_models_spark.run --pages ... --out ...

Re-running the same command after a failure resumes from the last
committed file-group (pipeline/lineage.py).
"""

from __future__ import annotations

import argparse
import json
import sys

from docling_ibm_models_spark.pipeline.lineage import run_extraction, snapshot_id_for
from docling_ibm_models_spark.session import get_spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Main-content extraction over a pages table")
    ap.add_argument("--pages", required=True, help="input pages parquet dir (input_hint shape)")
    ap.add_argument("--out", required=True, help="local or file: output dir (doc_text/ + lineage/)")
    ap.add_argument(
        "--format",
        choices=["parquet", "warc"],
        default="parquet",
        help="input layout: lake pages table (parquet) or raw crawl archives (warc)",
    )
    ap.add_argument("--partitions", type=int, default=32, help="lineage file groups")
    ap.add_argument("--chunk-partitions", type=int, default=None, help="groups per commit")
    ap.add_argument("--snapshot-desc", default=None, help="snapshot descriptor (defaults to pages path)")
    ap.add_argument("--master", default=None, help="override master (default: spark-submit / local[$SPARK_GRAFT_CPUS])")
    args = ap.parse_args(argv)

    spark = get_spark(app_name="docling-extract", master=args.master)
    snap = snapshot_id_for(args.snapshot_desc or args.pages)
    report = run_extraction(
        spark,
        args.pages,
        args.out,
        snap,
        num_partitions=args.partitions,
        chunk_partitions=args.chunk_partitions,
        input_format=args.format,
    )
    print(json.dumps(report.__dict__))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
