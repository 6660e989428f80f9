"""Production entry point: spark-submit --py-files qwen_ocr_spark.zip \
    scripts/run_extract.py --pages <in> --out <out> --manifest <m> [...]

Reads the pages table, drops already-committed urls (anti-join resume),
runs the extraction and commits it as one run: figures, output, then the
per-partition manifest (``sinks.manifest.commit_run``).  At start-up it
backfills missing manifests and reaps what killed runs left behind once
it is a day old (staging directories, orphan figure runs).  Kill it at any
point and re-run with the same arguments: committed work is never
reprocessed (north_rule resumability).
"""

from __future__ import annotations

import argparse
import uuid


def _manifest_total(spark, manifest_path: str) -> int:
    """Sum of committed row counts; 0 only when the manifest doesn't exist
    yet (a genuinely empty first run) — other read failures propagate."""
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    from qwen_ocr_spark.sinks.manifest import MANIFEST_SCHEMA
    try:
        man = spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_path)
    except AnalysisException:
        return 0
    return man.agg(F.sum("row_count")).collect()[0][0] or 0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="input pages parquet/table dir")
    ap.add_argument("--out", required=True, help="output table dir")
    ap.add_argument("--figures", default=None, help="figures side-output dir")
    ap.add_argument("--manifest", required=True, help="manifest table dir")
    ap.add_argument("--lang", default=None, help="optional lang pushdown filter")
    ap.add_argument("--salt", type=int, default=0)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--no-repartition", action="store_true",
                    help="input already balanced; skip the salted shuffle")
    ap.add_argument("--master", default=None)
    ap.add_argument("--stream", action="store_true",
                    help="run as Structured Streaming ingest: new page files "
                         "landing under --pages are extracted incrementally")
    ap.add_argument("--checkpoint", default=None,
                    help="streaming checkpoint dir (required with --stream)")
    ap.add_argument("--continuous", action="store_true",
                    help="with --stream: keep running instead of draining "
                         "what's available and exiting")
    args = ap.parse_args()

    from qwen_ocr_spark.operators.extract import extract_pages
    from qwen_ocr_spark.plans.session import get_spark
    from qwen_ocr_spark.sinks.manifest import (
        clean_orphan_figures,
        clean_staging,
        commit_run,
        reconcile_manifest,
        resume_filter,
    )
    from qwen_ocr_spark.sources.pages import PAGES_SCHEMA

    spark = get_spark(master=args.master, app_name="qwen-ocr-spark-extract")
    run_id = f"run-{uuid.uuid4().hex[:12]}"

    if args.stream:
        if not args.checkpoint:
            ap.error("--stream requires --checkpoint")
        from qwen_ocr_spark.streaming.extract_stream import stream_extract
        q = stream_extract(spark, args.pages, args.out, args.manifest,
                           args.checkpoint, available_now=not args.continuous,
                           figures_path=args.figures)
        q.awaitTermination()
        print(f"stream: committed total={_manifest_total(spark, args.manifest)}")
        spark.stop()
        return

    # startup reconcile: backfill the manifest of any run whose crash
    # landed between its output commit and its manifest write
    backfilled = reconcile_manifest(spark, args.out, args.manifest)
    if backfilled:
        print(f"reconciled: backfilled lineage for {backfilled} rows")
    # janitor: what killed runs left behind, once old enough that no live
    # job can still own it
    reaped = [d for root in (args.out, args.manifest, args.figures) if root
              for d in clean_staging(spark, root)]
    if args.figures:
        reaped += clean_orphan_figures(spark, args.figures, args.out)
    if reaped:
        print(f"cleaned: {' '.join(reaped)}")

    # declared schema: an inferred one costs a footer-reading Spark job
    pages = spark.read.schema(PAGES_SCHEMA).parquet(args.pages)
    out = extract_pages(
        resume_filter(pages, args.out), salt=args.salt,
        partitions=args.partitions, lang=args.lang,
        repartition=not args.no_repartition,
    )
    new_rows = commit_run(out, args.out, args.manifest, run_id, args.figures)

    # report from the manifest (tiny), never by rescanning the output table
    total = _manifest_total(spark, args.manifest)
    print(f"{run_id}: committed new={new_rows} total={total}")
    spark.stop()


if __name__ == "__main__":
    main()
