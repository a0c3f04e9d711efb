"""spark-submit entrypoint (BASELINE.json north_rule launch mode).

    spark-submit --py-files dist/pdor_spark.zip jobs/run_extraction.py \
        --pages <pages parquet dir> --patterns <patterns.json> \
        --out <output dir> [--buckets 64] [--langs en,zh,de] [--master M] \
        [--iceberg]

Runs the manifest-resumable extraction job: one Spark job extracts every
bucket not yet committed under <out>/_manifest, and killed runs resume
idempotently (re-invoke with the same --out and --buckets).  The printed
document count is the sum of the committed manifest rows' n_rows.
Per-bucket metrics (docs, html bytes and the wall of the job that extracted
the bucket, one row per _manifest row, built with no Spark job over the
input) are written to <out>/_metrics and a cell-count histogram to
<out>/_metrics_cells, alongside the results and the _manifest lineage.
"""

from __future__ import annotations

import argparse
import sys


def main(argv=None, spark=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--pages", required=True)
    parser.add_argument("--patterns", required=True)
    parser.add_argument("--out", required=True)
    parser.add_argument("--buckets", type=int, default=64)
    parser.add_argument("--langs", default="en,zh,de")
    parser.add_argument("--master", default=None)
    parser.add_argument(
        "--iceberg",
        action="store_true",
        help="--pages is an Iceberg catalog table (requires the runtime jar "
        "+ catalog confs; see ICEBERG.md), not a parquet path",
    )
    args = parser.parse_args(argv)

    from pdf_drawing_ocr_recognition_spark.operators.extract import extract_pages
    from pdf_drawing_ocr_recognition_spark.operators.manifest import manifest_rows, run_with_manifest
    from pdf_drawing_ocr_recognition_spark.operators.metrics import (
        bucket_metrics,
        cell_count_histogram,
    )
    from pdf_drawing_ocr_recognition_spark.plans.session import build_session
    from pdf_drawing_ocr_recognition_spark.sources.pages import read_pages
    from pdf_drawing_ocr_recognition_spark.sources.pattern_registry import load_patterns

    own_session = spark is None
    if own_session:
        spark = build_session(app="pdor-extract", master=args.master)
    patterns = load_patterns(args.patterns)
    langs = tuple(x for x in args.langs.split(",") if x)

    if args.iceberg:
        from pdf_drawing_ocr_recognition_spark.sources.iceberg import (
            read_pages_iceberg,
        )

        pages = read_pages_iceberg(spark, args.pages, langs=langs)
    else:
        pages = read_pages(spark, args.pages, langs=langs)
    result = run_with_manifest(
        spark,
        pages,
        lambda df: extract_pages(df, patterns),
        args.out,
        n_buckets=args.buckets,
    )
    n = sum(row["n_rows"] for row in manifest_rows(args.out))
    bucket_metrics(spark, args.out).write.mode("overwrite").parquet(f"{args.out}/_metrics")
    cell_count_histogram(result).write.mode("overwrite").parquet(
        f"{args.out}/_metrics_cells"
    )
    print(f"extraction complete: {n} documents → {args.out}")
    if own_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
