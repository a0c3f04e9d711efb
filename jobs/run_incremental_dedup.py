"""spark-submit entrypoint for daily incremental (corpus-delta) dedup.

    # day 0 — bootstrap the index from the accumulated corpus (once):
    spark-submit --py-files dist/pdor_spark.zip jobs/run_incremental_dedup.py \
        --bootstrap <corpus parquet> --index <index dir>

    # every ingest day — dedupe the new batch against corpus ∪ prior batches,
    # write the survivors, fold them into the index:
    spark-submit --py-files dist/pdor_spark.zip jobs/run_incremental_dedup.py \
        --batch <batch parquet> --index <index dir> --out <output dir> \
        [--no-append] [--master local[8]]

The corpus documents are never rescanned: the only corpus state touched is
the persisted (digest, key) + (band_key, key) index relations, probed with
semi/anti joins, so per-day work scales with |batch| — the operation a
100-TB ingest pipeline runs daily (see operators/dedup.incremental_dedupe).
"""

from __future__ import annotations

import argparse
import sys


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--bootstrap", help="corpus parquet to (re)build the index from")
    parser.add_argument("--batch", help="new-batch parquet to dedupe against the index")
    parser.add_argument("--index", required=True, help="dedup index directory")
    parser.add_argument("--out", help="survivor output dir (required with --batch)")
    parser.add_argument(
        "--no-append",
        action="store_true",
        help="do not fold the surviving batch into the index",
    )
    parser.add_argument("--key-col", default="doc_id")
    parser.add_argument("--text-col", default="text")
    parser.add_argument("--master", default=None)
    args = parser.parse_args(argv)
    if bool(args.bootstrap) == bool(args.batch):
        parser.error("exactly one of --bootstrap / --batch is required")
    if args.batch and not args.out:
        parser.error("--out is required with --batch")

    from pdf_drawing_ocr_recognition_spark.operators.dedup import (
        append_to_dedup_index,
        incremental_dedupe,
        minhash_signatures,
        write_dedup_index,
    )
    from pdf_drawing_ocr_recognition_spark.plans.session import build_session

    spark = build_session(app="pdor-incremental-dedup", master=args.master)
    if args.bootstrap:
        corpus = spark.read.parquet(args.bootstrap)
        write_dedup_index(corpus, args.index, args.text_col, args.key_col)
        n = spark.read.parquet(f"{args.index}/digests").count()
        print(f"index bootstrapped: {n} digests → {args.index}")
    else:
        batch = spark.read.parquet(args.batch)
        # signed once: the probe's two near branches and the index fold
        # read the same materialized signatures
        sigs = minhash_signatures(batch, args.text_col, args.key_col).localCheckpoint()
        survivors = incremental_dedupe(
            batch,
            spark.read.parquet(f"{args.index}/digests"),
            spark.read.parquet(f"{args.index}/bands"),
            args.text_col,
            args.key_col,
            sigs=sigs,
        )
        survivors.write.mode("overwrite").parquet(f"{args.out}/survivors")
        kept = spark.read.parquet(f"{args.out}/survivors")
        n_in, n_kept = batch.count(), kept.count()
        if not args.no_append:
            append_to_dedup_index(
                kept, args.index, args.text_col, args.key_col, sigs=sigs
            )
        print(
            f"incremental dedup: {n_in} in → {n_kept} kept "
            f"({n_in - n_kept} dropped); index "
            f"{'appended' if not args.no_append else 'left unchanged'}"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
