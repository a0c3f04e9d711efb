"""Checkpoint/lineage manifests — idempotent resume (SURVEY.md M5, A21).

Generalizes the reference's parse-once guard (pdor/pdor_unit.py:303-306,
is_parsed :323-328) into job-level machinery for 10^12-document runs:

- work is partitioned into **buckets** by ``pmod(xxhash64(url), n_buckets)``
  (content-addressed, independent of file layout, stable across runs);
- each completed bucket commits its result dir ``bucket=K/`` (atomic rename)
  AND then a manifest row ``_manifest/bucket-KKKKK.json`` (bucket, n_buckets,
  n_rows, n_failed, wall_s, committed_ts; fsync + rename).  A bucket with no
  rows commits a row with ``n_rows`` 0 and no result dir;
- resume = ``range(n_buckets)`` minus the committed buckets, read from the
  manifest on the driver with no Spark job.  All pending buckets are
  extracted by ONE write job, so a run scans its input once whatever
  ``n_buckets`` is, and a fully committed output resumes with no extraction
  and no scan.

``n_buckets`` is fixed for the life of an output dir: under another count a
bucket index names other urls, so a resume with a committed row of another
count (or, for rows that record none, of an index ≥ ``n_buckets``) raises
``ValueError``.  An output with no rows has no ``bucket=K/`` dir; its result
is an empty frame with the usual columns.

The manifest is itself a small JSON table next to the results, so lineage
(which bucket produced which rows, at what throughput) is queryable with the
same engine (``read_manifest``).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def bucket_of(url_col, n_buckets: int) -> F.Column:
    return F.pmod(F.xxhash64(url_col), F.lit(n_buckets)).cast("int")


def manifest_path(output_dir: str) -> str:
    return os.path.join(output_dir, "_manifest")


def manifest_rows(output_dir: str) -> list[dict]:
    """Committed manifest rows, read on the driver (no Spark job)."""
    rows = []
    for f in sorted(glob.glob(os.path.join(manifest_path(output_dir), "*.json"))):
        with open(f, "r", encoding="utf-8") as fh:
            rows.append(json.load(fh))
    return rows


def read_manifest(spark: SparkSession, output_dir: str) -> DataFrame:
    """Committed-bucket manifest (empty frame when no run has committed yet)."""
    schema = "bucket INT, n_buckets INT, n_rows LONG, n_failed LONG, wall_s DOUBLE, committed_ts STRING"
    return spark.createDataFrame(manifest_rows(output_dir), schema)


def _commit_bucket(
    output_dir: str, bucket: int, n_rows: int, n_failed: int, wall_s: float,
    n_buckets: int | None = None,
) -> None:
    """Atomic manifest commit: write temp file, fsync, rename.  The streaming
    path has no bucket count and records none."""
    path = manifest_path(output_dir)
    os.makedirs(path, exist_ok=True)
    payload = {
        "bucket": bucket,
        "n_rows": n_rows,
        "n_failed": n_failed,
        "wall_s": wall_s,
        "committed_ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    if n_buckets is not None:
        payload["n_buckets"] = n_buckets
    tmp = os.path.join(path, f".bucket-{bucket:05d}.json.tmp")
    final = os.path.join(path, f"bucket-{bucket:05d}.json")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(payload, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, final)


def run_with_manifest(
    spark: SparkSession,
    pages: DataFrame,
    extract_fn,
    output_dir: str,
    n_buckets: int = 8,
) -> DataFrame:
    """Extract every pending bucket in one write job, then commit them; returns results.

    The job writes ``extract_fn`` over the pending buckets' pages with
    ``partitionBy("bucket")`` into ``<output_dir>/.staging.tmp``; an
    ``Observation`` on the write counts rows and failures per bucket, so
    there is no extra action.  The driver then renames each staged
    ``bucket=K/`` into place and commits its manifest row, bucket by bucket.
    Readers therefore never see a half-written bucket.  Every bucket of the
    run records the same ``wall_s``: the wall time of the job that produced
    it.  Empty buckets are committed too (``n_rows`` 0, no result dir), so a
    resume does not look for them again.

    Restart unit: a kill during the write redoes the whole pending set; a
    kill inside the commit loop redoes only the buckets not yet committed.
    Output is exactly-once in both cases, because the kernel is
    deterministic, a stale ``bucket=K/`` or staging dir is removed before it
    is replaced, and a bucket counts as done only once its row is committed.
    """
    done = set()
    for row in manifest_rows(output_dir):
        if row.get("n_buckets", n_buckets) != n_buckets or row["bucket"] >= n_buckets:
            was = f"={row['n_buckets']}" if "n_buckets" in row else f" > {row['bucket']}"
            raise ValueError(
                f"{output_dir} was committed with n_buckets{was}; this run asks for "
                f"n_buckets={n_buckets}.  Resume with the same count, or use a new dir."
            )
        done.add(row["bucket"])
    pending = [b for b in range(n_buckets) if b not in done]
    if pending:
        _extract_pending(pages, extract_fn, output_dir, n_buckets, pending)
    if not glob.glob(os.path.join(output_dir, "bucket=*")):
        # nothing landed, and a parquet read of no path fails: build the
        # empty result from the plan instead (no Spark job runs)
        none = extract_fn(pages.where(F.lit(False)))
        return none.withColumn("bucket", bucket_of(F.col("url"), n_buckets))
    return spark.read.option("basePath", output_dir).parquet(
        os.path.join(output_dir, "bucket=*")
    )


def _extract_pending(pages, extract_fn, output_dir, n_buckets, pending) -> None:
    t0 = time.time()
    bucket = bucket_of(F.col("url"), n_buckets)
    result = extract_fn(pages.filter(bucket.isin(pending))).withColumn("bucket", bucket)
    obs = Observation("manifest")
    failed = (F.col("status") == "failed").cast("long")
    stats = []
    for b in pending:
        in_b = (F.col("bucket") == b).cast("long")
        stats += [F.sum(in_b).alias(f"n{b}"), F.sum(in_b * failed).alias(f"nf{b}")]
    staging = os.path.join(output_dir, ".staging.tmp")
    shutil.rmtree(staging, ignore_errors=True)  # left by a run killed mid-write
    result.observe(obs, *stats).write.partitionBy("bucket").parquet(staging)
    counts = obs.get
    wall_s = time.time() - t0
    for b in pending:
        final_dir = os.path.join(output_dir, f"bucket={b}")
        shutil.rmtree(final_dir, ignore_errors=True)
        staged = os.path.join(staging, f"bucket={b}")
        if os.path.isdir(staged):
            os.replace(staged, final_dir)
        _commit_bucket(output_dir, b, counts[f"n{b}"] or 0, counts[f"nf{b}"] or 0, wall_s, n_buckets)
    shutil.rmtree(staging)
