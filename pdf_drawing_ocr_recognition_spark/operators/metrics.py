"""Per-partition metrics (SURVEY.md M6, A22).

The reference records a single wall-clock ``time_cost`` per document
(pdor/pdor_unit.py:308,321).  At cluster scale the useful unit is the
partition: docs/s, bytes/s and cell-count histograms per Spark partition,
emitted as ordinary rows so they can be written alongside results and
aggregated with the same engine (BASELINE.json north_rule: "per-partition
lineage + metrics").  The bucketed job's unit of work is the manifest bucket,
so its rows come from the manifest the extraction itself committed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .manifest import read_manifest


def cell_count_histogram(extracted: "DataFrame", bucket_width: int = 8) -> "DataFrame":
    """Cell-count histogram over extraction output (M6: written alongside
    results) — bucketed n_cells distribution, one shuffle on tiny keys."""
    from pyspark.sql import functions as F

    return (
        extracted.select(
            (F.floor(F.col("n_cells") / bucket_width) * bucket_width)
            .cast("int")
            .alias("cells_bucket")
        )
        .groupBy("cells_bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def bucket_metrics(spark: SparkSession, output_dir: str) -> DataFrame:
    """One row per bucket committed under *output_dir*: the docs and html
    bytes its manifest row records, over the wall of the job that extracted
    it.  No Spark job reads the input; rows that record no ``n_bytes`` give
    NULL bytes."""
    return read_manifest(spark, output_dir).selectExpr(
        "bucket AS partition_id", "n_rows AS n_docs", "n_bytes", "wall_s",
        "n_rows / wall_s AS docs_per_s", "n_bytes / wall_s AS bytes_per_s",
    )
