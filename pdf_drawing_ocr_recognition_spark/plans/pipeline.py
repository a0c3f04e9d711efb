"""End-to-end extraction pipeline composition (SURVEY.md §3.1 Spark lifecycle).

``read pages → pushed-down lang/time filters → [salted repartition] →
mapInPandas(extract kernel) → results (+ optional manifest-resumed variant)``.

The plan is declared with the DataFrame API only, so Catalyst provides filter
pushdown, column pruning (the fat ``html`` column is read only because the
kernel needs it; ``text`` never leaves the scan), and AQE coalescing for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.extract import EXTRACT_SCHEMA, extract_pages
from ..operators.skew import salted_repartition
from ..sources.pages import read_pages

OUTPUT_SCHEMA = EXTRACT_SCHEMA

TARGET_LANGS = ("en", "zh", "de")


def extraction_pipeline(
    spark: SparkSession,
    pages_path: str,
    patterns: dict[str, dict],
    langs: tuple[str, ...] = TARGET_LANGS,
    repartition: int | None = None,
) -> DataFrame:
    """The flagship job: pages table → extraction output table.

    *repartition* forces a salted url-hash redistribution before the extract
    stage — unnecessary for the narrow default path (file splits already
    balance), useful when upstream produced few/skewed partitions.
    """
    pages = read_pages(spark, pages_path, langs=langs)
    if repartition:
        pages = salted_repartition(pages, repartition)
    return extract_pages(pages, patterns)
