"""Distributed extraction operator — Arrow-batched ``mapInPandas`` over pages.

The whole reference pipeline (load → imagify → crop → decode → filter/parse →
merge → render; pdor/pdor_unit.py:298-321) collapses into ONE narrow Spark
stage: a document is one row, its pages live inside the ``html`` payload, so
per-document assembly needs no shuffle at all.  ``mapInPandas`` streams Arrow
batches through the pure-Python kernel (``kernel.page.extract_document``) —
per-batch Python cost is amortized, per-row Python is never exposed to Spark
(BASELINE.json input_hint: vectorized UDFs only).

Scale posture (100 TB): the operator is embarrassingly parallel; input split
sizing (``spark.sql.files.maxPartitionBytes``) controls task granularity and
``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds per-batch memory for
wide ``html`` payloads.  Column pruning matters enormously here — callers must
select only (url, html, lang) so the parquet scan never reads ``text``.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernel.page import extract_document

EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("error_kind", T.StringType()),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("group", T.StringType()),
                        T.StructField("idx", T.IntegerType()),
                        T.StructField(
                            "fields", T.MapType(T.StringType(), T.StringType())
                        ),
                    ]
                )
            ),
        ),
        T.StructField("extracted_text", T.StringType()),
        T.StructField("n_cells", T.IntegerType()),
        T.StructField("n_subs_failed", T.IntegerType()),
    ]
)


def extract_pages(pages: DataFrame, patterns: dict[str, dict]) -> DataFrame:
    """pages(url, html, lang, ...) → extraction output (SURVEY.md D4 schema).

    *patterns* is the small pattern dimension (ref registry,
    pdor/pdor_pattern.py:168-187) shipped to executors inside the task closure —
    the degenerate broadcast join for a dict-sized dimension.
    """
    cols = ["url", "html", "lang"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                extract_document(url, html, lang, patterns)
                for url, html, lang in zip(pdf["url"], pdf["html"], pdf["lang"])
            ]
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in EXTRACT_SCHEMA.fields],
            )

    return pages.select(*cols).mapInPandas(run, EXTRACT_SCHEMA)
