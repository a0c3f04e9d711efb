"""T218 — ANALYZE TABLE column statistics commits."""

import pytest
from pyspark.sql import functions as F

from pdf_drawing_ocr_recognition_spark.sources import snapshots as S
from pdf_drawing_ocr_recognition_spark.sources.table_stats import (
    analyze_table,
    table_stats,
)


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "tbl")


def _docs(spark, n=500):
    return spark.range(0, n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 == 0, None)
        .otherwise((F.col("id") % 7).cast("string"))
        .alias("lang"),
        (F.col("id") % 50).alias("bucket"),
    )


def test_exact_stats_and_metadata_only_commit(spark, root):
    S.append_snapshot(_docs(spark).repartitionByRange(4, "doc_id"), root)
    files_before = S.read_manifest(root, 1)["files"]
    sid = analyze_table(spark, root, exact=True)
    assert sid == 2
    man = S.read_manifest(root, sid)
    assert man["operation"] == "compute-stats"
    assert man["files"] == files_before  # no data file touched
    st = table_stats(root)
    assert st["ndv_mode"] == "exact"
    assert st["columns"]["doc_id"] == {
        "n_nulls": 0, "ndv": 500, "min": 0, "max": 499,
    }
    assert st["columns"]["lang"]["n_nulls"] == 50
    assert st["columns"]["lang"]["ndv"] == 7
    assert st["columns"]["bucket"]["ndv"] == 50
    assert st["rows_added_since"] == 0
    assert st["commits_since"] == 0
    # the table still reads normally through the stats commit
    assert S.read_snapshot(spark, root).count() == 500


def test_stats_respect_deletes(spark, root):
    S.append_snapshot(_docs(spark), root)
    S.delete_from(spark, root, [("doc_id", "<", 100)])
    analyze_table(spark, root, exact=True)
    st = table_stats(root)
    assert st["columns"]["doc_id"]["min"] == 100
    assert st["columns"]["doc_id"]["ndv"] == 400
    assert st["analyzed_rows"] == 400


def test_staleness_and_time_scoping(spark, root):
    docs = _docs(spark)
    S.append_snapshot(docs.filter("doc_id < 300"), root)
    analyze_table(spark, root, exact=True)  # snapshot 2
    S.append_snapshot(docs.filter("doc_id >= 300"), root)  # snapshot 3
    st = table_stats(root)
    assert st["analyzed_snapshot"] == 1
    assert st["rows_added_since"] == 200
    # a reader pinned before the stats commit sees no stats
    with pytest.raises(ValueError, match="never been ANALYZEd"):
        table_stats(root, snapshot_id=1)


def test_delete_after_analyze_counts_as_a_commit(spark, root):
    S.append_snapshot(_docs(spark), root)
    analyze_table(spark, root, exact=True)
    S.delete_from(spark, root, [("doc_id", "<", 100)])
    st = table_stats(root)
    # no rows added, but the stats describe a table that has since changed
    assert st["rows_added_since"] == 0
    assert st["commits_since"] == 1


def test_approx_mode_and_validation(spark, root):
    df = _docs(spark, 1000).withColumn(
        "payload", F.encode(F.col("lang"), "utf-8")
    )
    S.append_snapshot(df, root)
    analyze_table(spark, root)  # approx, binary skipped
    st = table_stats(root)
    assert st["ndv_mode"].startswith("approx")
    assert st["skipped"] == ["payload"]
    ndv = st["columns"]["doc_id"]["ndv"]
    assert abs(ndv - 1000) / 1000 < 0.15  # HLL++ rsd 5%
    with pytest.raises(ValueError, match="unknown columns"):
        analyze_table(spark, root, cols=["nope"])
    with pytest.raises(ValueError, match="non-primitive"):
        analyze_table(spark, root, cols=["payload"])
