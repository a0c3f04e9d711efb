"""T212 — incremental view maintenance from the changelog.

The invariant: after ANY commit history, the maintained view is
byte-equal to a direct groupBy over the table's final state — while only
ever reading the changelog delta (count/sum) plus the dirty groups'
rows (min/max)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from pdf_drawing_ocr_recognition_spark.operators.ivm import (
    maintain_agg,
    read_view,
    view_snapshot_id,
)
from pdf_drawing_ocr_recognition_spark.sources import snapshots as S

AGGS = {
    "n_docs": ("count",),
    "sum_chars": ("sum", "n_chars"),
    "min_chars": ("min", "n_chars"),
    "max_chars": ("max", "n_chars"),
}


@pytest.fixture()
def paths(tmp_path):
    return str(tmp_path / "tbl"), str(tmp_path / "view")


def _docs(spark, n=1000):
    # lang 3 is an all-NULL group: its sum/min/max are NULL, never 0
    return spark.range(0, n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 5).alias("lang"),
        F.when(F.col("id") % 5 != 3, F.col("id") * 3).alias("n_chars"),
    )


def _direct(spark, root):
    t = S.read_snapshot(spark, root)
    return sorted(
        tuple(r)
        for r in t.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .collect()
    )


def _view(spark, root, view):
    return sorted(
        tuple(r)
        for r in maintain_agg(spark, root, view, ["lang"], AGGS).collect()
    )


def test_fold_equals_direct_through_every_commit_kind(spark, paths):
    root, view = paths
    docs = _docs(spark)
    # bootstrap (full compute)
    S.append_snapshot(docs.filter("doc_id < 600"), root)
    assert _view(spark, root, view) == _direct(spark, root)
    assert view_snapshot_id(view) == 1
    # append → algebraic fold
    S.append_snapshot(docs.filter("doc_id >= 600"), root)
    assert _view(spark, root, view) == _direct(spark, root)
    # MOR position delete kills every group's maximum → dirty recompute
    S.delete_from(spark, root, [("doc_id", ">=", 900)])
    assert _view(spark, root, view) == _direct(spark, root)
    # equality-delete upsert (delete+insert in one commit)
    S.upsert_eq(
        spark,
        root,
        docs.filter("doc_id % 7 = 0").withColumn(
            "n_chars", F.col("n_chars") + 100
        ),
        ["doc_id"],
    )
    assert _view(spark, root, view) == _direct(spark, root)
    # overwrite drops group 4 entirely → its view row must die
    S.overwrite_snapshot(
        S.read_snapshot(spark, root).filter("lang < 4"), root
    )
    got = _view(spark, root, view)
    assert got == _direct(spark, root)
    assert all(r[0] != 4 for r in got)
    # idempotent at the same snapshot
    assert _view(spark, root, view) == got
    assert view_snapshot_id(view) == S.current_snapshot_id(root)


def test_null_group_keys_are_groups(spark, paths):
    root, view = paths
    df = spark.createDataFrame(
        [(1, "a", 10), (2, None, 20), (3, None, 30), (4, "a", 5)],
        "doc_id long, src string, n_chars long",
    )
    aggs = {"n": ("count",), "mx": ("max", "n_chars")}
    S.append_snapshot(df, root)
    maintain_agg(spark, root, view, ["src"], aggs)
    # delete the NULL group's maximum → recompute must target the NULL
    # group (null-safe matching end to end)
    S.delete_from(spark, root, [("doc_id", "==", 3)])
    v = {
        r["src"]: (r["n"], r["mx"])
        for r in maintain_agg(spark, root, view, ["src"], aggs).collect()
    }
    assert v == {"a": (2, 10), None: (1, 20)}


def test_validation_raises(spark, paths):
    root, view = paths
    S.append_snapshot(_docs(spark, 50), root)
    with pytest.raises(ValueError, match="count"):
        maintain_agg(spark, root, view, ["lang"], {"s": ("sum", "n_chars")})
    with pytest.raises(ValueError, match="unsupported aggregate"):
        maintain_agg(
            spark, root, view, ["lang"],
            {"n": ("count",), "a": ("avg", "n_chars")},
        )
    S2 = spark.createDataFrame([(1, 1.5)], "k long, x double")
    root2 = root + "_f"
    S.append_snapshot(S2, root2)
    with pytest.raises(ValueError, match="exact-integer"):
        maintain_agg(
            spark, root2, view + "_f", ["k"],
            {"n": ("count",), "s": ("sum", "x")},
        )


def test_spec_mismatch_and_rewind_refuse(spark, paths):
    root, view = paths
    S.append_snapshot(_docs(spark, 100), root)
    maintain_agg(spark, root, view, ["lang"], AGGS)
    with pytest.raises(ValueError, match="different spec"):
        maintain_agg(
            spark, root, view, ["lang"], {"n_docs": ("count",)}
        )
    S.append_snapshot(_docs(spark, 100), root)
    maintain_agg(spark, root, view, ["lang"], AGGS)
    with pytest.raises(ValueError, match="never rewind"):
        maintain_agg(spark, root, view, ["lang"], AGGS, upto=1)


def test_expired_changelog_raises_unless_rebuild_auto(spark, paths):
    root, view = paths
    docs = _docs(spark, 300)
    S.append_snapshot(docs.filter("doc_id < 100"), root)
    maintain_agg(spark, root, view, ["lang"], AGGS)
    S.append_snapshot(docs.filter("doc_id >= 100 and doc_id < 200"), root)
    S.append_snapshot(docs.filter("doc_id >= 200"), root)
    S.expire_snapshots(root, keep_last=1)
    with pytest.raises(ValueError, match="expired"):
        maintain_agg(spark, root, view, ["lang"], AGGS)
    v = maintain_agg(spark, root, view, ["lang"], AGGS, rebuild="auto")
    assert sorted(tuple(r) for r in v.collect()) == _direct(spark, root)


def test_view_survives_interrupted_swap(spark, paths):
    root, view = paths
    S.append_snapshot(_docs(spark, 100), root)
    maintain_agg(spark, root, view, ["lang"], AGGS)
    before = sorted(tuple(r) for r in read_view(spark, view).collect())
    # simulate a crash between the two publish renames: live moved aside
    os.rename(view, view + "_bak")
    assert sorted(tuple(r) for r in read_view(spark, view).collect()) == before
    assert view_snapshot_id(view) == 1
