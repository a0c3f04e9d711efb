"""T219 — metadata-driven join planning.

Every strategy must return exactly the plain join's rows; the decision
must match the metadata scenario and carry auditable evidence."""

import pytest
from pyspark.sql import functions as F

from pdf_drawing_ocr_recognition_spark.operators.join_planner import (
    auto_join,
    choose_join_strategy,
)
from pdf_drawing_ocr_recognition_spark.sources import snapshots as S
from pdf_drawing_ocr_recognition_spark.sources.file_blooms import (
    compute_file_blooms,
)
from pdf_drawing_ocr_recognition_spark.sources.table_stats import (
    analyze_table,
)


def _facts(spark, n=2000):
    return spark.range(0, n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 13).alias("lang"),
        (F.col("id") * 3).alias("n_chars"),
    )


def _dim(spark, ids):
    return spark.createDataFrame(
        [(int(i), f"label{i}") for i in ids], "doc_id long, label string"
    )


def _plain(spark, ra, rb, key="doc_id"):
    da, db = S.read_snapshot(spark, ra), S.read_snapshot(spark, rb)
    return sorted(tuple(r) for r in da.join(db, key).collect())


def _check(spark, ra, rb, expect_strategy, **kw):
    out, decision = auto_join(spark, ra, rb, "doc_id", **kw)
    assert decision["strategy"] == expect_strategy, decision["reason"]
    assert sorted(tuple(r) for r in out.collect()) == _plain(spark, ra, rb)
    return decision


def test_spj_when_cobucketed(spark, tmp_path):
    ra, rb = str(tmp_path / "a"), str(tmp_path / "b")
    spec = [{"source": "doc_id", "transform": "bucket[8]"}]
    S.append_snapshot(_facts(spark), ra, partition_spec=spec)
    S.append_snapshot(
        _dim(spark, range(0, 2000, 3)), rb, partition_spec=spec
    )
    _check(spark, ra, rb, "spj")


def test_broadcast_small_side(spark, tmp_path):
    ra, rb = str(tmp_path / "a"), str(tmp_path / "b")
    S.append_snapshot(_facts(spark), ra)
    S.append_snapshot(_dim(spark, [1, 5, 9]), rb)
    d = _check(spark, ra, rb, "broadcast")
    assert d["build_side"] == "b"


def test_runtime_filter_with_bloom_power(spark, tmp_path):
    ra, rb = str(tmp_path / "a"), str(tmp_path / "b")
    S.append_snapshot(_facts(spark).repartition(8), ra)
    compute_file_blooms(spark, ra, "doc_id")
    S.append_snapshot(_dim(spark, range(0, 100)), rb)
    # force past broadcast with a 1-byte budget; dim rows bound its keys
    d = _check(spark, ra, rb, "runtime_filter", broadcast_bytes=1)
    assert d["build_side"] == "b"
    assert "bloom" in d["reason"]
    # ANALYZE sharpens the evidence source
    analyze_table(spark, rb, exact=True)
    d2 = choose_join_strategy(ra, rb, "doc_id", broadcast_bytes=1)
    assert d2["strategy"] == "runtime_filter"
    assert d2["b"]["ndv_source"].startswith("analyze")
    # stale stats (rows landed since) fall back to the row upper bound
    S.append_snapshot(_dim(spark, [5000]), rb)
    d3 = choose_join_strategy(ra, rb, "doc_id", broadcast_bytes=1)
    assert d3["b"]["ndv_source"] == "row_count_upper_bound"


def test_shuffle_fallback(spark, tmp_path):
    ra, rb = str(tmp_path / "a"), str(tmp_path / "b")
    S.append_snapshot(_facts(spark), ra)  # no bloom, no spec
    S.append_snapshot(_dim(spark, range(0, 200)), rb)
    d = _check(
        spark, ra, rb, "shuffle", broadcast_bytes=1, max_filter_keys=10
    )
    assert d["build_side"] is None


def test_mismatched_buckets_do_not_spj(spark, tmp_path):
    ra, rb = str(tmp_path / "a"), str(tmp_path / "b")
    S.append_snapshot(
        _facts(spark), ra,
        partition_spec=[{"source": "doc_id", "transform": "bucket[8]"}],
    )
    S.append_snapshot(
        _dim(spark, range(50)), rb,
        partition_spec=[{"source": "doc_id", "transform": "bucket[4]"}],
    )
    d = choose_join_strategy(ra, rb, "doc_id")
    assert d["strategy"] != "spj"


@pytest.mark.parametrize(
    "strategy, kw",
    [
        ("broadcast", {}),
        ("shuffle", {"broadcast_bytes": 1, "max_filter_keys": 10}),
    ],
)
def test_column_order_is_a_then_b_when_key_not_first(spark, tmp_path, strategy, kw):
    ra, rb = str(tmp_path / "a"), str(tmp_path / "b")
    S.append_snapshot(_facts(spark).select("lang", "n_chars", "doc_id"), ra)
    S.append_snapshot(_dim(spark, range(0, 200)), rb)
    out, decision = auto_join(spark, ra, rb, "doc_id", **kw)
    assert decision["strategy"] == strategy, decision["reason"]
    assert decision["build_side"] in ("b", None)
    assert out.columns == ["lang", "n_chars", "doc_id", "label"]
    da, db = S.read_snapshot(spark, ra), S.read_snapshot(spark, rb)
    want = da.join(db, "doc_id").select("lang", "n_chars", "doc_id", "label")
    assert sorted(out.collect()) == sorted(want.collect())
