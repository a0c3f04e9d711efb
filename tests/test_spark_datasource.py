"""T211 — the snapshot lakehouse as a registered Spark Python DataSource.

What must hold (sources/spark_datasource.py):
- a distributed ``df.write.format("pdor_snapshot")`` commits one manifest
  with full per-file metadata (bounds/rows/sizes), byte-equivalent to
  append_snapshot / overwrite_snapshot;
- ``spark.read.format("pdor_snapshot")`` ≡ read_snapshot through the full
  gauntlet (position deletes, equality deletes, rename/widen evolution,
  version/ref/asOfTimestamp time travel);
- Catalyst filter pushdown reaches plan_scan (files pruned at plan time)
  while pruning stays provable-only (Spark re-applies every filter);
- the streaming source tails append commits by snapshot-id offsets and
  the streaming sink lands one exactly-once snapshot per micro-batch;
- no stage debris: writer tasks stage dot-files that either get
  registered or die in the orphan lifecycle.
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from pdf_drawing_ocr_recognition_spark.sources import snapshots as S
from pdf_drawing_ocr_recognition_spark.sources.spark_datasource import (
    SnapshotBatchReader,
    SnapshotStreamWriter,
    register,
)


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "tbl")


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register(spark)


def _docs(spark, n=1000):
    return spark.range(0, n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).alias("lang"),
        (F.col("id") * 3).alias("n_chars"),
    )


def test_distributed_write_commits_full_metadata(spark, root):
    _docs(spark).repartitionByRange(4, "doc_id").write.format(
        "pdor_snapshot"
    ).mode("append").save(root)
    man = S.read_manifest(root, 1)
    assert man["operation"] == "append"
    assert len(man["files"]) == 4
    for f in man["files"]:
        lo, hi = man["stats"][f]["doc_id"]
        assert 0 <= lo <= hi <= 999
        assert man["row_counts"][f] > 0
        assert man["file_sizes"][f] > 0
    assert sum(man["row_counts"].values()) == 1000
    got = sorted(
        tuple(r) for r in spark.read.format("pdor_snapshot").load(root).collect()
    )
    exp = sorted(tuple(r) for r in S.read_snapshot(spark, root).collect())
    assert got == exp and len(got) == 1000


def test_filter_pushdown_prunes_provably_only(spark, root):
    _docs(spark).repartitionByRange(8, "doc_id").write.format(
        "pdor_snapshot"
    ).mode("append").save(root)
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    rd = SnapshotBatchReader({"path": root})
    flt = [GreaterThanOrEqual(("doc_id",), 900), LessThan(("doc_id",), 950)]
    leftover = list(rd.pushFilters(list(flt)))
    # provable-only: EVERY filter handed back for Spark to re-apply
    assert leftover == flt
    kept = rd.partitions()
    assert 1 <= len(kept) < 8  # bounds pruned most range files
    # end-to-end: pruned read ≡ unpruned filter (values never change)
    df = spark.read.format("pdor_snapshot").load(root)
    got = sorted(
        r[0] for r in df.filter("doc_id >= 900 and doc_id < 950").collect()
    )
    assert got == list(range(900, 950))


def test_all_pruned_scan_is_empty_not_an_error(spark, root):
    _docs(spark, 100).repartitionByRange(4, "doc_id").write.format(
        "pdor_snapshot"
    ).mode("append").save(root)
    df = spark.read.format("pdor_snapshot").load(root)
    out = df.filter(F.col("doc_id") > 10_000_000)
    assert out.count() == 0
    assert out.schema == df.schema


def test_read_gauntlet_deletes_and_evolution(spark, root):
    _docs(spark).repartitionByRange(4, "doc_id").write.format(
        "pdor_snapshot"
    ).mode("append").save(root)
    S.delete_from(spark, root, [("doc_id", "<", 10)])
    S.delete_where_eq(
        spark,
        root,
        _docs(spark).filter("doc_id % 100 = 50").select("doc_id"),
    )
    S.evolve_schema(root, rename={"n_chars": "chars"}, widen={"lang": "long"})
    got = spark.read.format("pdor_snapshot").load(root)
    exp = S.read_snapshot(spark, root)
    assert got.schema == exp.schema
    a = sorted(tuple(r) for r in got.collect())
    b = sorted(tuple(r) for r in exp.collect())
    assert a == b and len(a) == 980


def test_eq_delete_matching_is_null_safe(spark, root):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c")], "doc_id long, k string"
    )
    S.append_snapshot(df, root)
    S.delete_where_eq(
        spark, root, spark.createDataFrame([(None,)], "k string")
    )
    got = sorted(
        r["doc_id"]
        for r in spark.read.format("pdor_snapshot").load(root).collect()
    )
    assert got == [1, 3]  # NULL key matched the NULL row, nothing else


def test_eq_delete_nan_key_matches_like_jvm(spark, root):
    """Spark's null-safe matching treats NaN == NaN as TRUE; the Python
    key-set path must agree with the read_snapshot JVM path."""
    df = spark.createDataFrame(
        [(1, float("nan")), (2, 1.5), (3, None)],
        "doc_id long, score double",
    )
    S.append_snapshot(df, root)
    S.delete_where_eq(
        spark, root,
        spark.createDataFrame([(float("nan"),)], "score double"),
    )
    got = sorted(
        r["doc_id"]
        for r in spark.read.format("pdor_snapshot").load(root).collect()
    )
    exp = sorted(r["doc_id"] for r in S.read_snapshot(spark, root).collect())
    assert got == exp == [2, 3]  # the NaN row died on BOTH paths


def test_time_travel_options(spark, root):
    _docs(spark, 100).write.format("pdor_snapshot").mode("append").save(root)
    t_mid = S.read_manifest(root, 1)["ts"]
    _docs(spark, 100).withColumn(
        "doc_id", F.col("doc_id") + 1000
    ).write.format("pdor_snapshot").mode("append").save(root)
    S.set_ref(root, "v1", 1, "tag")
    def rd():
        return spark.read.format("pdor_snapshot")

    assert rd().option("version", "1").load(root).count() == 100
    assert rd().option("ref", "v1").load(root).count() == 100
    assert rd().option("asOfTimestamp", str(t_mid)).load(root).count() == 100
    assert rd().load(root).count() == 200
    with pytest.raises(Exception, match="at most one"):
        rd().option("version", "1").option("ref", "v1").load(root).collect()


def test_overwrite_mode_replaces(spark, root):
    _docs(spark).write.format("pdor_snapshot").mode("append").save(root)
    _docs(spark, 100).write.format("pdor_snapshot").mode(
        "overwrite"
    ).save(root)
    assert spark.read.format("pdor_snapshot").load(root).count() == 100
    man = S.read_manifest(root, S.current_snapshot_id(root))
    assert man["operation"] == "overwrite"
    # snapshot 1 stays time-travelable
    assert spark.read.format("pdor_snapshot").option(
        "version", "1"
    ).load(root).count() == 1000


def test_no_stage_debris_and_orphan_lifecycle(spark, root):
    _docs(spark).repartitionByRange(4, "doc_id").write.format(
        "pdor_snapshot"
    ).mode("append").save(root)
    data = S._data_dir(root)
    assert [f for f in os.listdir(data) if f.startswith(".")] == []
    # a crashed task's stray stage file: invisible to reads, swept as an
    # orphan once old enough
    stray = os.path.join(data, ".dstmp-deadbeef.parquet")
    with open(stray, "wb") as f:
        f.write(b"not parquet")
    assert spark.read.format("pdor_snapshot").load(root).count() == 1000
    os.utime(stray, (1, 1))
    assert S.remove_orphan_files(root, older_than_s=3600) >= 1
    assert not os.path.exists(stray)


def test_empty_write_task_leaves_no_stage_file(root):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.types import LongType, StructField, StructType

    data = S._data_dir(root)
    os.makedirs(data, exist_ok=True)
    staged = []
    for i, vals in enumerate([[], [1, 2]]):
        staged.append(os.path.join(data, f".dstmp-{i}.parquet"))
        pq.write_table(pa.table({"doc_id": pa.array(vals, pa.int64())}), staged[-1])
    schema = StructType([StructField("doc_id", LongType())])
    S.commit_staged_files(root, staged, schema)
    assert [f for f in os.listdir(data) if f.startswith(".dstmp-")] == []
    assert S.read_manifest(root, 1)["summary"]["added_rows"] == 2


def test_streaming_source_to_sink_with_evolution(spark, tmp_path):
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    df = _docs(spark, 300).drop("n_chars")
    S.append_snapshot(df.filter("doc_id < 100"), src)
    S.append_snapshot(df.filter("doc_id >= 100 and doc_id < 200"), src)
    S.evolve_schema(src, rename={"lang": "language"})
    S.append_snapshot(
        df.filter("doc_id >= 200").withColumnRenamed("lang", "language"), src
    )
    q = (
        spark.readStream.format("pdor_snapshot")
        .load(src)
        .writeStream.format("pdor_snapshot")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start(sink)
    )
    q.awaitTermination(120)
    out = S.read_snapshot(spark, sink)
    assert out.schema.fieldNames() == ["doc_id", "language"]
    a = sorted(tuple(r) for r in out.collect())
    b = sorted(tuple(r) for r in S.read_snapshot(spark, src).collect())
    assert a == b and len(a) == 300
    # exactly-once bookkeeping landed in the sink's own manifest
    props = [
        m["summary"].get("properties", {}) for m in S.snapshot_log(sink)
    ]
    assert {p.get("streaming_batch_id") for p in props} == {0}
    # second run: only the delta is delivered
    S.append_snapshot(
        df.filter("doc_id < 50")
        .withColumnRenamed("lang", "language")
        .withColumn("doc_id", F.col("doc_id") + 1000),
        src,
    )
    q = (
        spark.readStream.format("pdor_snapshot")
        .load(src)
        .writeStream.format("pdor_snapshot")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start(sink)
    )
    q.awaitTermination(120)
    assert S.read_snapshot(spark, sink).count() == 350


def test_streaming_non_append_raises_unless_skipped(spark, tmp_path):
    src = str(tmp_path / "src")
    df = _docs(spark, 100).drop("n_chars")
    S.append_snapshot(df.filter("doc_id < 50"), src)
    S.overwrite_snapshot(df.filter("doc_id < 20"), src)
    S.append_snapshot(df.filter("doc_id >= 50"), src)

    def drain(ckpt, **opts):
        reader = spark.readStream.format("pdor_snapshot")
        for k, v in opts.items():
            reader = reader.option(k, v)
        rows = []
        q = (
            reader.load(src)
            .writeStream.foreachBatch(
                lambda b, i: rows.extend(b.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return rows

    with pytest.raises(Exception, match="streaming reads|append"):
        drain(str(tmp_path / "c1"))
    rows = drain(str(tmp_path / "c2"), skipNonAppends="true")
    # upstream skip semantics: the overwrite's rewritten rows are NOT
    # delivered; both append commits deliver from their RECORDED files
    # (even though the overwrite dropped commit 1's files from the
    # manifest, they stay on disk until expiry — retention must cover
    # consumer lag, as upstream)
    assert sorted(r["doc_id"] for r in rows) == list(range(0, 100))


def test_max_commits_per_trigger_rate_cap(spark, tmp_path):
    """Admission control: each micro-batch is capped to N source
    commits — backfill proceeds in bounded batches, never one giant
    first batch.  Under availableNow the latched latest offset bounds
    the whole run; repeated runs advance exactly-once to full drain."""
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    df = _docs(spark, 600).drop("n_chars")
    for k in range(6):
        S.append_snapshot(
            df.filter(
                (F.col("doc_id") >= k * 100) & (F.col("doc_id") < (k + 1) * 100)
            ),
            src,
        )

    def run():
        q = (
            spark.readStream.format("pdor_snapshot")
            .option("maxCommitsPerTrigger", "2")
            .load(src)
            .writeStream.format("pdor_snapshot")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start(sink)
        )
        q.awaitTermination(120)
        return S.read_snapshot(spark, sink).count()

    totals = [run() for _ in range(4)]
    assert totals == [200, 400, 600, 600]  # 2 commits per batch, no dupes
    batches = [
        m["summary"]["added_rows"] for m in S.snapshot_log(sink)
    ]
    assert batches == [200, 200, 200]
    from pdf_drawing_ocr_recognition_spark.sources.spark_datasource import (
        SnapshotStreamReader,
    )

    with pytest.raises(ValueError, match="maxCommitsPerTrigger"):
        SnapshotStreamReader({"path": src, "maxcommitspertrigger": "0"})


def test_stream_writer_replay_guard_unit(spark, root):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("doc_id", LongType())])
    w = SnapshotStreamWriter(root, schema, {"streamid": "s1"})

    def staged(vals):
        os.makedirs(S._data_dir(root), exist_ok=True)
        p = os.path.join(S._data_dir(root), f".dstmp-{vals[0]}.parquet")
        pq.write_table(pa.table({"doc_id": pa.array(vals, pa.int64())}), p)
        from pdf_drawing_ocr_recognition_spark.sources.spark_datasource import (
            _WriteResult,
        )

        return [_WriteResult(p)]

    S.init_table(root)
    w.commit(staged([1, 2, 3]), 0)
    assert S.current_snapshot_id(root) == 1
    # replay of batch 0 (crash between table and checkpoint commit):
    # skipped, and the re-staged file is dropped, not leaked
    w.commit(staged([1, 2, 3]), 0)
    assert S.current_snapshot_id(root) == 1
    assert [
        f for f in os.listdir(S._data_dir(root)) if f.startswith(".")
    ] == []
    w.commit(staged([4]), 1)
    assert S.current_snapshot_id(root) == 2
    assert sorted(
        r["doc_id"] for r in S.read_snapshot(spark, root).collect()
    ) == [1, 2, 3, 4]


def test_sql_using_surface(spark, root):
    """The lakehouse is reachable from plain SQL: CREATE TEMPORARY VIEW
    ... USING pdor_snapshot — the registered-format contract."""
    _docs(spark, 100).write.format("pdor_snapshot").mode("append").save(root)
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW ds_sql_v "
        f"USING pdor_snapshot OPTIONS (path '{root}')"
    )
    assert spark.sql("SELECT count(*) AS n FROM ds_sql_v").first()["n"] == 100
    got = spark.sql(
        "SELECT sum(n_chars) AS s FROM ds_sql_v WHERE doc_id < 10"
    ).first()["s"]
    assert got == sum(i * 3 for i in range(10))


def test_first_append_then_plain_append_interop(spark, root):
    """A DataSource write and an API append interleave on one table."""
    _docs(spark, 100).write.format("pdor_snapshot").mode("append").save(root)
    S.append_snapshot(
        _docs(spark, 100).withColumn("doc_id", F.col("doc_id") + 100), root
    )
    _docs(spark, 100).withColumn(
        "doc_id", F.col("doc_id") + 200
    ).write.format("pdor_snapshot").mode("append").save(root)
    assert spark.read.format("pdor_snapshot").load(root).count() == 300
    man = S.read_manifest(root, S.current_snapshot_id(root))
    assert sum(man["row_counts"].values()) == 300
