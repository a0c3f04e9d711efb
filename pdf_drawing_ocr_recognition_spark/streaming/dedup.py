"""Streaming exact dedup — bounded-state content dedup on the ingest firehose.

The batch operator (``operators/dedup.exact_dedupe``) needs the whole corpus;
on an unbounded stream the seen-set must be BOUNDED or the 100 TB/day ingest
accumulates state forever.  ``dropDuplicatesWithinWatermark`` keys state by
the content digest and evicts each entry once the event-time watermark passes
its event time + delay:

- a duplicate arriving within *delay* of the kept row is dropped;
- a duplicate arriving after eviction is emitted again — the unavoidable
  bounded-state tradeoff, cleaned up by the downstream batch compaction
  (``exact_dedupe`` over the landed output), which is exactly how a
  stream-ingest + batch-compact corpus pipeline splits the work.

Both behaviors are asserted under real multi-batch streaming in
tests/test_streaming.py (one file per micro-batch so the watermark advances
between batches).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def streaming_exact_dedup(
    df: DataFrame,
    time_col: str = "warc_ts",
    text_col: str = "text",
    delay: str = "2 hours",
) -> DataFrame:
    """Drop content duplicates within the watermark window (digest-keyed state)."""
    return (
        df.withColumn("_digest", F.md5(F.encode(F.col(text_col), "utf-8")))
        .withWatermark(time_col, delay)
        .dropDuplicatesWithinWatermark(["_digest"])
        .drop("_digest")
    )


def streaming_incremental_dedupe(
    docs: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    key_col: str = "doc_id",
    append_index: bool = True,
):
    """Continuous corpus-delta dedup: every micro-batch probes the PERSISTED
    (digest, band_key) index (operators/dedup.incremental_dedupe — semi/anti
    joins only, corpus never rescanned), lands its survivors, and folds them
    back into the index — the streaming form of the daily-ingest job
    (jobs/run_incremental_dedup.py).

    State posture at 100 TB/day: unlike ``dropDuplicatesWithinWatermark``
    (bounded state, re-emits after eviction) the index is durable storage,
    not stream state — dedup is exact against ALL history, at the cost of
    one index probe per micro-batch.  The index grows by two small rows per
    accepted doc; the probe is a join against a bucketed/partitioned
    relation, so per-batch work scales with the batch.  foreachBatch gives
    exactly-once landing via the streaming checkpoint: a replayed batch id
    rewrites the same survivors (idempotent overwrite per batch directory);
    a replay can append duplicate index rows, which is harmless to
    correctness (the probes are existence semi-joins) and is compacted away
    by the periodic batch rewrite of the index (distinct over both
    relations) a production deployment schedules anyway.

    Returns the started StreamingQuery (caller awaits termination).
    """
    from ..operators.dedup import (
        append_to_dedup_index,
        incremental_dedupe,
        minhash_signatures,
    )

    def land(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # signed once: the probe's two near branches and the index fold
        # read the same materialized signatures
        sigs = minhash_signatures(batch, text_col, key_col).localCheckpoint()
        survivors = incremental_dedupe(
            batch,
            spark.read.parquet(f"{index_path}/digests"),
            spark.read.parquet(f"{index_path}/bands"),
            text_col,
            key_col,
            sigs=sigs,
        )
        # idempotent per-batch landing dir: a replayed batch overwrites
        survivors.write.mode("overwrite").parquet(f"{out_path}/batch={batch_id}")
        if append_index:
            kept = spark.read.parquet(f"{out_path}/batch={batch_id}")
            append_to_dedup_index(kept, index_path, text_col, key_col, sigs=sigs)

    return (
        docs.writeStream.foreachBatch(land)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def run_dedup_stream_to_memory(
    spark: SparkSession,
    docs_path: str,
    query_name: str,
    delay: str = "2 hours",
    schema: str = "url STRING, warc_ts TIMESTAMP, text STRING",
) -> None:
    """Drain a file-source docs stream through the dedup into a memory sink,
    one file per micro-batch (watermark advances between files)."""
    docs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_path)
    )
    q = (
        streaming_exact_dedup(docs, delay=delay)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_sketch_fold(
    docs: DataFrame,
    sketch_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    depth: int = 4,
    prefix_len: int = 3,
):
    """Continuous Count-Min maintenance: every micro-batch builds its own
    partial sketch (one ≤d·w-row aggregate over the batch) and folds it
    into the persisted sketch with ``cms_merge`` — the merge-is-addition
    property that makes the sketch a streaming citizen (T86).  Stream
    STATE stays empty (the sketch lives in storage, like the T44 dedup
    index, not in the state store), and the persisted table never exceeds
    d·16^prefix_len rows no matter how much history flowed through.

    The fold rewrites the d·w-row table per micro-batch — milliseconds of
    IO at any corpus scale, because the table is sketch-sized by
    construction.  After any number of batches the stored sketch is
    bit-identical to one batch build over the union (tested multi-batch).
    """
    from pdf_drawing_ocr_recognition_spark.operators.sketches import (
        cms_build,
        cms_merge,
    )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        toks = batch_df.select(
            F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w")
        )
        part = cms_build(toks, "w", depth, prefix_len)
        try:
            prev = spark.read.parquet(sketch_path)
            merged = cms_merge(prev, part)
        except Exception:
            merged = part
        # sketch-sized table: collect-and-rewrite is bounded by d*16^p rows
        rows = merged.collect()
        spark.createDataFrame(
            [(r["j"], r["cell"], r["c"]) for r in rows],
            "j int, cell string, c long",
        ).coalesce(1).write.mode("overwrite").parquet(sketch_path)

    return (
        docs.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def streaming_hll_fold(
    docs: DataFrame,
    registers_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    group_col: str = "lang",
    bucket_hex: int = 2,
):
    """Continuous HyperLogLog maintenance — the T98 register table kept
    current by a stream: every micro-batch builds its own partial register
    table (one ≤m-row-per-group aggregate over the batch) and folds it
    into the persisted registers with ``hll_merge`` (register-wise max —
    union of streams ≡ max of sketches).  Same storage-resident-state
    discipline as ``streaming_sketch_fold``: stream STATE stays empty, the
    persisted table never exceeds groups·16^bucket_hex rows no matter how
    much history flowed through, and after any number of batches the
    stored registers are bit-identical to one batch build over the union
    (tested multi-batch).  Distinct counts are read off at any time via
    ``hll_summary`` + ``hll_cardinality``."""
    from pdf_drawing_ocr_recognition_spark.operators.sketches import (
        hll_build,
        hll_merge,
    )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        toks = batch_df.select(
            F.col(group_col),
            F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w"),
        )
        part = hll_build(toks, "w", (group_col,), bucket_hex)
        try:
            prev = spark.read.parquet(registers_path)
            merged = hll_merge(prev, part, (group_col,))
        except Exception:
            merged = part
        # sketch-sized table: collect-and-rewrite bounded by groups * m rows
        rows = merged.collect()
        spark.createDataFrame(
            [(r[group_col], r["bucket"], r["reg"]) for r in rows],
            f"{group_col} string, bucket string, reg int",
        ).coalesce(1).write.mode("overwrite").parquet(registers_path)

    return (
        docs.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def streaming_qhist_fold(
    docs: DataFrame,
    hist_path: str,
    checkpoint_path: str,
    value_col: str = "n_chars",
    group_col: str = "lang",
    sub_bits: int = 3,
):
    """Continuous quantile-histogram maintenance — the T118 log-bin sketch
    kept current by a stream: every micro-batch builds its own partial
    histogram (one bin-bounded aggregate over the batch) and folds it into
    the persisted table with ``qhist_merge`` (bin-wise sum — union of
    streams ≡ sum of histograms, the CMS fold law).  Stream STATE stays
    empty; the stored table never exceeds groups · ~64·2^sub_bits rows no
    matter how much history flowed through; after any number of batches the
    stored histogram is bit-identical to one batch build over the union
    (tested multi-batch).  Quantiles read off any time via
    ``qhist_quantiles``."""
    from pdf_drawing_ocr_recognition_spark.operators.sketches import (
        qhist_build,
        qhist_merge,
    )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        part = qhist_build(batch_df, value_col, (group_col,), sub_bits)
        try:
            prev = spark.read.parquet(hist_path)
            merged = qhist_merge(prev, part, (group_col,))
        except Exception:
            merged = part
        # sketch-sized table: collect-and-rewrite bounded by groups * bins
        rows = merged.collect()
        spark.createDataFrame(
            [(r[group_col], r["bin_id"], r["n"]) for r in rows],
            f"{group_col} string, bin_id int, n bigint",
        ).coalesce(1).write.mode("overwrite").parquet(hist_path)

    return (
        docs.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def _rollback_swap(live: str) -> None:
    """If a prior swap was interrupted between its two renames (live
    missing, backup present), roll the backup — the last committed table —
    back in before anything reads or publishes."""
    import os

    bak = live + "_bak"
    if not os.path.exists(live) and os.path.exists(bak):
        os.rename(bak, live)


def _swap_in(tmp: str, live: str) -> None:
    """Crash-safe publish of a fully-materialized table directory: the
    previous table stays RECOVERABLE through a crash at any point —
    round 4's rmtree(live) + rename(tmp, live) had a window where no
    readable table existed.  Sequence: roll back any interrupted prior
    swap, rename live aside to ``_bak``, rename tmp in, drop the backup.
    A crash between the two renames leaves ``_bak`` as the committed
    table; the next ``_read_folded``/``_swap_in`` rolls it back in.  (On
    HDFS/S3A in production the same shape holds with FileSystem.rename /
    a versioned prefix + pointer object; local os.rename is this
    sandbox's atomic primitive.)"""
    import os
    import shutil

    _rollback_swap(live)
    bak = live + "_bak"
    if os.path.exists(live):
        if os.path.exists(bak):
            shutil.rmtree(bak)
        os.rename(live, bak)
    os.rename(tmp, live)
    if os.path.exists(bak):
        shutil.rmtree(bak)


def _read_folded(spark, live: str):
    """Read a fold-maintained table, rolling back an interrupted swap
    first; None when the table has never been published."""
    _rollback_swap(live)
    try:
        return spark.read.parquet(live)
    except Exception:
        return None


def _last_applied_batch(live: str):
    """The batch_id recorded inside the published table, or None."""
    import json
    import os

    _rollback_swap(live)
    marker = os.path.join(live, "_last_batch.json")
    try:
        with open(marker) as fh:
            return json.load(fh)["batch_id"]
    except Exception:
        return None


def streaming_scd2_fold(
    snapshots: DataFrame,
    history_path: str,
    checkpoint_path: str,
    key_col: str = "host",
    attr_cols: list[str] | None = None,
    ts_col: str = "as_of",
):
    """Continuous SCD Type-2 maintenance: every micro-batch of dimension
    snapshots folds into the persisted validity-interval history with
    ``operators/cdc.scd2_merge`` — the streaming form of T151.  Stream
    STATE stays empty (the history lives in storage, the T44/T86 index
    discipline): dimension history is durable data, not state-store
    payload, so a checkpoint wipe can never lose intervals.

    Write discipline: the merged history lands at a temp suffix and is
    published with the backup-rename swap (``_swap_in``): the live table
    is renamed aside before the new one renames in, so a crash at ANY
    point leaves a committed table recoverable (either live or the
    ``_bak`` aside, which the next read/fold rolls back in) — round 4's
    rmtree-then-rename had a window where NO table existed.  Batch-replay
    idempotence needs no explicit guard here: re-merging an
    already-applied snapshot finds no attribute change and adds no
    intervals (scd2_merge is a no-op on replay by construction; the
    summation fold below is NOT, and carries a batch-id guard).  After
    any number of micro-batches the stored history equals the batch fold
    over the same snapshots in order (tested multi-batch) — scd2_merge is
    associative over ordered snapshot batches by construction.  Per-batch
    cost: one open-rows-vs-batch join; the closed majority is rewritten
    as data but never shuffled.
    """
    from pdf_drawing_ocr_recognition_spark.operators.cdc import scd2_merge

    attrs = attr_cols if attr_cols is not None else ["policy"]

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        prev = _read_folded(spark, history_path)
        # a micro-batch may span several snapshot days: fold in ts order
        days = [
            r[0]
            for r in batch_df.select(ts_col).distinct().orderBy(ts_col).collect()
        ]
        hist = prev
        for d in days:
            hist = scd2_merge(
                hist, batch_df.filter(F.col(ts_col) == d), key_col, attrs,
                ts_col=ts_col,
            )
        tmp = history_path + "_tmp"
        hist.write.mode("overwrite").parquet(tmp)
        final = spark.read.parquet(tmp)
        final.count()  # materialize before the swap
        _swap_in(tmp, history_path)

    return (
        snapshots.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def streaming_hour_counts_fold(
    events: DataFrame,
    counts_path: str,
    checkpoint_path: str,
    actor_col: str = "actor",
    ts_us_col: str = "ts_us",
):
    """Continuous (actor, hour) event-count maintenance feeding T168's
    burst detector: every micro-batch aggregates its OWN partial counts
    (one map-side-combinable agg over the batch) and sums them into the
    persisted counts table — counts are the canonical mergeable
    statistic, so the fold equals a batch build over the union no matter
    how events split across micro-batches (hours spanning batch
    boundaries included; tested).  Stream state stays empty (the
    storage-resident fold discipline of T44/T86/T154): the table is
    (active actors × active hours)-sized DATA, not state-store payload;
    temp-write + rename swap keeps the previous counts readable through
    a mid-fold crash.

    Burst evaluation stays a BATCH read of the folded table via
    ``operators/politeness.rate_bursts_from_counts`` — late events can
    raise an old hour's count, so baselines must be re-evaluated, not
    frozen at first emission.

    Replay idempotence (round-5 fix): unlike the SCD2 fold, summation is
    NOT naturally idempotent — a crash between the table swap and the
    streaming checkpoint commit replays the same batch_id, and re-summing
    would double-count its events.  The last-applied batch_id is
    persisted INSIDE the swapped table directory (``_last_batch.json``,
    underscore-hidden from the parquet reader), so the guard commits
    atomically with the counts it describes; a replayed batch_id is
    skipped.  Publishing uses the same backup-rename swap as the SCD2
    fold (previous table recoverable through a crash at any point).
    """
    import json
    import os

    us_per_hour = 3_600_000_000

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        last = _last_applied_batch(counts_path)
        if last is not None and batch_id <= last:
            return  # replayed micro-batch: already folded into the table
        part = batch_df.groupBy(
            F.col(actor_col).alias("actor"),
            F.expr(f"{ts_us_col} div {us_per_hour}").alias("hour_num"),
        ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        prev = _read_folded(spark, counts_path)
        merged = (
            part
            if prev is None
            else prev.unionByName(part)
            .groupBy("actor", "hour_num")
            .agg(F.sum("n_events").cast("bigint").alias("n_events"))
        )
        tmp = counts_path + "_tmp"
        merged.write.mode("overwrite").parquet(tmp)
        spark.read.parquet(tmp).count()  # materialize before the swap
        with open(os.path.join(tmp, "_last_batch.json"), "w") as fh:
            json.dump({"batch_id": batch_id}, fh)
        _swap_in(tmp, counts_path)

    return (
        events.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
