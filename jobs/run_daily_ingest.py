"""spark-submit entrypoint for the full daily crawl ingest — the composition
the whole engine exists for:

    WARC segments (or a pages parquet drop)
      → crawl hygiene (optional): domain-blocklist drop (T56) and robots.txt
        REP filtering (T63) on URLs — before any content is touched
      → snapshot diff vs yesterday (CDC, T55): only added/changed urls go on
        (a url fetched twice goes on once, with the body the snapshot records)
      → extraction kernel over the delta only, run once per day (A-series pipeline)
      → content hygiene (optional): the standard webtext quality funnel
        (T62 rules) on extracted text
      → MinHash signatures of the delta's docs, computed once per day
      → incremental dedup probe against the persisted index (T44)
      → survivors land under <out>/day=<label>; state advances AFTER the
        survivors are materialized, with every stage journaled.

Exactly-once resume (the M5 manifest pattern at job granularity): each day
keeps a journal at <state>/journal/day=<label>.json recording which stages
committed (survivors landed → index folded → snapshot advanced → complete).
The day's summary and ``snapshot_staged`` are journaled when the survivors
land.  A kill before that restarts the day from CDC; a killed job resumes
from the first unjournaled stage — in particular, a kill after the index
fold but before the snapshot advance can NEVER replay extraction against an
index that already contains today's documents (which would dedup the whole
day away and overwrite the landed output with an empty frame); the resume
reads the landed survivors back instead of recomputing them, and signs them
again for the index fold (the day's signatures lived in the killed job's
cache).  The snapshot advance swaps the staged digests in, and a retry after
a kill at any point finishes the swap.  The staging dir is shared, so a day
must complete (or be resumed to completion) before the next day starts.  A
journal of an earlier version that landed the survivors without staging a
snapshot stops the job (see MIGRATION.md).  A fully completed day reruns as
a no-op.  The one remaining at-least-once window — the process dying
between a completed index fold and its journal write — re-appends today's
digests to the index, which is harmless by construction (the index feeds
semi/anti-join probes; duplicate rows change no result).

    spark-submit --py-files dist/pdor_spark.zip jobs/run_daily_ingest.py \
        --warc <segment dir> --patterns <registry.json> \
        --state <state dir> --out <output dir> --day 2024-03-05

State layout (all tiny relative to the corpus — the corpus itself is never
rescanned):
    <state>/snapshot/           (url, html_digest) — yesterday's page digests
    <state>/snapshot.staging/   today's (url, html_digest), written during CDC;
                                it becomes <state>/snapshot when the day's
                                index fold has committed
    <state>/index/              dedup index (digests + minhash bands, T44 layout)

Work per day scales with |today's crawl| for the diff and with |delta| for
extraction + dedup.  Today's pages are read twice: once to stage their
(url, md5(html)) rows, which also counts them, and once to pick the delta's
bodies for extraction.  The diff is an anti join of the staged rows against
yesterday's, so it carries 32-byte digests, not bodies.  The delta is
extracted once into a cache and its docs are MinHash-signed once into a
cache; the dedup probe and the index fold read both.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import uuid


def _journal_path(state: str, day: str) -> str:
    return os.path.join(state, "journal", f"day={day}.json")


def _read_journal(state: str, day: str) -> dict:
    try:
        with open(_journal_path(state, day)) as f:
            return json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        return {}


def _write_json_atomic(path: str, obj) -> None:
    """Write *obj* to *path* atomically: tmp file, fsync, os.replace."""
    tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _advance_journal(state: str, day: str, **fields) -> dict:
    """Merge *fields* into the day's journal atomically."""
    journal = _read_journal(state, day)
    journal.update(fields)
    path = _journal_path(state, day)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    _write_json_atomic(path, journal)
    return journal


def _swap_in_snapshot(staging: str, live: str) -> None:
    """Make the staged digests the snapshot.  Idempotent: a retry after a
    kill at any point finishes the swap, and once the staging dir is gone
    the snapshot already holds it."""
    if os.path.exists(staging):
        shutil.rmtree(live, ignore_errors=True)
        os.rename(staging, live)


def _fault_injection_point(stage: str) -> None:
    """Test seam: pytest monkeypatches this to simulate a mid-job kill at a
    named stage boundary.  Production no-op."""


def main(argv=None, spark=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__)
    src = parser.add_mutually_exclusive_group(required=True)
    src.add_argument("--warc", help="directory of .warc segment files")
    src.add_argument("--pages", help="pages parquet directory")
    src.add_argument(
        "--snapshots",
        help="snapshot-table root (sources/snapshots.py layout): consume ONLY "
        "the rows appended since the journaled cursor — the incremental "
        "Iceberg-consumption pattern; no digest CDC needed, the table's "
        "commit log IS the delta",
    )
    parser.add_argument("--patterns", required=True, help="pattern registry JSON")
    parser.add_argument("--state", required=True, help="persistent state dir")
    parser.add_argument("--out", required=True, help="survivor output dir")
    parser.add_argument("--day", required=True, help="partition label, e.g. 2024-03-05")
    parser.add_argument("--langs", default="", help="comma-separated lang filter")
    parser.add_argument("--master", default=None)
    parser.add_argument(
        "--blocklist",
        default=None,
        help="file of domain suffixes (one per line, # comments) to drop pre-CDC",
    )
    parser.add_argument(
        "--robots",
        default=None,
        help="JSON file [[host, prefix, allow], ...] of REP rules applied pre-CDC",
    )
    parser.add_argument(
        "--quality-funnel",
        action="store_true",
        help="apply the standard webtext rule chain to extracted text "
        "(thresholds are calibrated for PROSE corpora — structured "
        "extraction output will mostly fail the punctuation/stopword "
        "gates; tune via operators.quality_funnel.webtext_rules)",
    )
    args = parser.parse_args(argv)

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from pdf_drawing_ocr_recognition_spark.operators.dedup import (
        append_to_dedup_index,
        incremental_dedupe,
        minhash_signatures,
        write_dedup_index,
    )
    from pdf_drawing_ocr_recognition_spark.operators.extract import EXTRACT_SCHEMA, extract_pages
    from pdf_drawing_ocr_recognition_spark.plans.session import build_session
    from pdf_drawing_ocr_recognition_spark.sources.pattern_registry import (
        load_patterns,
    )
    from pdf_drawing_ocr_recognition_spark.sources.pages import read_pages
    from pdf_drawing_ocr_recognition_spark.sources.warc import read_warc

    own_session = spark is None
    if own_session:
        spark = build_session(app="pdor-daily-ingest", master=args.master)
    patterns = load_patterns(args.patterns)
    langs = tuple(s for s in args.langs.split(",") if s)

    journal = _read_journal(args.state, args.day)
    if journal.get("complete"):
        # the day already committed end-to-end: exactly-once means a rerun
        # is a no-op that reports the original summary and touches nothing
        print(json.dumps({**journal["summary"], "resumed_noop": True}))
        if own_session:
            spark.stop()
        return 0
    out_path = f"{args.out}/day={args.day}"
    snap_path = f"{args.state}/snapshot"
    staging_path = f"{args.state}/snapshot.staging"
    index_path = f"{args.state}/index"

    snap_mode = bool(args.snapshots)
    if (
        not snap_mode
        and journal.get("survivors_done")
        and not journal.get("snapshot_done")
        and not journal.get("snapshot_staged")
        and not os.path.exists(staging_path)
    ):
        # an earlier version landed this day's survivors but never staged
        # its snapshot: journaling snapshot_done now would skip the advance
        raise SystemExit(
            f"day {args.day}: the journal comes from an earlier version that "
            f"stages no snapshot, and {staging_path} does not exist; see "
            "MIGRATION.md, 'Upgrading a daily-ingest state directory'"
        )
    if args.warc:
        pages = read_warc(spark, args.warc, default_lang=langs[0] if langs else "en")
    elif snap_mode:
        from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
            current_snapshot_id,
            read_appends_between,
            read_snapshot,
        )

        # pin the consumption range in the day's journal on first entry, so
        # a resumed run re-reads EXACTLY the range the killed run saw even
        # if the table advanced in between
        if "snap_from" not in journal:
            cursor_path = os.path.join(args.state, "snapshot_cursor.json")
            try:
                with open(cursor_path) as f:
                    last = json.load(f)["last_id"]
            except (FileNotFoundError, json.JSONDecodeError, KeyError):
                last = 0
            cur = current_snapshot_id(args.snapshots)
            if cur is None:
                raise SystemExit(f"snapshot table {args.snapshots} is empty")
            journal = _advance_journal(
                args.state, args.day, snap_from=last, snap_to=cur
            )
        snap_from, snap_to = journal["snap_from"], journal["snap_to"]
        if snap_from == snap_to:
            pages = read_snapshot(spark, args.snapshots, snap_to).where(F.lit(False))
        elif snap_from == 0:
            pages = read_snapshot(spark, args.snapshots, snap_to)
        else:
            # raises on a non-append boundary (compaction/overwrite in the
            # range) — a consumer must re-baseline then, never misread
            pages = read_appends_between(
                spark, args.snapshots, snap_from, snap_to
            )
        if langs:
            pages = pages.filter(F.col("lang").isin(*langs))
    else:
        pages = read_pages(spark, args.pages, langs=langs or None)

    # --- crawl hygiene: URL-level gates BEFORE any content work ------------
    n_blocked = n_robots = 0
    if args.blocklist or args.robots:
        from pdf_drawing_ocr_recognition_spark.functions.urls import (
            url_host,
            url_path,
        )

        n_pages_in = pages.count()
        if args.blocklist:
            from pdf_drawing_ocr_recognition_spark.operators.filtering import (
                domain_block_filter,
            )

            with open(args.blocklist, encoding="utf-8") as f:
                suffixes = [
                    s.strip() for s in f
                    if s.strip() and not s.strip().startswith("#")
                ]
            bl = spark.createDataFrame([(s,) for s in suffixes], "suffix string")
            pages = domain_block_filter(
                pages.withColumn("__host", url_host(F.col("url"))),
                "__host",
                bl,
                mode="block",
            ).drop("__host")
            n_after_bl = pages.count()
            n_blocked = n_pages_in - n_after_bl
        else:
            n_after_bl = n_pages_in
        if args.robots:
            from pdf_drawing_ocr_recognition_spark.operators.politeness import (
                robots_filter,
            )

            with open(args.robots, encoding="utf-8") as f:
                rule_rows = [tuple(r) for r in json.load(f)]
            rules = spark.createDataFrame(
                rule_rows, "host string, prefix string, allow boolean"
            )
            slim = pages.select(
                "url",
                url_host(F.col("url")).alias("host"),
                url_path(F.col("url")).alias("path"),
            ).dropDuplicates(["url"])
            allowed = robots_filter(slim, rules).filter(F.col("is_allowed"))
            pages = pages.join(allowed.select("url"), "url", "left_semi")
            n_robots = n_after_bl - pages.count()

    # a resumed day has no cached signatures: the index fold signs again
    delta_sigs = None
    if not journal.get("survivors_done"):
        dup_urls = False
        if snap_mode:
            # the table's commit log IS the delta: no digest CDC needed
            first_day = journal["snap_from"] == 0
            delta_pages = pages
        else:
            digest_schema = "url string, html_digest string"
            first_day = not os.path.exists(snap_path)
            if first_day:
                prev = spark.createDataFrame([], digest_schema)
            else:
                prev = spark.read.schema(digest_schema).parquet(snap_path)
            # --- CDC: stage today's (url, digest) rows once; the diff reads
            # them back, and the snapshot step swaps them in ----------------
            fetches, urls = Observation("fetches"), Observation("pages_today")
            (
                pages.select("url", F.md5(F.col("html")).alias("html_digest"))
                .observe(fetches, F.count("*").alias("n"))
                .dropDuplicates(["url"])
                .observe(urls, F.count("*").alias("n"))
                .write.mode("overwrite").parquet(staging_path)
            )
            n_today = urls.get["n"]
            today = spark.read.schema(digest_schema).parquet(staging_path)
            # added or changed: no (url, digest) pair of yesterday matches
            # (a NULL body matches a NULL body, as in operators.cdc)
            old = prev.select(
                F.col("url").alias("old_url"), F.col("html_digest").alias("old_digest")
            )
            delta = today.join(
                old,
                (F.col("url") == F.col("old_url"))
                & F.col("html_digest").eqNullSafe(F.col("old_digest")),
                "left_anti",
            )
            dup_urls = fetches.get["n"] > n_today
            if dup_urls:
                # a url fetched more than once today: only the fetches whose
                # body the staged snapshot records go on, and one of them
                # is kept after extraction (no shuffle of the bodies)
                delta_pages = pages.withColumn(
                    "html_digest", F.md5(F.col("html"))
                ).join(
                    delta.select("url", "html_digest"),
                    ["url", "html_digest"],
                    "left_semi",
                )
            else:
                delta_pages = pages.join(delta.select("url"), "url", "left_semi")

        # --- extraction over the delta only, once: the count runs the kernel
        # (one row per page); every later read hits the cache ---------------
        extracted = extract_pages(delta_pages, patterns)
        if dup_urls:
            extracted = extracted.dropDuplicates(["url"])
        extracted = extracted.persist()
        n_delta = extracted.count()
        if snap_mode:
            n_today = n_delta
        docs = extracted.filter(F.col("status") == "ok")

        # --- content hygiene: the standard webtext funnel on extracted text -
        n_quality_dropped = 0
        if args.quality_funnel:
            from pdf_drawing_ocr_recognition_spark.operators.quality_funnel import (
                apply_funnel,
                webtext_rules,
            )

            n_docs_in = docs.count()
            docs = apply_funnel(docs, webtext_rules(F.col("extracted_text")))
            n_quality_dropped = n_docs_in - docs.count()

        # --- MinHash-sign the delta's docs once: the probe's corpus and
        # within-batch branches and the index fold all read these rows.
        # The count fills the cache before the probe's single plan reads
        # it twice (lazily, each branch would sign on its own) -------------
        delta_sigs = minhash_signatures(docs, "extracted_text", "url").persist()
        delta_sigs.count()

        # --- incremental dedup probe against ALL history --------------------
        have_index = all(
            os.path.exists(f"{index_path}/{rel}") for rel in ("digests", "bands")
        )
        if have_index:
            survivors = incremental_dedupe(
                docs,
                spark.read.schema("digest string, url string").parquet(f"{index_path}/digests"),
                spark.read.schema("band_key string, url string").parquet(f"{index_path}/bands"),
                "extracted_text",
                "url",
                sigs=delta_sigs,
            )
        else:
            survivors = docs

        landed = Observation("survivors")
        survivors = survivors.observe(landed, F.count("*").alias("n"))
        survivors.write.mode("overwrite").parquet(out_path)
        extracted.unpersist()
        journal = _advance_journal(
            args.state,
            args.day,
            survivors_done=True,
            have_index=have_index,
            snapshot_staged=not snap_mode,
            summary={
                "day": args.day,
                "first_day": first_day,
                "pages_today": n_today,
                "delta_pages": n_delta,
                "survivors": landed.get["n"],
                "blocked_urls": n_blocked,
                "robots_disallowed": n_robots,
                "quality_dropped": n_quality_dropped,
                "out": out_path,
            },
        )
    # once the survivors landed, NEVER recompute them — the index may
    # already contain today's digests, and a replayed dedup probe would
    # erase the whole day.  Read the landed output back instead.
    kept = spark.read.schema(EXTRACT_SCHEMA).parquet(out_path)  # the funnel only filters
    _fault_injection_point("after_survivors")

    # --- advance state AFTER the survivors are materialized -----------------
    if not journal.get("index_done"):
        fold = append_to_dedup_index if journal["have_index"] else write_dedup_index
        fold(kept, index_path, "extracted_text", "url", sigs=delta_sigs)
        journal = _advance_journal(args.state, args.day, index_done=True)
    if delta_sigs is not None:
        delta_sigs.unpersist()
    _fault_injection_point("after_index")

    if not journal.get("snapshot_done"):
        if snap_mode:
            # advance the consumption cursor (atomic; idempotent on resume)
            _write_json_atomic(
                os.path.join(args.state, "snapshot_cursor.json"),
                {"last_id": journal["snap_to"]},
            )
        else:
            _swap_in_snapshot(staging_path, snap_path)
        journal = _advance_journal(args.state, args.day, snapshot_done=True)

    _advance_journal(args.state, args.day, complete=True)
    print(json.dumps(journal["summary"]))
    if own_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
