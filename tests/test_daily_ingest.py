"""End-to-end daily ingest job (jobs/run_daily_ingest.py): WARC → CDC delta
→ extraction → incremental dedup probe → state advance, across two days."""

import hashlib
import json
import shutil

import pytest

from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import make_html
from pdf_drawing_ocr_recognition_spark.kernel.warc import build_warc


def _page(i: int, h: int) -> dict:
    html, _, _ = make_html(h, "en")
    return {
        "rec_type": "response",
        "url": f"https://t{i}.example/p",
        "date": "2024-03-05T00:00:00Z",
        "body": html,
    }


def _run(spark, tmp_path, capsys, day: str, records: list[dict], extra=()):
    from pdf_drawing_ocr_recognition_spark.sources.pattern_registry import (
        save_patterns,
    )
    from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import PATTERNS
    from jobs.run_daily_ingest import main

    seg = tmp_path / f"warc_{day}"
    seg.mkdir(exist_ok=True)
    (seg / "part-000.warc").write_bytes(build_warc(records))
    pat = tmp_path / "patterns.json"
    if not pat.exists():
        save_patterns(PATTERNS, str(pat))
    rc = main(
        [
            "--warc", str(seg),
            "--patterns", str(pat),
            "--state", str(tmp_path / "state"),
            "--out", str(tmp_path / "out"),
            "--day", day,
            *extra,
        ],
        spark=spark,
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    return summary


def _rows(spark, path, *cols):
    return sorted(tuple(r) for r in spark.read.parquet(str(path)).select(*cols).collect())


def _assert_uninterrupted(spark, tmp_path, capsys, resumed, records):
    """A resumed day reports the summary of the same day run without a kill
    on fresh state (the output path aside), and leaves the same dedup index
    ((band_key, url) and (digest, url) multisets) and snapshot."""
    fresh = tmp_path / "uninterrupted"
    fresh.mkdir()
    clean = _run(spark, fresh, capsys, resumed["day"], records)
    assert resumed == {**clean, "out": resumed["out"]}
    for rel, cols in (
        ("index/bands", ("band_key", "url")),
        ("index/digests", ("digest", "url")),
        ("snapshot", ("url", "html_digest")),
    ):
        assert _rows(spark, tmp_path / "state" / rel, *cols) == _rows(
            spark, fresh / "state" / rel, *cols
        ), rel


def _log_rows(fn, log_dir: str):
    """Wrap a DataFrame-returning *fn* with a pass-through ``mapInPandas``
    that writes each Arrow batch's row count to a file under *log_dir*, so
    ``_rows_logged`` counts the rows computed through *fn* — once per
    evaluation of its plan, not once per call."""

    def logged(*args, **kwargs):
        out = fn(*args, **kwargs)

        def log(batches):
            import os
            import uuid

            for pdf in batches:
                with open(os.path.join(log_dir, uuid.uuid4().hex), "w") as f:
                    f.write(str(len(pdf)))
                yield pdf

        return out.mapInPandas(log, out.schema)

    return logged


def _rows_logged(log_dir: str) -> int:
    import os

    return sum(
        int(open(os.path.join(log_dir, n)).read()) for n in os.listdir(log_dir)
    )


class TestDailyIngest:
    def test_each_delta_row_is_extracted_once(
        self, spark, tmp_path, capsys, monkeypatch
    ):
        """The funnel counts, the dedup probe's branches and the survivors
        write all read ONE extraction of the delta: the kernel sees each
        delta row exactly once per day."""
        from pdf_drawing_ocr_recognition_spark.operators import extract

        log_dir = str(tmp_path / "batches")
        monkeypatch.setattr(
            extract, "extract_pages", _log_rows(extract.extract_pages, log_dir)
        )
        day1 = [_page(i, 1200 + i) for i in range(4)]
        (tmp_path / "batches").mkdir()
        _run(spark, tmp_path, capsys, "d1", day1)
        assert _rows_logged(log_dir) == 4
        # day 2: the day-1 pages unchanged plus two new ones
        (tmp_path / "batches").rename(tmp_path / "batches_d1")
        (tmp_path / "batches").mkdir()
        s2 = _run(spark, tmp_path, capsys, "d2", day1 + [_page(i, 1300 + i) for i in (4, 5)])
        assert s2["delta_pages"] == 2
        assert _rows_logged(log_dir) == s2["delta_pages"]

    def test_each_delta_doc_is_signed_once(
        self, spark, tmp_path, capsys, monkeypatch
    ):
        """The dedup probe's corpus and within-batch near branches and the
        index fold all read ONE MinHash signing of the day's ok delta docs."""
        from pdf_drawing_ocr_recognition_spark.operators import dedup

        log_dir = str(tmp_path / "batches")
        monkeypatch.setattr(
            dedup,
            "minhash_signatures",
            _log_rows(dedup.minhash_signatures, log_dir),
        )
        day1 = [_page(i, 1250 + i) for i in range(4)]
        (tmp_path / "batches").mkdir()
        _run(spark, tmp_path, capsys, "d1", day1)
        assert _rows_logged(log_dir) == 4
        # day 2 probes the day-1 index: two new ok pages, one duplicating a
        # day-1 page (dropped by the probe, so the fold gets one survivor)
        (tmp_path / "batches").rename(tmp_path / "batches_d1")
        (tmp_path / "batches").mkdir()
        day2 = day1 + [_page(4, 1350), {**_page(0, 1250), "url": "https://dup.example/p"}]
        s2 = _run(spark, tmp_path, capsys, "d2", day2)
        ok = spark.read.parquet(s2["out"]).count()
        assert s2["delta_pages"] == 2 and ok == s2["survivors"] == 1
        assert _rows_logged(log_dir) == s2["delta_pages"]

    def test_two_day_ingest_processes_only_the_delta(
        self, spark, tmp_path, capsys
    ):
        day1 = [_page(i, 1000 + i) for i in range(4)]
        s1 = _run(spark, tmp_path, capsys, "d1", day1)
        assert s1["first_day"] and s1["pages_today"] == 4
        assert s1["delta_pages"] == 4  # everything is new on day 1
        surv1 = spark.read.parquet(s1["out"])
        assert surv1.count() == 4  # all unique content survives

        # day 2: pages 0-2 unchanged; page 3 changed body; one NEW url whose
        # content duplicates page 0 (must be dropped by the index probe);
        # one genuinely new page.
        day2 = [_page(i, 1000 + i) for i in range(3)]
        day2.append({**_page(3, 2000), "url": "https://t3.example/p"})
        day2.append({**_page(9, 1000), "url": "https://dup.example/p"})
        day2.append(_page(8, 3000))
        s2 = _run(spark, tmp_path, capsys, "d2", day2)
        assert not s2["first_day"] and s2["pages_today"] == 6
        # only changed(1) + added(2) pass the CDC gate — unchanged never
        # reaches extraction
        assert s2["delta_pages"] == 3
        surv2 = spark.read.parquet(s2["out"])
        urls2 = {r["url"] for r in surv2.select("url").collect()}
        # the content-dup url is dropped against day-1 history; the changed
        # and the new page survive
        assert urls2 == {"https://t3.example/p", "https://t8.example/p"}

        # state advanced: snapshot now holds day-2 urls
        snap = spark.read.parquet(str(tmp_path / "state" / "snapshot"))
        assert snap.count() == 6

    def test_rerun_of_completed_day_is_noop(self, spark, tmp_path, capsys):
        day1 = [_page(i, 500 + i) for i in range(3)]
        s1 = _run(spark, tmp_path, capsys, "d1", day1)
        assert s1["survivors"] == 3
        s_again = _run(spark, tmp_path, capsys, "d1", day1)
        # exactly-once: a completed day reruns as a journal no-op that
        # reports the ORIGINAL summary and leaves the landed data intact
        # (the old behavior overwrote the day with an empty frame)
        assert s_again.get("resumed_noop") is True
        assert s_again["survivors"] == 3 and s_again["delta_pages"] == 3
        assert spark.read.parquet(s1["out"]).count() == 3

    def test_identical_crawl_next_day_is_zero_delta(
        self, spark, tmp_path, capsys
    ):
        day1 = [_page(i, 500 + i) for i in range(3)]
        _run(spark, tmp_path, capsys, "d1", day1)
        s2 = _run(spark, tmp_path, capsys, "d2", day1)
        # identical content under a NEW day label → zero delta/survivors
        assert s2["delta_pages"] == 0 and s2["survivors"] == 0

    def test_kill_after_index_before_snapshot_resumes_exactly_once(
        self, spark, tmp_path, capsys, monkeypatch
    ):
        """The dangerous window: survivors landed AND today's digests folded
        into the dedup index, but the CDC snapshot not yet advanced.  A
        naive rerun recomputes the delta (snapshot is stale), re-extracts,
        probes the index that now contains today's docs, dedupes the whole
        day away — and overwrites the landed output with an empty frame.
        The journal resume must instead land exactly the original rows."""
        import jobs.run_daily_ingest as job

        day1 = [_page(i, 900 + i) for i in range(4)]

        def kill(stage):
            if stage == "after_index":
                raise KeyboardInterrupt("injected kill")

        monkeypatch.setattr(job, "_fault_injection_point", kill)
        try:
            _run(spark, tmp_path, capsys, "d1", day1)
            raise AssertionError("fault did not fire")
        except KeyboardInterrupt:
            pass
        capsys.readouterr()
        # the kill left: survivors landed, index folded, snapshot stale
        assert spark.read.parquet(str(tmp_path / "out" / "day=d1")).count() == 4
        assert not (tmp_path / "state" / "snapshot").exists()
        assert (tmp_path / "state" / "snapshot.staging").exists()

        monkeypatch.setattr(job, "_fault_injection_point", lambda stage: None)
        s = _run(spark, tmp_path, capsys, "d1", day1)
        assert s["survivors"] == 4  # the landed day is preserved, not wiped
        assert not (tmp_path / "state" / "snapshot.staging").exists()
        _assert_uninterrupted(spark, tmp_path, capsys, s, day1)
        assert spark.read.parquet(s["out"]).count() == 4
        snap = spark.read.parquet(str(tmp_path / "state" / "snapshot"))
        assert snap.count() == 4  # snapshot advanced on resume
        # the index holds each digest exactly once (no double fold)
        idx = spark.read.parquet(str(tmp_path / "state" / "index" / "digests"))
        assert idx.count() == idx.dropDuplicates(["digest"]).count() == 4

        # and the following day still sees a clean zero-delta
        s2 = _run(spark, tmp_path, capsys, "d2", day1)
        assert s2["delta_pages"] == 0 and s2["survivors"] == 0

    def test_snapshots_mode_consumes_only_appends(
        self, spark, tmp_path, capsys
    ):
        """--snapshots: the job reads the snapshot table's commit log as the
        delta (Iceberg incremental consumption) — day 2 processes ONLY the
        rows appended since the journaled cursor, with no digest CDC."""
        from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
            append_snapshot,
        )
        from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import (
            PATTERNS,
            make_html,
        )
        from pdf_drawing_ocr_recognition_spark.sources.pattern_registry import (
            save_patterns,
        )
        from jobs.run_daily_ingest import main

        def page_rows(lo, hi):
            return spark.createDataFrame(
                [
                    (f"https://s{i}.example/p", bytearray(make_html(3000 + i, "en")[0]), "en")
                    for i in range(lo, hi)
                ],
                "url string, html binary, lang string",
            )

        root = str(tmp_path / "pages_table")
        append_snapshot(page_rows(0, 4), root)

        pat = tmp_path / "patterns.json"
        save_patterns(PATTERNS, str(pat))

        def run(day):
            rc = main(
                [
                    "--snapshots", root,
                    "--patterns", str(pat),
                    "--state", str(tmp_path / "state"),
                    "--out", str(tmp_path / "out"),
                    "--day", day,
                ],
                spark=spark,
            )
            assert rc == 0
            return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

        s1 = run("d1")
        assert s1["first_day"] and s1["delta_pages"] == 4 == s1["survivors"]
        assert s1["pages_today"] == s1["delta_pages"]

        # two new fetches appended to the table: day 2 reads ONLY those
        append_snapshot(page_rows(4, 6), root)
        s2 = run("d2")
        assert not s2["first_day"]
        assert s2["delta_pages"] == 2 == s2["survivors"]
        assert s2["pages_today"] == s2["delta_pages"]
        urls2 = {
            r["url"]
            for r in spark.read.parquet(s2["out"]).select("url").collect()
        }
        assert urls2 == {"https://s4.example/p", "https://s5.example/p"}

        # no new appends: day 3 is a clean zero-delta
        s3 = run("d3")
        assert s3["delta_pages"] == 0 and s3["survivors"] == 0

        # completed days rerun as no-ops (cursor untouched)
        s2_again = run("d2")
        assert s2_again.get("resumed_noop") is True

    def test_kill_before_index_resumes_exactly_once(
        self, spark, tmp_path, capsys, monkeypatch
    ):
        """Kill right after the survivors land (index + snapshot stale):
        resume must fold the index ONCE and advance the snapshot."""
        import jobs.run_daily_ingest as job

        day1 = [_page(i, 910 + i) for i in range(3)]

        def kill(stage):
            if stage == "after_survivors":
                raise KeyboardInterrupt("injected kill")

        monkeypatch.setattr(job, "_fault_injection_point", kill)
        try:
            _run(spark, tmp_path, capsys, "d1", day1)
            raise AssertionError("fault did not fire")
        except KeyboardInterrupt:
            pass
        capsys.readouterr()
        assert not (tmp_path / "state" / "index").exists()

        monkeypatch.setattr(job, "_fault_injection_point", lambda stage: None)
        s = _run(spark, tmp_path, capsys, "d1", day1)
        assert s["survivors"] == 3
        assert not (tmp_path / "state" / "snapshot.staging").exists()
        _assert_uninterrupted(spark, tmp_path, capsys, s, day1)
        idx = spark.read.parquet(str(tmp_path / "state" / "index" / "digests"))
        assert idx.count() == 3

    def test_url_fetched_twice_in_a_day_lands_once(self, spark, tmp_path, capsys):
        """A url listed twice in one day's crawl reaches the output once: on
        day 1 (no index) and on day 2, where the probe's within-batch exact
        branch used to make the url its own loser and drop both rows.  With
        two bodies, the one whose digest the snapshot records lands."""
        from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import PATTERNS
        from pdf_drawing_ocr_recognition_spark.kernel.page import extract_document

        day1 = [_page(i, 1400 + i) for i in range(3)]
        twice = _page(3, 1403)
        bodies = [_page(4, 1404), _page(4, 1504)]  # one url, two bodies
        s1 = _run(spark, tmp_path, capsys, "d1", day1 + [twice, twice, *bodies])
        assert s1["pages_today"] == s1["delta_pages"] == 5
        out1 = spark.read.parquet(s1["out"])
        assert out1.count() == out1.select("url").distinct().count() == 5
        snap = dict(_rows(spark, tmp_path / "state" / "snapshot", "url", "html_digest"))
        texts = {
            hashlib.md5(p["body"]).hexdigest(): extract_document(
                p["url"], p["body"], "en", PATTERNS
            )["extracted_text"]
            for p in bodies
        }
        assert len(set(texts.values())) == 2
        landed = out1.filter(out1.url == bodies[0]["url"]).first()["extracted_text"]
        assert landed == texts[snap[bodies[0]["url"]]]

        # day 2: the three day-1 pages unchanged, one new url listed twice
        s2 = _run(spark, tmp_path, capsys, "d2", day1 + [_page(5, 1405)] * 2)
        assert s2["pages_today"] == 4
        assert s2["delta_pages"] == 1 and s2["survivors"] == 1
        assert _rows(spark, s2["out"], "url") == [("https://t5.example/p",)]

    def test_resume_of_a_day_journaled_without_a_staged_snapshot_refuses(
        self, spark, tmp_path, capsys, monkeypatch
    ):
        """A day that an earlier version left between its survivors write and
        its snapshot advance has no staged snapshot: the resume must stop and
        point to MIGRATION.md, never journal snapshot_done over a stale
        snapshot."""
        import jobs.run_daily_ingest as job

        day1 = [_page(i, 920 + i) for i in range(3)]

        def kill(stage):
            if stage == "after_survivors":
                raise KeyboardInterrupt("injected kill")

        monkeypatch.setattr(job, "_fault_injection_point", kill)
        with pytest.raises(KeyboardInterrupt):
            _run(spark, tmp_path, capsys, "d1", day1)
        # what the earlier version leaves: no staging dir, no snapshot_staged
        state = tmp_path / "state"
        shutil.rmtree(state / "snapshot.staging")
        path = state / "journal" / "day=d1.json"
        journal = json.loads(path.read_text())
        del journal["snapshot_staged"]
        path.write_text(json.dumps(journal))

        monkeypatch.setattr(job, "_fault_injection_point", lambda stage: None)
        with pytest.raises(SystemExit, match="MIGRATION.md"):
            _run(spark, tmp_path, capsys, "d1", day1)
        assert json.loads(path.read_text()) == journal
        assert not (state / "snapshot").exists() and not (state / "index").exists()

    def test_hygiene_gates_blocklist_robots_and_funnel(
        self, spark, tmp_path, capsys
    ):
        day = [_page(i, 700 + i) for i in range(4)]
        # one page on a blocklisted domain, one under a robots-disallowed path
        day.append({**_page(5, 750), "url": "https://cdn.ads.tracker/p"})
        day.append({**_page(6, 760), "url": "https://t0.example/private/x"})
        (tmp_path / "bl.txt").write_text("# crawl blocklist\nads.tracker\n")
        (tmp_path / "robots.json").write_text(
            json.dumps([["t0.example", "/private/", False]])
        )
        s = _run(
            spark,
            tmp_path,
            capsys,
            "d1",
            day,
            extra=(
                "--blocklist", str(tmp_path / "bl.txt"),
                "--robots", str(tmp_path / "robots.json"),
                "--quality-funnel",
            ),
        )
        assert s["blocked_urls"] == 1
        assert s["robots_disallowed"] == 1
        # only the 4 clean pages reach CDC/extraction
        assert s["pages_today"] == 4 and s["delta_pages"] == 4
        # funnel accounting is consistent: extracted = survivors + dropped
        surv = spark.read.parquet(s["out"])
        urls = {r["url"] for r in surv.select("url").collect()}
        assert "https://cdn.ads.tracker/p" not in urls
        assert "https://t0.example/private/x" not in urls
        assert surv.count() + s["quality_dropped"] == 4
