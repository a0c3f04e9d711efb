"""Operator-level Spark tests: manifest resume, salted aggregation,
multimodal plumbing."""

import os

import pytest
from pyspark.sql import functions as F

from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import PATTERNS, gen_rows
from pdf_drawing_ocr_recognition_spark.kernel import extract_document

N_ROWS = 400


class TestManifestResume:
    def _pages(self, spark, tmp_path, n=120):
        from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import write_corpus

        path = str(tmp_path / "pages")
        write_corpus(path, n, files=4)
        return spark.read.parquet(path)

    def test_resume_skips_committed_buckets(self, spark, tmp_path):
        from pdf_drawing_ocr_recognition_spark.operators.extract import extract_pages
        from pdf_drawing_ocr_recognition_spark.operators.manifest import (
            bucket_of,
            read_manifest,
            run_with_manifest,
        )

        pages = self._pages(spark, tmp_path)
        out_dir = str(tmp_path / "out")
        html_bytes = {
            r["b"]: r["n"]
            for r in pages.groupBy(bucket_of(F.col("url"), 4).alias("b"))
            .agg(F.sum(F.octet_length("html")).alias("n"))
            .collect()
        }

        calls = []

        def extract_fn(df):
            calls.append(1)
            return extract_pages(df, PATTERNS)

        full = run_with_manifest(spark, pages, extract_fn, out_dir, n_buckets=4)
        n_first = full.count()
        assert len(calls) == 1  # one extraction job for all four buckets
        m = {r["bucket"]: r for r in read_manifest(spark, out_dir).collect()}
        assert len(m) == 4
        # Observation-collected stats agree with the written data
        for bucket, row in m.items():
            written = spark.read.parquet(f"{out_dir}/bucket={bucket}")
            assert row["n_rows"] == written.count()
            assert row["n_failed"] == written.filter(F.col("status") == "failed").count()
            # the input-side Observation: html bytes of the bucket's pages
            assert row["n_bytes"] == html_bytes[bucket]
        assert sum(r["n_failed"] for r in m.values()) > 0

        # second run: everything committed → no extraction work at all, and
        # not even a Spark job (no scan, no schema inference)
        calls.clear()
        sc = spark.sparkContext
        sc.setJobGroup("noop_resume", "fully committed resume")
        try:
            again = run_with_manifest(spark, pages, extract_fn, out_dir, n_buckets=4)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(calls) == 0
        assert again.count() == n_first
        # checked after the count: job events reach the status store async
        assert list(sc.statusTracker().getJobIdsForGroup("noop_resume")) == []

    def test_partial_run_resumes_idempotently(self, spark, tmp_path):
        """Simulate a kill after bucket k: drop one manifest + its results; the
        re-run reprocesses exactly that bucket and the final output matches."""
        import shutil

        from pdf_drawing_ocr_recognition_spark.operators.extract import extract_pages
        from pdf_drawing_ocr_recognition_spark.operators.manifest import (
            manifest_path,
            run_with_manifest,
        )

        pages = self._pages(spark, tmp_path)
        out_dir = str(tmp_path / "out2")
        fn = lambda df: extract_pages(df, PATTERNS)
        full = run_with_manifest(spark, pages, fn, out_dir, n_buckets=4)
        want = {r["url"]: r["extracted_text"] for r in full.collect()}

        # "kill": remove bucket 2's commit + data
        os.remove(os.path.join(manifest_path(out_dir), "bucket-00002.json"))
        shutil.rmtree(os.path.join(out_dir, "bucket=2"))

        calls = []

        def counting_fn(df):
            calls.append(1)
            return extract_pages(df, PATTERNS)

        resumed = run_with_manifest(spark, pages, counting_fn, out_dir, n_buckets=4)
        got = {r["url"]: r["extracted_text"] for r in resumed.collect()}
        assert len(calls) == 1  # only the lost bucket re-ran
        assert got == want

    def test_kill_in_commit_loop_resumes_exactly_once(self, spark, tmp_path, monkeypatch):
        """A kill after two bucket commits leaves staged data behind; the
        resume redoes only the uncommitted buckets and cleans the staging."""
        from pdf_drawing_ocr_recognition_spark.operators import manifest
        from pdf_drawing_ocr_recognition_spark.operators.extract import extract_pages

        pages = self._pages(spark, tmp_path)
        fn = lambda df: extract_pages(df, PATTERNS)
        want = {
            r["url"]: r["extracted_text"]
            for r in manifest.run_with_manifest(
                spark, pages, fn, str(tmp_path / "clean"), n_buckets=4
            ).collect()
        }

        out_dir = str(tmp_path / "killed")
        commit = manifest._commit_bucket
        n_commits = []

        def dying_commit(*args):
            n_commits.append(1)
            if len(n_commits) == 3:
                raise RuntimeError("killed")
            commit(*args)

        monkeypatch.setattr(manifest, "_commit_bucket", dying_commit)
        with pytest.raises(RuntimeError, match="killed"):
            manifest.run_with_manifest(spark, pages, fn, out_dir, n_buckets=4)
        monkeypatch.setattr(manifest, "_commit_bucket", commit)
        mdir = manifest.manifest_path(out_dir)
        kept = {f: os.stat(os.path.join(mdir, f)).st_mtime_ns for f in os.listdir(mdir)}
        assert len(kept) == 2
        assert os.path.isdir(os.path.join(out_dir, ".staging.tmp"))

        resumed = manifest.run_with_manifest(spark, pages, fn, out_dir, n_buckets=4)
        rows = resumed.collect()
        assert len(rows) == len(want)
        assert {r["url"]: r["extracted_text"] for r in rows} == want
        assert manifest.read_manifest(spark, out_dir).count() == 4
        assert not os.path.exists(os.path.join(out_dir, ".staging.tmp"))
        # the two committed buckets were not redone
        assert all(os.stat(os.path.join(mdir, f)).st_mtime_ns == t for f, t in kept.items())

    def test_one_job_commits_every_bucket_even_empty_ones(self, spark, tmp_path):
        """64 buckets over 120 rows: some buckets hold no row, and they are
        committed too, so the resume extracts nothing."""
        from pdf_drawing_ocr_recognition_spark.operators.extract import extract_pages
        from pdf_drawing_ocr_recognition_spark.operators.manifest import (
            read_manifest,
            run_with_manifest,
        )

        pages = self._pages(spark, tmp_path)
        out_dir = str(tmp_path / "out64")
        calls = []

        def counting_fn(df):
            calls.append(1)
            return extract_pages(df, PATTERNS)

        n = run_with_manifest(spark, pages, counting_fn, out_dir, n_buckets=64).count()
        assert len(calls) == 1
        m = read_manifest(spark, out_dir).collect()
        assert sorted(r["bucket"] for r in m) == list(range(64))
        assert sum(r["n_rows"] for r in m) == n
        assert any(r["n_rows"] == 0 for r in m)

        calls.clear()
        assert run_with_manifest(spark, pages, counting_fn, out_dir, n_buckets=64).count() == n
        assert len(calls) == 0

    def test_resume_with_another_bucket_count_raises(self, spark, tmp_path, monkeypatch):
        """Killed after 4 of 8 commits: a resume with 16 buckets would land
        some urls twice and one with 4 would lose some, so both raise; the
        resume with 8 finishes exactly once."""
        import json

        from pdf_drawing_ocr_recognition_spark.operators import manifest
        from pdf_drawing_ocr_recognition_spark.operators.extract import extract_pages

        pages = self._pages(spark, tmp_path, n=200)
        fn = lambda df: extract_pages(df, PATTERNS)
        out_dir = str(tmp_path / "killed")
        commit = manifest._commit_bucket
        n_commits = []

        def dying_commit(*args):
            n_commits.append(1)
            if len(n_commits) == 5:
                raise RuntimeError("killed")
            commit(*args)

        monkeypatch.setattr(manifest, "_commit_bucket", dying_commit)
        with pytest.raises(RuntimeError, match="killed"):
            manifest.run_with_manifest(spark, pages, fn, out_dir, n_buckets=8)
        monkeypatch.setattr(manifest, "_commit_bucket", commit)
        for n in (16, 4):
            with pytest.raises(ValueError, match=f"n_buckets=8; this run asks for n_buckets={n}"):
                manifest.run_with_manifest(spark, pages, fn, out_dir, n_buckets=n)
        assert [r["n_buckets"] for r in manifest.manifest_rows(out_dir)] == [8] * 4

        rows = manifest.run_with_manifest(spark, pages, fn, out_dir, n_buckets=8).collect()
        assert sorted(r["url"] for r in rows) == sorted(
            r["url"] for r in pages.select("url").collect()
        )

        # rows written before rows recorded their count: the index of bucket
        # 7 alone shows that 4 buckets cannot be the run's count
        mdir = manifest.manifest_path(out_dir)
        for name in os.listdir(mdir):
            with open(os.path.join(mdir, name)) as f:
                legacy = json.load(f)
            del legacy["n_buckets"]
            with open(os.path.join(mdir, name), "w") as f:
                json.dump(legacy, f)
        with pytest.raises(ValueError, match="n_buckets > 4;"):
            manifest.run_with_manifest(spark, pages, fn, out_dir, n_buckets=4)

    def test_empty_input_returns_an_empty_frame_and_resumes(self, spark, tmp_path):
        """No row to extract: every bucket commits empty, no bucket dir
        exists, and both the run and its resume return an empty frame with
        the columns of a normal output."""
        from pdf_drawing_ocr_recognition_spark.operators import manifest
        from pdf_drawing_ocr_recognition_spark.operators.extract import extract_pages

        pages = self._pages(spark, tmp_path)
        fn = lambda df: extract_pages(df, PATTERNS)
        full = manifest.run_with_manifest(spark, pages, fn, str(tmp_path / "full"), n_buckets=4)
        out_dir = str(tmp_path / "empty")
        none = pages.filter(F.col("lang") == "no-such-lang")
        for _ in range(2):
            got = manifest.run_with_manifest(spark, none, fn, out_dir, n_buckets=4)
            assert got.dtypes == full.dtypes
            assert got.count() == 0
        assert [r["n_rows"] for r in manifest.manifest_rows(out_dir)] == [0] * 4


class TestBadRow:
    def test_kernel_exception_fails_the_row_not_the_task(self, spark):
        from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import (
            build_griddoc,
            build_page_image,
        )
        from pdf_drawing_ocr_recognition_spark.operators.extract import extract_pages

        bad = build_griddoc(
            "bad", [build_page_image(PATTERNS["fullpage"], [{"text": "x"}])]
        )
        rows = [(url, html, lang) for url, _ts, html, _text, lang in gen_rows(40)]
        rows.append(("bad://row", bad, "en"))
        patterns = {**PATTERNS, "bad": {"name": "bad", "sub_imgs": 5}}
        df = spark.createDataFrame(rows, "url string, html binary, lang string")
        got = {r["url"]: r for r in extract_pages(df, patterns).collect()}
        assert len(got) == len(rows)
        assert got["bad://row"]["status"] == "failed"
        assert got["bad://row"]["error_kind"] == "KernelError"
        for url, html, lang in rows[:-1]:
            want = extract_document(url, html, lang, patterns)
            assert got[url]["status"] == want["status"], url
            assert got[url]["extracted_text"] == want["extracted_text"], url
        assert sum(r["status"] == "ok" for r in got.values()) > 20


class TestSkew:
    def test_salted_host_counts_equal_plain_groupby(self, spark, pages_small):
        from pdf_drawing_ocr_recognition_spark.operators.skew import (
            host_of,
            salted_host_counts,
        )

        pages = spark.read.parquet(pages_small)
        salted = {
            r["host"]: r["n_pages"] for r in salted_host_counts(pages).collect()
        }
        plain = {
            r["host"]: r["n"]
            for r in pages.select(host_of(F.col("url")).alias("host"))
            .groupBy("host")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert salted == plain
        # the skew fixture: top host carries ~half the corpus
        top = max(salted.values())
        assert top > sum(salted.values()) * 0.4


class TestMultimodal:
    def test_metadata_schema_and_determinism(self, spark, pages_small):
        from pdf_drawing_ocr_recognition_spark.operators.multimodal import (
            decode_metadata,
        )

        pages = spark.read.parquet(pages_small).filter("html IS NOT NULL")
        blobs = pages.select(
            F.xxhash64("url").alias("doc_id"), F.col("html").alias("payload")
        )
        a = {r["doc_id"]: r.asDict() for r in decode_metadata(blobs).collect()}
        b = {r["doc_id"]: r.asDict() for r in decode_metadata(blobs).collect()}
        assert a == b
        kinds = {r["media_kind"] for r in a.values()}
        assert "opaque" in kinds
        assert all(r["n_bytes"] > 0 for r in a.values())

    def test_real_png_payloads_decoded(self, spark):
        from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import (
            PATTERNS,
            build_page_image,
        )
        from pdf_drawing_ocr_recognition_spark.kernel.png import encode_png
        from pdf_drawing_ocr_recognition_spark.operators.multimodal import (
            decode_metadata,
        )

        img = build_page_image(PATTERNS["fullpage"], [{"text": "png_meta"}])
        png = encode_png(img)
        blobs = spark.createDataFrame(
            [(1, bytearray(png))], "doc_id LONG, payload BINARY"
        )
        row = decode_metadata(blobs).collect()[0]
        assert row["media_kind"] == "png"
        assert (row["height"], row["width"]) == img.shape

    def test_resize_halves_real_pngs_and_roundtrips(self, spark):
        import numpy as np

        from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import (
            PATTERNS,
            build_page_image,
        )
        from pdf_drawing_ocr_recognition_spark.kernel.png import decode_png, encode_png
        from pdf_drawing_ocr_recognition_spark.operators.multimodal import (
            resize_images,
        )

        img = build_page_image(PATTERNS["grid2"], [{"a": "one"}, {"b": "two"}])
        blobs = spark.createDataFrame(
            [(1, bytearray(encode_png(img))), (2, bytearray(b"not a png"))],
            "doc_id LONG, payload BINARY",
        )
        rows = {r["doc_id"]: r for r in resize_images(blobs, max_side=64).collect()}
        r1 = rows[1]
        assert (r1["orig_h"], r1["orig_w"]) == img.shape
        assert max(r1["new_h"], r1["new_w"]) <= 64
        small = decode_png(bytes(r1["payload"]))
        assert small.shape == (r1["new_h"], r1["new_w"])
        # NN resample is a pure index grid — recompute and byte-compare
        h, w = img.shape
        scale = max(h, w) / 64
        ys = (np.arange(r1["new_h"]) * (h / r1["new_h"])).astype(int)
        xs = (np.arange(r1["new_w"]) * (w / r1["new_w"])).astype(int)
        assert (small == img[np.ix_(ys, xs)]).all()
        assert rows[2]["new_w"] == 0  # non-png passthrough

    def test_frame_sampling_every_n(self, spark):
        from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import (
            PATTERNS,
            build_griddoc,
            build_page_image,
        )
        from pdf_drawing_ocr_recognition_spark.operators.multimodal import (
            sample_frames,
        )

        pages = [
            build_page_image(PATTERNS["fullpage"], [{"text": f"f{i}"}])
            for i in range(5)
        ]
        doc = build_griddoc("fullpage", pages)
        blobs = spark.createDataFrame(
            [(7, bytearray(doc)), (8, bytearray(b"junk"))],
            "doc_id LONG, payload BINARY",
        )
        rows = sample_frames(blobs, every_n=2).collect()
        assert {r["doc_id"] for r in rows} == {7}
        assert sorted(r["frame_idx"] for r in rows) == [0, 2, 4]
        assert all(r["width"] > 0 and r["height"] > 0 for r in rows)


class TestBucketedJoin:
    def test_bucket_join_plans_without_exchange(self, spark, sf_dir):
        """Two tables bucketed on the join key with equal bucket counts must
        join with NO Exchange on either side (co-located join) — the
        write-once / shuffle-never layout for repeated keyed joins."""
        from pdf_drawing_ocr_recognition_spark.operators.skew import write_bucketed

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        write_bucketed(
            docs.select("doc_id", "lang"), "bkt_lang", 8, "doc_id", "doc_id"
        )
        write_bucketed(
            docs.select("doc_id", "n_chars"), "bkt_chars", 8, "doc_id", "doc_id"
        )
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            joined = spark.table("bkt_lang").join(spark.table("bkt_chars"), "doc_id")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert joined.count() == docs.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
            spark.sql("DROP TABLE IF EXISTS bkt_lang")
            spark.sql("DROP TABLE IF EXISTS bkt_chars")


class TestAQESkewJoin:
    def test_skewed_host_join_splits_at_runtime(self, spark, pages_small):
        """M4 runtime evidence: on the Zipf corpus (host00 = ~50% of rows) a
        big-big host join makes AQE split the hot partition — the executed
        adaptive plan must show SortMergeJoin(skew=true).  Thresholds are
        scaled to fixture bytes (prod defaults: 256MB / factor 5)."""
        saved = {
            k: spark.conf.get(k)
            for k in (
                "spark.sql.autoBroadcastJoinThreshold",
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
                "spark.sql.adaptive.advisoryPartitionSizeInBytes",
                "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            )
        }
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set(
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4KB"
            )
            spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2KB")
            spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
            pages = spark.read.parquet(pages_small).withColumn(
                "host", F.regexp_extract("url", r"https://([^/]+)/", 1)
            )
            other = pages.select("host", F.col("url").alias("u2"))
            joined = pages.select("host", "url").join(other, "host")
            rows = joined.collect()  # executes THIS df's query execution
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "isFinalPlan=true" in plan
            assert "SortMergeJoin(skew=true)" in plan, plan[:2000]
            # self-join row count sanity: sum of per-host squared counts
            from collections import Counter

            hosts = Counter(
                r["host"] for r in pages.select("host").collect()
            )
            assert len(rows) == sum(c * c for c in hosts.values())
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)


class TestImageFeatures:
    def test_feature_vectors_feed_the_similarity_stack(self, spark):
        """image features → embedding column → embedding_near_dupe_pairs:
        duplicate rasters pair at cosine 1.0, distinct ones don't."""
        from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import (
            PATTERNS,
            build_page_image,
        )
        from pdf_drawing_ocr_recognition_spark.kernel.png import encode_png
        from pdf_drawing_ocr_recognition_spark.operators.multimodal import (
            image_feature_vectors,
        )
        from pdf_drawing_ocr_recognition_spark.operators.similarity import (
            embedding_near_dupe_pairs,
        )

        img_a = encode_png(build_page_image(PATTERNS["fullpage"], [{"text": "aaaa"}]))
        img_b = encode_png(
            build_page_image(PATTERNS["fullpage"], [{"k1": "totally", "k2": "other"}])
        )
        blobs = spark.createDataFrame(
            [(1, bytearray(img_a)), (2, bytearray(img_a)), (3, bytearray(img_b))],
            "doc_id LONG, payload BINARY",
        )
        feats = image_feature_vectors(blobs)
        rows = {r["doc_id"]: r for r in feats.collect()}
        assert rows[1]["media_kind"] == "png"
        assert len(rows[1]["embedding"]) == 18
        assert rows[1]["embedding"] == rows[2]["embedding"]  # same bytes
        assert rows[1]["embedding"] != rows[3]["embedding"]

        planes = [[1.0] + [0.0] * 17, [0.0, 1.0] + [0.0] * 16]
        pairs = embedding_near_dupe_pairs(
            feats.select("doc_id", "embedding"),
            planes,
            min_cosine=0.9999,
            id_col="doc_id",
        ).collect()
        found = {(r["id_a"], r["id_b"]) for r in pairs}
        assert (1, 2) in found
        assert (1, 3) not in found and (2, 3) not in found

    def test_opaque_payloads_get_deterministic_features(self, spark):
        from pdf_drawing_ocr_recognition_spark.operators.multimodal import (
            image_feature_vectors,
        )

        blobs = spark.createDataFrame(
            [(1, bytearray(b"not a png")), (2, bytearray(b"not a png"))],
            "doc_id LONG, payload BINARY",
        )
        rows = {r["doc_id"]: r for r in image_feature_vectors(blobs).collect()}
        assert rows[1]["media_kind"] == "opaque"
        assert rows[1]["embedding"] == rows[2]["embedding"]


class TestImageDhash:
    def test_known_gradient_bits_pack_msb_first(self, spark):
        """Hand 2x8 raster: bit b=1 iff px[r,c] > px[r,c+1], packed into
        bits 13..0 (2*(8-1)=14 bits) MSB-first."""
        import numpy as np

        from pdf_drawing_ocr_recognition_spark.kernel.png import encode_png
        from pdf_drawing_ocr_recognition_spark.operators.multimodal import (
            image_dhash,
        )

        img = np.array(
            [[9, 1, 2, 2, 5, 4, 3, 3], [0, 0, 7, 6, 5, 9, 9, 8]],
            dtype=np.uint8,
        )
        want = 0
        for r in range(2):
            for c in range(7):
                want = (want << 1) | int(img[r, c] > img[r, c + 1])
        blobs = spark.createDataFrame(
            [(1, bytearray(encode_png(img)))], "doc_id LONG, payload BINARY"
        )
        row = image_dhash(blobs).collect()[0]
        assert (row["dhash"], row["n_bits"], row["media_kind"]) == (want, 14, "png")

    def test_opaque_and_empty_contracts(self, spark):
        from pdf_drawing_ocr_recognition_spark.operators.multimodal import (
            image_dhash,
        )

        blobs = spark.createDataFrame(
            [(1, bytearray(b"not a png")), (2, bytearray(b"not a png")),
             (3, bytearray(b""))],
            "doc_id LONG, payload BINARY",
        )
        rows = {r["doc_id"]: r for r in image_dhash(blobs).collect()}
        assert rows[1]["media_kind"] == "opaque" and rows[1]["n_bits"] == 56
        assert rows[1]["dhash"] == rows[2]["dhash"] > 0
        assert rows[3]["media_kind"] == "empty" and rows[3]["dhash"] == 0

    def test_too_wide_raster_raises(self, spark):
        import numpy as np

        from pdf_drawing_ocr_recognition_spark.kernel.png import encode_png
        from pdf_drawing_ocr_recognition_spark.operators.multimodal import (
            image_dhash,
        )

        img = np.zeros((9, 9), dtype=np.uint8)  # 9*8 = 72 bits > 62
        blobs = spark.createDataFrame(
            [(1, bytearray(encode_png(img)))], "doc_id LONG, payload BINARY"
        )
        with pytest.raises(Exception, match="62"):
            image_dhash(blobs).collect()

    def test_hamming_pairs_match_brute_force_exactly(self, spark):
        """Pigeonhole completeness: banded join finds EVERY pair within
        distance 2 (incl. a 2-bit flip straddling two bands) and confirms
        none beyond."""
        from pdf_drawing_ocr_recognition_spark.operators.multimodal import (
            hamming_near_dupe_pairs,
        )

        base = 0x00A5C3F0F1E2D4
        hashes = [
            (1, base),
            (2, base ^ 1),                      # distance 1 (band 2)
            (3, base ^ (1 << 40) ^ (1 << 5)),   # distance 2, bands 0 and 2
            (4, base ^ 0b111),                  # distance 3 from 1 — excluded
            (5, base),                          # exact dup of 1
        ]
        df = spark.createDataFrame(hashes, "doc_id LONG, dhash LONG")
        got = {
            (r["key_a"], r["key_b"]): r["hamming"]
            for r in hamming_near_dupe_pairs(df, n_bits=56, max_distance=2).collect()
        }
        want = {}
        for i, (ka, ha) in enumerate(hashes):
            for kb, hb in hashes[i + 1:]:
                d = bin(ha ^ hb).count("1")
                if d <= 2:
                    want[(ka, kb)] = d
        assert got == want
        assert (4, 5) not in got and (1, 4) not in got

    def test_hamming_hot_band_suppression(self, spark):
        """Degenerate mass (the uniform-thumbnail case): 1200 identical
        hashes put 1200 members on every band value — an uncapped
        equi-self-join would emit ~719k pairs from ONE value.  With the
        cap the mass is suppressed (0 pairs from it), the planted
        cold-band near-dup still surfaces, and hamming_hot_bands reports
        exactly the suppressed (band, value) masses with their counts."""
        from pdf_drawing_ocr_recognition_spark.operators.multimodal import (
            hamming_hot_bands,
            hamming_near_dupe_pairs,
        )

        degenerate = [(i, 0) for i in range(1200)]  # all-zero dhash mass
        planted = [(2001, 0x5AC3F0F1E2D4), (2002, 0x5AC3F0F1E2D4 ^ 1)]
        df = spark.createDataFrame(
            degenerate + planted, "doc_id LONG, dhash LONG"
        )
        pairs = hamming_near_dupe_pairs(
            df, n_bits=56, max_distance=2, max_band=100
        ).collect()
        assert [(r["key_a"], r["key_b"], r["hamming"]) for r in pairs] == [
            (2001, 2002, 1)
        ]
        hot = {
            (r["band_index"], r["band_value"]): r["n_members"]
            for r in hamming_hot_bands(
                df, n_bits=56, max_distance=2, max_band=100
            ).collect()
        }
        # zero mass occupies value 0 in all three bands; the planted pair's
        # band values stay cold
        assert hot == {(0, 0): 1200, (1, 0): 1200, (2, 0): 1200}


class TestCorpusPrep:
    def test_prepared_equals_entry_audit_and_mix_composes(self, spark, sf_dir):
        from pdf_drawing_ocr_recognition_spark.operators.corpus_prep import (
            prep_audit,
            prepare_corpus,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        prepared = prepare_corpus(docs)
        audit = {
            (r["split"], r["lang"]): r["n_docs"]
            for r in prep_audit(prepared).collect()
        }
        assert sum(audit.values()) == prepared.count()
        assert {s for s, _ in audit} <= {"train", "val", "test"}
        # mixing only ever removes rows, en at 50% removes roughly half
        mixed = prepare_corpus(docs, mix_rates={"en": 50, "zh": 100, "de": 100})
        full_en = prepared.filter(F.col("lang") == "en").count()
        mixed_en = mixed.filter(F.col("lang") == "en").count()
        assert 0 < mixed_en < full_en
        assert mixed.filter(F.col("lang") == "zh").count() == (
            prepared.filter(F.col("lang") == "zh").count()
        )
        # mixing gate is salt-independent of the split gate: the kept en
        # rows keep their original split assignment
        kept = {r["doc_id"]: r["split"] for r in mixed.select("doc_id", "split").collect()}
        orig = {r["doc_id"]: r["split"] for r in prepared.select("doc_id", "split").collect()}
        assert all(orig[k] == v for k, v in kept.items())


class TestSequencePacking:
    def _chunks(self, spark):
        import __spark_entry__ as em

        return em.q_chunk_documents(spark, "/root/testdata/sf0.001")

    def test_bins_respect_budget_and_cover_all_chunks(self, spark):
        from pdf_drawing_ocr_recognition_spark.operators.packing import (
            pack_chunks,
            packing_stats,
        )

        chunks = self._chunks(spark)
        packed = pack_chunks(chunks, budget_tokens=128, n_partitions=4)
        assert packed.count() == chunks.count()  # every chunk assigned once
        stats = packing_stats(packed).collect()
        assert stats
        for r in stats:
            # a bin only exceeds the budget when a single chunk does
            assert r["tokens"] <= 128 or r["n_chunks"] == 1, r
        # greedy next-fit: average fill should be a decent fraction of budget
        multi = [r for r in stats if r["tokens"] <= 128]
        assert sum(r["tokens"] for r in multi) / len(multi) > 0.5 * 128

    def test_packing_is_deterministic_across_runs(self, spark):
        from pdf_drawing_ocr_recognition_spark.operators.packing import pack_chunks

        chunks = self._chunks(spark)
        a = {
            (r["doc_id"], r["chunk_idx"]): r["bin_id"]
            for r in pack_chunks(chunks, 128, n_partitions=4).collect()
        }
        b = {
            (r["doc_id"], r["chunk_idx"]): r["bin_id"]
            for r in pack_chunks(chunks, 128, n_partitions=4).collect()
        }
        assert a == b

    def test_doc_chunks_stay_contiguous(self, spark):
        from pdf_drawing_ocr_recognition_spark.operators.packing import pack_chunks

        packed = pack_chunks(self._chunks(spark), 128, n_partitions=4).collect()
        by_doc = {}
        for r in packed:
            by_doc.setdefault(r["doc_id"], []).append(
                (r["chunk_idx"], int(r["bin_id"].rsplit("_b", 1)[1]))
            )
        for doc, pairs in by_doc.items():
            pairs.sort()
            bins = [b for _i, b in pairs]
            assert bins == sorted(bins), (doc, bins)  # non-decreasing bins


class TestFullPlatformLoop:
    def test_extraction_output_feeds_corpus_prep(self, spark, pages_small):
        """The complete platform path a user runs: pages → extraction →
        prepared training corpus (quality gate → dedup → split) — the
        extraction output maps straight onto the prep operator's contract."""
        from pdf_drawing_ocr_recognition_spark.operators.corpus_prep import (
            prep_audit,
            prepare_corpus,
        )
        from pdf_drawing_ocr_recognition_spark.operators.extract import extract_pages

        pages = spark.read.parquet(pages_small).filter(
            F.col("lang").isin("en", "zh", "de")
        )
        extracted = extract_pages(pages, PATTERNS)
        docs = (
            extracted.filter(F.col("status") == "ok")
            .join(pages.select("url", "lang"), "url")
            .select(
                F.xxhash64("url").alias("doc_id"),
                F.col("extracted_text").alias("text"),
                "lang",
                F.length("extracted_text").alias("n_chars"),
            )
        )
        prepared = prepare_corpus(docs, min_quality=0.2)
        audit = prep_audit(prepared).collect()
        n_prepared = sum(r["n_docs"] for r in audit)
        assert 0 < n_prepared <= docs.count()
        assert {r["split"] for r in audit} <= {"train", "val", "test"}
        # grid extractions share the PDOR header + near-identical shapes, so
        # dedup must have removed something relative to the raw ok-set
        assert n_prepared < extracted.filter(F.col("status") == "ok").count()
        # every prepared row still carries its text payload
        assert prepared.filter(F.length("text") == 0).count() == 0


class TestGlobalRowNumbers:
    def test_no_single_partition_window_and_deterministic(self, spark, sf_dir):
        from pdf_drawing_ocr_recognition_spark.operators.order import (
            global_row_numbers,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "n_chars"
        )
        out = global_row_numbers(
            docs, [F.desc("n_chars"), F.asc("doc_id")], id_col="rn", n_partitions=4
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan, plan  # the whole point
        rows = out.collect()
        n = docs.count()
        assert sorted(r["rn"] for r in rows) == list(range(1, n + 1))
        # ids are a pure function of the order, independent of partitioning
        a = {r["doc_id"]: r["rn"] for r in rows}
        b = {
            r["doc_id"]: r["rn"]
            for r in global_row_numbers(
                docs, [F.desc("n_chars"), F.asc("doc_id")], id_col="rn",
                n_partitions=7,
            ).collect()
        }
        assert a == b


class TestBalancedShards:
    """T75: snake-dealt weight-balanced export shards."""

    def _shards(self, spark, rows, s):
        from pdf_drawing_ocr_recognition_spark.operators.packing import (
            balanced_shards,
        )

        docs = spark.createDataFrame(rows, "doc_id LONG, w LONG")
        return balanced_shards(docs, "w", s, key_col="doc_id").collect()

    def test_snake_assignment_order(self, spark):
        # weights 8..1 over 3 shards: pass 0 deals 0,1,2; pass 1 deals
        # 2,1,0; pass 2 deals 0,1,2 again
        rows = [(i, 9 - i) for i in range(1, 9)]
        got = {r["doc_id"]: (r["rank"], r["shard"]) for r in
               self._shards(spark, rows, 3)}
        assert got == {
            1: (1, 0), 2: (2, 1), 3: (3, 2),
            4: (4, 2), 5: (5, 1), 6: (6, 0),
            7: (7, 0), 8: (8, 1),
        }

    def test_balance_bound_single_doc_weight(self, spark):
        import random

        rng = random.Random(7)
        rows = [(i, rng.randint(1, 1000)) for i in range(200)]
        out = self._shards(spark, rows, 5)
        totals = {}
        for r in out:
            totals[r["shard"]] = totals.get(r["shard"], 0) + r["w"]
        spread = max(totals.values()) - min(totals.values())
        assert spread <= max(w for _, w in rows)

    def test_deterministic_under_repartition(self, spark):
        from pdf_drawing_ocr_recognition_spark.operators.packing import (
            balanced_shards,
        )

        rows = [(i, (i * 37) % 50) for i in range(100)]
        docs = spark.createDataFrame(rows, "doc_id LONG, w LONG")
        a = {r["doc_id"]: r["shard"]
             for r in balanced_shards(docs, "w", 4).collect()}
        b = {r["doc_id"]: r["shard"]
             for r in balanced_shards(docs.repartition(13), "w", 4).collect()}
        assert a == b

    def test_validation(self, spark):
        import pytest as _pytest

        docs = spark.createDataFrame([(1, 1)], "doc_id LONG, w LONG")
        from pdf_drawing_ocr_recognition_spark.operators.packing import (
            balanced_shards,
        )

        with _pytest.raises(ValueError):
            balanced_shards(docs, "w", 0)
