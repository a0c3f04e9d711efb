"""The four benchmark workloads.

Each workload builds its corpus before any Spark session exists, warms the
call path once on the first session, and then runs timed iterations.  One
iteration times exactly the public call under test; preparing fresh output
directories and checking the outputs happen outside the timed interval.

- ``html_crawl``: HTML pages only → ``plans.pipeline.extraction_pipeline``;
- ``drawing_sheets``: GRIDDOC drawing pages only → the same call;
- ``bucketed_job``: the generator's natural mix →
  ``operators.manifest.run_with_manifest``, then a resume that must commit
  nothing;
- ``daily_ingest``: day 2 of ``jobs/run_daily_ingest.main`` on top of a day-1
  state built at set-up.
"""

from __future__ import annotations

import contextlib
import glob
import io
import json
import os
import shutil
import sys
import time

import corpus as corpus_mod
import gate

HTML_DOCS = 16000
GRID_DOCS = 4000
MIX_ROWS = 1600
MIX_BUCKETS = 4
DAILY_ROWS = 1600  # day 1 is rows [0, N); day 2 is rows [N/2, 3N/2)
PIPELINE_MAX_TRY = 5  # plans.pipeline.extraction_pipeline default
DAILY_MAX_TRY = 2  # jobs/run_daily_ingest.py --max-try default


class Bench:
    """Paths and settings shared by every workload of one run."""

    def __init__(self, root: str, work: str, seed: int, cores: int):
        self.root = root
        self.work = work
        self.seed = seed
        self.cores = cores
        self.source_digest = corpus_mod.source_digest(root)[:16]
        os.makedirs(work, exist_ok=True)
        from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import write_patterns
        from pdf_drawing_ocr_recognition_spark.sources.pattern_registry import load_patterns

        self.patterns_path = write_patterns(os.path.join(work, "patterns.json"))
        self.patterns = load_patterns(self.patterns_path)

    def corpus(self, key: str, indices, files, **kw) -> corpus_mod.Corpus:
        return corpus_mod.ensure_corpus(
            os.path.join(self.work, "corpus"),
            f"{key}-f{files}-s{self.seed}-{self.source_digest}",
            self.seed,
            indices,
            files,
            patterns_path=self.patterns_path,
            workers=self.cores,
            **kw,
        )

    def scratch(self, name: str) -> str:
        path = os.path.join(self.work, "out", name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        return path


def _span(tracer, name):
    return tracer.span(name) if tracer else contextlib.nullcontext()


def _read_output(pattern: str) -> list[tuple[str, str, str]]:
    import pyarrow.parquet as pq

    rows = []
    for path in sorted(glob.glob(pattern)):
        t = pq.read_table(path, columns=["url", "status", "extracted_text"])
        for url, status, text in zip(*(t.column(c).to_pylist() for c in t.column_names)):
            rows.append((url, status, corpus_mod.text_sha(text)))
    return rows


class Workload:
    name = ""
    size = 0
    max_try = PIPELINE_MAX_TRY
    warmup_covers_iteration = True  # the warm-up runs the timed call's code path

    def __init__(self, bench: Bench):
        self.bench = bench
        self.corpus: corpus_mod.Corpus | None = None
        self.recorded = gate.recorded(self.name, self.size, bench.seed)

    def scan_langs(self):
        return corpus_mod.TARGET_LANGS

    def scan_bytes(self) -> int:
        """Parquet bytes of the corpus the forced scan reads."""
        return self.corpus.bytes

    def extracted_docs(self) -> int:
        """Documents the kernel runs on in one iteration."""
        return len(self.corpus.oracle)

    def replay_rows(self, limit: int):
        """Deterministic sample (every k-th row) of what the kernel sees."""
        import pyarrow.parquet as pq

        rows = []
        for part in self.corpus.parts():
            t = pq.read_table(part, columns=["url", "html", "lang"])
            rows.extend(zip(*(t.column(c).to_pylist() for c in t.column_names)))
        rows = [r for r in rows if r[0] in self.corpus.oracle]
        step = max(1, len(rows) // limit)
        return rows[::step][:limit]

    def check_digest(self, rows) -> tuple[str, bool]:
        digest = gate.output_digest(rows)
        ok = self.recorded is None or self.recorded.get("sha256") == digest
        return digest, ok


class PipelineWorkload(Workload):
    """``extraction_pipeline`` over a single-kind corpus."""

    kind = ""

    def prepare(self) -> None:
        indices = corpus_mod.select_indices(self.kind, self.bench.seed, self.size)
        self.corpus = self.bench.corpus(
            f"{self.name}-{self.size}",
            indices,
            16,
            expect_kind=self.kind,
            max_try=self.max_try,
            langs=corpus_mod.TARGET_LANGS,
        )

    def _run(self, spark, path: str):
        from pyspark.sql import functions as F

        from pdf_drawing_ocr_recognition_spark.plans.pipeline import extraction_pipeline

        return (
            extraction_pipeline(spark, path, self.bench.patterns)
            .select("url", "status", F.sha2(F.col("extracted_text"), 256).alias("text_sha"))
            .toArrow()
        )

    def warmup(self, spark) -> None:
        self._run(spark, self.corpus.path)

    def iteration(self, spark, tracer=None) -> dict:
        t0 = time.perf_counter()
        with _span(tracer, "extraction_pipeline"):
            table = self._run(spark, self.corpus.path)
        wall = time.perf_counter() - t0
        rows = list(zip(*(table.column(c).to_pylist() for c in ("url", "status", "text_sha"))))
        failed = gate.compare(self.corpus.oracle, rows)
        digest, digest_ok = self.check_digest(rows)
        docs = self.corpus.rows
        return {"wall": wall, "docs": docs, "failed": failed if digest_ok else docs, "digest": digest}


class HtmlCrawl(PipelineWorkload):
    name = "html_crawl"
    size = HTML_DOCS
    kind = "html"


class DrawingSheets(PipelineWorkload):
    name = "drawing_sheets"
    size = GRID_DOCS
    kind = "grid"


class BucketedJob(Workload):
    name = "bucketed_job"
    size = MIX_ROWS

    def prepare(self) -> None:
        self.corpus = self.bench.corpus(
            f"{self.name}-{self.size}",
            list(range(self.size)),
            8,
            expect_kind="mix",
            max_try=self.max_try,
            langs=corpus_mod.TARGET_LANGS,
        )

    def _run(self, spark, path: str, out: str, n_buckets: int) -> None:
        from pdf_drawing_ocr_recognition_spark.operators.extract import extract_pages
        from pdf_drawing_ocr_recognition_spark.operators.manifest import run_with_manifest
        from pdf_drawing_ocr_recognition_spark.sources.pages import read_pages

        patterns = self.bench.patterns
        run_with_manifest(
            spark,
            read_pages(spark, path, langs=corpus_mod.TARGET_LANGS),
            lambda df: extract_pages(df, patterns),
            out,
            n_buckets=n_buckets,
        )

    def warmup(self, spark) -> None:
        self._run(spark, self.corpus.parts()[0], self.bench.scratch("warmup"), 1)

    def iteration(self, spark, tracer=None) -> dict:
        out = self.bench.scratch("bucketed")
        t0 = time.perf_counter()
        with _span(tracer, "run_with_manifest"):
            self._run(spark, self.corpus.path, out, MIX_BUCKETS)
        wall = time.perf_counter() - t0
        # resume: a second invocation on the same output must commit nothing
        before = sorted(os.listdir(out)), sorted(os.listdir(os.path.join(out, "_manifest")))
        t0 = time.perf_counter()
        with _span(tracer, "run_with_manifest.resume"):
            self._run(spark, self.corpus.path, out, MIX_BUCKETS)
        resume_s = time.perf_counter() - t0
        after = sorted(os.listdir(out)), sorted(os.listdir(os.path.join(out, "_manifest")))
        rows = _read_output(os.path.join(out, "bucket=*", "*.parquet"))
        failed = gate.compare(self.corpus.oracle, rows)
        digest, digest_ok = self.check_digest(rows)
        docs = self.corpus.rows
        if before != after or not digest_ok:
            failed = docs
        manifests = []
        for path in glob.glob(os.path.join(out, "_manifest", "*.json")):
            with open(path, encoding="utf-8") as fh:
                manifests.append(json.load(fh))
        return {
            "wall": wall,
            "docs": docs,
            "failed": failed,
            "digest": digest,
            "resume_s": resume_s,
            "bucket_walls": [m["wall_s"] for m in manifests],
        }


class DailyIngest(Workload):
    name = "daily_ingest"
    size = DAILY_ROWS
    max_try = DAILY_MAX_TRY
    warmup_covers_iteration = False  # day 1 never runs the CDC join or the dedup probe

    def prepare(self) -> None:
        n = self.size
        common = dict(expect_kind="mix", max_try=self.max_try, langs=())
        self.day1 = self.bench.corpus(f"{self.name}-day1-{n}", list(range(n)), 4, **common)
        self.corpus = self.bench.corpus(
            f"{self.name}-day2-{n}", list(range(n // 2, n + n // 2)), 4, **common
        )
        # rows [N/2, N) are unchanged since day 1, rows [N, 3N/2) are new
        self.delta = {
            url: v for url, v in self.corpus.oracle.items() if url not in self.day1.oracle
        }

    def scan_langs(self):
        return None

    def extracted_docs(self) -> int:
        return len(self.delta)

    def replay_rows(self, limit: int):
        return [r for r in super().replay_rows(limit * 2) if r[0] in self.delta][:limit]

    def _main(self, spark, pages: str, state: str, out: str, day: str) -> dict:
        import run_daily_ingest

        buf = io.StringIO()
        argv = ["--pages", pages, "--patterns", self.bench.patterns_path,
                "--state", state, "--out", out, "--day", day]
        with contextlib.redirect_stdout(buf):
            run_daily_ingest.main(argv, spark=spark)
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    def warmup(self, spark) -> None:
        """Build the day-1 state once (this is also the run's warm-up)."""
        if hasattr(self, "base_state"):
            return
        sys.path.insert(0, os.path.join(self.bench.root, "jobs"))
        self.base_state = self.bench.scratch("daily-base-state")
        self.base_out = self.bench.scratch("daily-base-out")
        self._main(spark, self.day1.path, self.base_state, self.base_out, "d1")

    def iteration(self, spark, tracer=None) -> dict:
        state, out = self.bench.scratch("daily-state"), self.bench.scratch("daily-out")
        shutil.copytree(self.base_state, state)
        shutil.copytree(self.base_out, out)
        t0 = time.perf_counter()
        with _span(tracer, "run_daily_ingest.main"):
            summary = self._main(spark, self.corpus.path, state, out, "d2")
        wall = time.perf_counter() - t0
        rows = _read_output(os.path.join(out, "day=d2", "*.parquet"))
        failed = gate.compare(self.delta, rows, subset=True)
        survivors = len(rows)
        failed += abs(survivors - summary["survivors"])
        failed += abs(summary["delta_pages"] - len(self.delta))  # CDC must find the new half
        if self.recorded is not None:
            failed += abs(survivors - self.recorded["survivors"])
        digest, digest_ok = self.check_digest(rows)
        docs = self.corpus.rows
        return {
            "wall": wall,
            "docs": docs,
            "failed": failed if digest_ok else docs,
            "digest": digest,
            "survivors": survivors,
            "delta": summary["delta_pages"],
        }


WORKLOADS = {w.name: w for w in (HtmlCrawl, DrawingSheets, BucketedJob, DailyIngest)}
