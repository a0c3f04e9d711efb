"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest extract_bench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow.parquet as pq
import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT]

import corpus  # noqa: E402
import gate  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import write_patterns  # noqa: E402
from pdf_drawing_ocr_recognition_spark.kernel.page import is_grid_payload  # noqa: E402


@pytest.fixture(scope="module")
def patterns_path(tmp_path_factory):
    return write_patterns(str(tmp_path_factory.mktemp("patterns") / "patterns.json"))


def _build(tmp_path, name, seed, kind, n, patterns_path):
    indices = corpus.select_indices(kind, seed, n)
    return corpus.ensure_corpus(
        str(tmp_path), name, seed, indices, 2,
        expect_kind=kind, patterns_path=patterns_path, max_try=2,
        langs=corpus.TARGET_LANGS, workers=2,
    )


def _payloads(c):
    return [h for part in c.parts() for h in pq.read_table(part, columns=["html"]).column("html").to_pylist()]


def test_generation_is_a_pure_function_of_the_seed(tmp_path, patterns_path):
    a = _build(tmp_path / "a", "c", 7, "html", 30, patterns_path)
    b = _build(tmp_path / "b", "c", 7, "html", 30, patterns_path)
    other = _build(tmp_path / "o", "c", 8, "html", 30, patterns_path)
    read = lambda c: [open(p, "rb").read() for p in c.parts()]  # noqa: E731
    assert read(a) == read(b)
    assert a.oracle == b.oracle
    assert read(a) != read(other)


def test_html_crawl_has_no_griddoc_rows(tmp_path, patterns_path):
    c = _build(tmp_path, "html", 3, "html", 60, patterns_path)
    payloads = _payloads(c)
    assert len(payloads) == 60
    assert all(h and not is_grid_payload(h) for h in payloads)


def test_drawing_sheets_has_only_griddoc_rows(tmp_path, patterns_path):
    c = _build(tmp_path, "grid", 3, "grid", 40, patterns_path)
    payloads = _payloads(c)
    assert len(payloads) == 40
    assert all(is_grid_payload(h) for h in payloads)


def test_printed_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    assert spec["paths"] == [os.path.basename(BENCH_DIR)]


def test_result_line_carries_every_declared_metric():
    metrics = {k: (1.5, u) for k, u in run.END_TO_END.items()}
    line = json.loads(run.result_line(True, 10, 0, metrics))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == run.END_TO_END


def test_corrupting_one_output_row_makes_failures(tmp_path, patterns_path):
    c = _build(tmp_path, "html", 5, "html", 20, patterns_path)
    rows = [(url, status, sha) for url, (status, sha) in c.oracle.items()]
    assert gate.compare(c.oracle, rows) == 0
    corrupted = list(rows)
    url, status, _ = corrupted[3]
    corrupted[3] = (url, status, corpus.text_sha("tampered"))
    failed = gate.compare(c.oracle, corrupted)
    assert failed == 1
    assert 1.0 - failed / len(rows) < 1.0  # correct_share drops below 1
    assert gate.compare(c.oracle, rows[:-1]) == 1  # a missing row fails too
    assert gate.compare(c.oracle, rows + rows[:1]) == 1  # so does a duplicate
    assert gate.output_digest(corrupted) != gate.output_digest(rows)
