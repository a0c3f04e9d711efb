"""End-to-end byte-identity: Spark pipeline vs single-process kernel oracle.

This is the north-rule gate (BASELINE.json: "byte-identical extracted text per
url") — SURVEY.md §5.2 layer 2.  The oracle is a plain Python map of
``kernel.page.extract_document`` over the same rows; any divergence means the
Spark plumbing (ordering, Arrow round-trip, partitioning) lost information.
"""

import pytest

from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import PATTERNS, gen_rows
from pdf_drawing_ocr_recognition_spark.kernel import extract_document
from pdf_drawing_ocr_recognition_spark.plans.pipeline import (
    TARGET_LANGS,
    extraction_pipeline,
)

N_ROWS = 600


@pytest.fixture(scope="module")
def oracle_results():
    return {
        url: extract_document(url, html, lang, PATTERNS)
        for url, _ts, html, _text, lang in gen_rows(N_ROWS)
        if lang in TARGET_LANGS
    }


@pytest.fixture(scope="module")
def spark_results(spark, pages_small):
    out = extraction_pipeline(spark, pages_small, PATTERNS)
    return {r["url"]: r.asDict(recursive=True) for r in out.collect()}


def test_row_counts_match(oracle_results, spark_results):
    assert len(spark_results) == len(oracle_results) > 0


def test_extracted_text_byte_identical(oracle_results, spark_results):
    mismatches = []
    for url, oracle in oracle_results.items():
        got = spark_results.get(url)
        if got is None:
            mismatches.append((url, "MISSING"))
        elif got["extracted_text"] != oracle["extracted_text"]:
            mismatches.append((url, got["extracted_text"], oracle["extracted_text"]))
    assert not mismatches, mismatches[:3]


def test_status_and_error_kind_match(oracle_results, spark_results):
    for url, oracle in oracle_results.items():
        got = spark_results[url]
        assert got["status"] == oracle["status"], url
        assert got["error_kind"] == oracle["error_kind"], url


def test_spans_match(oracle_results, spark_results):
    for url, oracle in oracle_results.items():
        got = spark_results[url]["spans"]
        want = [
            {"group": s["group"], "idx": s["idx"], "fields": s["fields"]}
            for s in oracle["spans"]
        ]
        assert got == want, url


def test_non_bmp_chars_round_trip(oracle_results, spark_results):
    """Arrow string round-trip must preserve non-BMP chars (SURVEY.md §7 hard-part 1)."""
    carriers = [u for u, o in oracle_results.items() if "🜚" in o["extracted_text"]]
    assert carriers, "fixture should contain non-BMP rows"
    for url in carriers:
        assert spark_results[url]["extracted_text"] == oracle_results[url]["extracted_text"]


def test_all_statuses_exercised(oracle_results):
    statuses = {o["status"] for o in oracle_results.values()}
    assert {"ok", "failed", "empty"} <= statuses


def test_xx_lang_filtered(spark, pages_small, spark_results):
    raw = spark.read.parquet(pages_small)
    xx_urls = {r["url"] for r in raw.filter("lang = 'xx'").select("url").collect()}
    assert xx_urls, "fixture should contain xx-lang rows"
    assert not (xx_urls & set(spark_results)), "lang filter leaked rows"


def test_explain_has_pushed_filters(spark, pages_small):
    """The lang filter must reach the parquet scan (predicate pushdown)."""
    from pdf_drawing_ocr_recognition_spark.sources.pages import read_pages

    df = read_pages(spark, pages_small, langs=("en",))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "lang" in plan


def test_warc_ts_range_pushed_down(spark, pages_small):
    """Time-range predicates reach the scan too (row-group stat pruning)."""
    from datetime import datetime

    from pdf_drawing_ocr_recognition_spark.sources.pages import read_pages

    df = read_pages(
        spark,
        pages_small,
        since=datetime(2025, 1, 5),
        until=datetime(2025, 1, 20),
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "warc_ts" in pushed, pushed
    assert df.count() > 0
