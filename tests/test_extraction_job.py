"""The manifest extraction job (jobs/run_extraction.py) end to end: output per
url, the printed count, the per-bucket metrics, a no-op rerun, and a run
whose input filters to nothing."""

import os
import re

import pytest

from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import (
    PATTERNS,
    gen_rows,
    write_corpus,
    write_patterns,
)
from pdf_drawing_ocr_recognition_spark.kernel import extract_document

N_ROWS = 120


@pytest.fixture()
def job_inputs(tmp_path, monkeypatch):
    """Pages + patterns on disk, and a pass-through logger around
    ``extract_pages`` that records how many rows reach the kernel."""
    from pdf_drawing_ocr_recognition_spark.operators import extract

    write_corpus(str(tmp_path / "pages"), N_ROWS, files=4)
    write_patterns(str(tmp_path / "patterns.json"))
    log_dir = str(tmp_path / "batches")
    os.mkdir(log_dir)
    real = extract.extract_pages

    def logged(pages, patterns):
        out = real(pages, patterns)

        def log(batches):
            import uuid

            for pdf in batches:
                with open(os.path.join(log_dir, uuid.uuid4().hex), "w") as f:
                    f.write(str(len(pdf)))
                yield pdf

        return out.mapInPandas(log, out.schema)

    def rows_seen() -> int:
        """Rows that reached the kernel since the last call."""
        n = 0
        for name in os.listdir(log_dir):
            with open(os.path.join(log_dir, name)) as f:
                n += int(f.read())
            os.remove(os.path.join(log_dir, name))
        return n

    monkeypatch.setattr(extract, "extract_pages", logged)
    return tmp_path, rows_seen


def _run(spark, capsys, tmp_path, out: str, *extra) -> int:
    from jobs.run_extraction import main

    rc = main(
        [
            "--pages", str(tmp_path / "pages"),
            "--patterns", str(tmp_path / "patterns.json"),
            "--out", out,
            "--buckets", "4",
            *extra,
        ],
        spark=spark,
    )
    assert rc == 0
    line = capsys.readouterr().out.strip().splitlines()[-1]
    return int(re.fullmatch(r"extraction complete: (\d+) documents → .*", line).group(1))


def _metrics_rows(spark, out: str) -> list[dict]:
    return sorted(
        (r.asDict() for r in spark.read.parquet(f"{out}/_metrics").collect()),
        key=lambda r: r["partition_id"],
    )


def test_job_output_count_and_noop_rerun(spark, capsys, job_inputs):
    from pdf_drawing_ocr_recognition_spark.operators.manifest import manifest_rows

    tmp_path, rows_seen = job_inputs
    out = str(tmp_path / "out")
    n = _run(spark, capsys, tmp_path, out)

    landed = spark.read.option("basePath", out).parquet(f"{out}/bucket=*").drop("bucket")
    got = {r["url"]: r.asDict(recursive=True) for r in landed.collect()}
    want = {
        url: extract_document(url, html, lang, PATTERNS)
        for url, _ts, html, _text, lang in gen_rows(N_ROWS)
        if lang in ("en", "zh", "de")
    }
    assert got == want
    assert n == len(got) == landed.count()
    assert rows_seen() == n

    # _metrics: one row per bucket, taken from its manifest row
    assert spark.read.parquet(f"{out}/_metrics").schema.simpleString() == (
        "struct<partition_id:int,n_docs:bigint,n_bytes:bigint,wall_s:double,"
        "docs_per_s:double,bytes_per_s:double>"
    )
    metrics = _metrics_rows(spark, out)
    committed = sorted(manifest_rows(out), key=lambda r: r["bucket"])
    assert [
        (m["partition_id"], m["n_docs"], m["n_bytes"], m["wall_s"]) for m in metrics
    ] == [(r["bucket"], r["n_rows"], r["n_bytes"], r["wall_s"]) for r in committed]
    assert len(metrics) == 4
    assert sum(m["n_docs"] for m in metrics) == n
    assert sum(m["n_bytes"] for m in metrics) == sum(
        len(html or b"") for _url, _ts, html, _text, lang in gen_rows(N_ROWS)
        if lang in ("en", "zh", "de")
    )

    assert _run(spark, capsys, tmp_path, out) == n
    assert rows_seen() == 0  # everything committed: the kernel never runs
    assert _metrics_rows(spark, out) == metrics


def test_job_with_every_page_filtered_out_prints_zero(spark, capsys, job_inputs):
    tmp_path, rows_seen = job_inputs
    out = str(tmp_path / "out_none")
    for _ in range(2):  # the first run and its resume
        assert _run(spark, capsys, tmp_path, out, "--langs", "no-such-lang") == 0
    assert rows_seen() == 0
    assert not [d for d in os.listdir(out) if d.startswith("bucket=")]
