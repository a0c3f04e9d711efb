"""Seeded workload corpora and their single-process oracle.

Every corpus is cut from ``fixtures.gen_pages.gen_rows(n, seed, start)``: a
row is a pure function of (seed, row index), so the same seed always yields
the same parquet bytes.  Next to each corpus the oracle is stored: for every
url the extraction is expected to emit, ``kernel.page.extract_document`` run
in plain Python (no Spark) gives (status, sha256(extracted_text)).

Corpora are cached under the work directory by (workload, seed, size, source
digest); the digest covers every ``.py`` file of the package, so a change to
the generator or to a kernel regenerates both the corpus and the oracle.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing as mp
import os
import shutil
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import resource_tracker

PACKAGE = "pdf_drawing_ocr_recognition_spark"
TARGET_LANGS = ("en", "zh", "de")  # plans.pipeline.TARGET_LANGS


def source_digest(root: str) -> str:
    """sha256 over the package's Python sources (path + bytes, sorted)."""
    h = hashlib.sha256()
    base = os.path.join(root, PACKAGE)
    for dirpath, dirnames, filenames in os.walk(base):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, base).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def text_sha(text: str | None) -> str:
    return hashlib.sha256((text or "").encode("utf-8")).hexdigest()


def row_kind(seed: int, index: int) -> str:
    """The generator's own payload draw for a row: 'html', 'grid' or 'empty'.

    Mirrors ``gen_rows``: ``kind = h % 100`` picks HTML (< 70), GRIDDOC
    (< 95) or an edge row, and edge variant ``h % 6 == 0`` is the only edge
    row without a GRIDDOC container.  ``build_shard`` re-checks every
    generated row against this draw.
    """
    from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import _h64

    h = _h64(seed, index)
    kind = h % 100
    if kind < 70:
        return "html"
    if kind < 95 or h % 6 != 0:
        return "grid"
    return "empty"


def select_indices(kind: str, seed: int, n_docs: int) -> list[int]:
    """The first *n_docs* row indices whose payload is of *kind*."""
    out: list[int] = []
    i = 0
    while len(out) < n_docs:
        if row_kind(seed, i) == kind:
            out.append(i)
        i += 1
    return out


def build_shard(args) -> dict[str, list[str]]:
    """Worker: write one parquet part for *indices* and return its oracle.

    The oracle maps url → [status, sha256(extracted_text)] for the rows the
    extraction emits (rows whose lang passes *langs*; all rows when *langs*
    is empty).
    """
    path, seed, indices, expect_kind, patterns_path, max_try, langs = args
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import gen_rows
    from pdf_drawing_ocr_recognition_spark.kernel.page import (
        extract_document,
        is_grid_payload,
    )
    from pdf_drawing_ocr_recognition_spark.sources.pattern_registry import (
        load_patterns,
    )

    patterns = load_patterns(patterns_path)
    cols: dict[str, list] = {k: [] for k in ("url", "warc_ts", "html", "text", "lang")}
    oracle: dict[str, list[str]] = {}
    for i in indices:
        url, ts, html, text, lang = next(gen_rows(i + 1, seed, start=i))
        if expect_kind == "html" and (not html or is_grid_payload(html)):
            raise ValueError(f"row {i} is not an HTML page")
        if expect_kind == "grid" and not is_grid_payload(html):
            raise ValueError(f"row {i} is not a GRIDDOC page")
        for k, v in zip(cols, (url, ts, html, text, lang)):
            cols[k].append(v)
        if not langs or lang in langs:
            row = extract_document(url, html, lang, patterns, max_try)
            oracle[url] = [row["status"], text_sha(row["extracted_text"])]
    table = pa.table(
        {
            "url": pa.array(cols["url"], pa.string()),
            "warc_ts": pa.array(cols["warc_ts"], pa.timestamp("us")),
            "html": pa.array(cols["html"], pa.binary()),
            "text": pa.array(cols["text"], pa.string()),
            "lang": pa.array(cols["lang"], pa.string()),
        }
    )
    pq.write_table(table, path)
    return oracle


class Corpus:
    """One cached parquet directory plus its oracle (url → [status, sha])."""

    def __init__(self, path: str):
        self.path = path
        with open(os.path.join(path, "_oracle.json"), encoding="utf-8") as fh:
            meta = json.load(fh)
        self.rows: int = meta["rows"]
        self.oracle: dict[str, list[str]] = meta["oracle"]
        self.bytes = sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )

    def parts(self) -> list[str]:
        return sorted(
            os.path.join(self.path, f)
            for f in os.listdir(self.path)
            if f.endswith(".parquet")
        )


def ensure_corpus(
    cache_dir: str,
    key: str,
    seed: int,
    indices: list[int],
    files: int,
    *,
    expect_kind: str,
    patterns_path: str,
    max_try: int,
    langs: tuple[str, ...],
    workers: int,
) -> Corpus:
    """Build (or reuse) the corpus of row *indices* as *files* parquet parts."""
    path = os.path.join(cache_dir, key)
    if os.path.isfile(os.path.join(path, "_oracle.json")):
        return Corpus(path)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    per = -(-len(indices) // files)
    shards = [
        (
            os.path.join(tmp, f"part-{f:04d}.parquet"),
            seed,
            indices[f * per : (f + 1) * per],
            expect_kind,
            patterns_path,
            max_try,
            langs,
        )
        for f in range(files)
        if indices[f * per : (f + 1) * per]
    ]
    ctx = mp.get_context("spawn")
    with ProcessPoolExecutor(max_workers=min(workers, len(shards)), mp_context=ctx) as ex:
        oracles = list(ex.map(build_shard, shards))
    # the spawn context started a resource-tracker process; end it with the pool
    resource_tracker._resource_tracker._stop()
    oracle: dict[str, list[str]] = {}
    for part in oracles:
        oracle.update(part)
    with open(os.path.join(tmp, "_oracle.json"), "w", encoding="utf-8") as fh:
        json.dump({"rows": len(indices), "oracle": oracle}, fh)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return Corpus(path)
