"""Sink dispatch — the reference's 8 output formats as Spark writers.

Re-expresses ``PdorOut.out`` (ref pdor/pdor_out.py:41-143): the ``match``
dispatch becomes a writer registry; the recursive per-document formatters
(kernel/render.py) become rendered string COLUMNS produced in the same Arrow
batch pass as extraction, so "write results as markdown/json/plaintext" is
just ``df.write`` on the chosen column — no driver-side loops, no second scan.

Since round 5 the simpsave INI sink is ported too (kernel/render.py
render_simpsave — clean-room key→typed-repr INI honoring the
ss.write/ss.read contract), so ALL 8 reference formats dispatch for real.
YAML requires pyyaml (present in this environment); TOML uses the toml
package when importable and the kernel's built-in
tomllib-round-trip-verified emitter otherwise.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel.merge import merge_fold
from ..kernel.render import (
    render_json,
    render_markdown,
    render_plaintext,
    render_python,
    render_simpsave,
    render_toml,
    render_xml,
    render_yaml,
)

RENDERERS = {
    "plaintext": render_plaintext,
    "json": render_json,
    "markdown": render_markdown,
    "python": render_python,
    "xml": render_xml,
    "yaml": render_yaml,
    "toml": render_toml,
    "simpsave": render_simpsave,
}

RENDER_SCHEMA_PREFIX = "url STRING"


def render_results(extracted: DataFrame, formats: tuple[str, ...] = ("json", "markdown")) -> DataFrame:
    """extraction output → (url, render_<fmt>...) rendered string columns.

    Reconstructs each document's merged dict from its spans (ordered by
    (group, idx) — the canonical page/sub order) and applies the kernel
    renderers.  Unknown format names raise, mirroring the reference's
    unsupported-type error (ref pdor/pdor_out.py:140-143).
    """
    for fmt in formats:
        if fmt not in RENDERERS:
            raise ValueError(f"unsupported output type: {fmt}")
    fmts = list(formats)
    schema = ", ".join(
        [RENDER_SCHEMA_PREFIX] + [f"render_{f} STRING" for f in fmts]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for url, spans in zip(pdf["url"], pdf["spans"]):
                def page_no(group: str) -> int:
                    # 'page_10' must sort after 'page_2' → numeric suffix key
                    tail = group.rsplit("_", 1)[-1]
                    return int(tail) if tail.isdigit() else -1

                ordered = sorted(
                    (s for s in (spans if spans is not None else [])),
                    key=lambda s: (page_no(str(s["group"])), int(s["idx"])),
                )
                merged = merge_fold(
                    [(int(s["idx"]), dict(s["fields"])) for s in ordered]
                )
                row = {"url": url}
                for f in fmts:
                    row[f"render_{f}"] = RENDERERS[f](merged)
                out.append(row)
            yield pd.DataFrame(out, columns=["url"] + [f"render_{f}" for f in fmts])

    return extracted.select("url", "spans").mapInPandas(run, schema)


def write_results(
    extracted: DataFrame,
    out_dir: str,
    formats: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """Writer registry: parquet for the relational result + one text-render
    parquet per requested format (ref sink dispatch, pdor/pdor_out.py:62-143)."""
    extracted.write.mode(mode).parquet(f"{out_dir}/result")
    if formats:
        render_results(extracted, formats).write.mode(mode).parquet(
            f"{out_dir}/renders"
        )


def write_jsonl_corpus(
    extracted: DataFrame,
    path: str,
    mode: str = "overwrite",
    columns: tuple[str, ...] = ("url", "extracted_text"),
) -> None:
    """One JSON document per line — the standard LLM training-corpus
    interchange format (what a tokenizer/packing stage ingests).

    ``df.write.json`` IS JSONL (one object per line per part-file); column
    subset keeps the lines lean.
    """
    extracted.select(*columns).write.mode(mode).json(path)
