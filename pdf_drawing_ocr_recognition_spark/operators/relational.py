"""Relational (exploded) extraction pipeline — the shuffled twin of extract.py.

The default pipeline (operators/extract.py) handles a whole document inside
one Arrow batch — zero shuffles.  THIS variant decomposes the document across
rows and puts every distributed primitive on the table, mirroring the
reference's loop nest as relational operators (SURVEY.md §3.1):

    pages → mapInPandas page-explode (A4: one row per page raster)
          → broadcast join with the pattern dim on pattern_name (A40)
          → posexplode(sub_imgs) (A5: one row per pattern box)
          → mapInPandas decode leaf (A7/A8/A11-A16: kernel.page.attempt_sub_image
            — crop → grid decode → error filter → literal parse, once)
          → groupBy(url) + explicit (page_idx, sub_idx) sort inside
            applyInPandas (A20/M3: merge fold + canonical render)

Byte-identity against the single-pass kernel proves the ordering recovery:
merged output depends only on explicit sort keys, never partition order
(SURVEY.md §7 hard-part 2).  At scale this variant is what you run when one
document is too big for one task (thousand-page PDFs): the shuffle distributes
sub-image work, and only the final per-url fold needs co-location.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernel.merge import merge_fold
from ..kernel.page import (
    FULL_PAGE_BOX,
    attempt_sub_image,
    is_grid_payload,
    maybe_deskew,
    parse_grid_container,
)
from ..kernel.png import decode_png
from ..kernel.render import render_plaintext

PAGE_SCHEMA = "url STRING, pattern_name STRING, page_idx INT, png BINARY"
LEAF_SCHEMA = (
    "url STRING, page_idx INT, sub_idx INT, ok BOOLEAN, fields MAP<STRING,STRING>"
)
ASSEMBLED_SCHEMA = "url STRING, extracted_text STRING, n_subs_ok INT"


def explode_pages(pages: DataFrame) -> DataFrame:
    """A4 page explode: GRIDDOC container → one row per page raster."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for url, html in zip(pdf["url"], pdf["html"]):
                if html is None or not is_grid_payload(bytes(html)):
                    continue
                try:
                    name, pngs = parse_grid_container(bytes(html))
                except Exception:
                    continue
                for page_idx, png in enumerate(pngs):
                    out.append(
                        {"url": url, "pattern_name": name, "page_idx": page_idx, "png": png}
                    )
            yield pd.DataFrame(out, columns=["url", "pattern_name", "page_idx", "png"])

    return pages.select("url", "html").mapInPandas(run, PAGE_SCHEMA)


def pattern_dim(spark: SparkSession, patterns: dict[str, dict]) -> DataFrame:
    """The pattern registry as a broadcastable dimension DataFrame (A40)."""
    rows = [
        (
            p["name"],
            int(p["dpi"]),
            [[float(v) for v in box] for box in (p.get("sub_imgs") or [FULL_PAGE_BOX])],
        )
        for p in patterns.values()
    ]
    return spark.createDataFrame(
        rows, "pattern_name STRING, dpi INT, sub_imgs ARRAY<ARRAY<DOUBLE>>"
    )


def decode_leaf(sub_images: DataFrame) -> DataFrame:
    """A7/A8/A11-A16 decode leaf over (url, page_idx, sub_idx, png, box) rows."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for url, page_idx, sub_idx, png, box in zip(
                pdf["url"], pdf["page_idx"], pdf["sub_idx"], pdf["png"], pdf["box"]
            ):
                try:
                    gray, jittered, _angle = maybe_deskew(decode_png(bytes(png)))
                except Exception:
                    ok, fields = False, None
                else:
                    ok, parsed, _raw, _attempts = attempt_sub_image(gray, box, jittered)
                    fields = {str(k): str(v) for k, v in parsed.items()} if ok else None
                out.append(
                    {
                        "url": url,
                        "page_idx": int(page_idx),
                        "sub_idx": int(sub_idx),
                        "ok": ok,
                        "fields": fields,
                    }
                )
            yield pd.DataFrame(
                out, columns=["url", "page_idx", "sub_idx", "ok", "fields"]
            )

    return sub_images.mapInPandas(run, LEAF_SCHEMA)


def assemble(decoded: DataFrame) -> DataFrame:
    """A20/M3 distributed assembly: per-url merge fold in explicit key order."""

    def fold(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        url = key[0]
        pdf = pdf[pdf["ok"]].sort_values(["page_idx", "sub_idx"], kind="mergesort")
        results = [
            (int(sub_idx), dict(fields))
            for sub_idx, fields in zip(pdf["sub_idx"], pdf["fields"])
        ]
        if not results:
            return pd.DataFrame(
                [{"url": url, "extracted_text": "", "n_subs_ok": 0}]
            )
        merged = merge_fold(results)
        return pd.DataFrame(
            [
                {
                    "url": url,
                    "extracted_text": render_plaintext(merged),
                    "n_subs_ok": len(results),
                }
            ]
        )

    return decoded.groupBy("url").applyInPandas(fold, ASSEMBLED_SCHEMA)


def relational_extract(
    spark: SparkSession,
    pages: DataFrame,
    patterns: dict[str, dict],
) -> DataFrame:
    """Full exploded pipeline (grid documents only)."""
    exploded = explode_pages(pages)
    dim = pattern_dim(spark, patterns)
    joined = exploded.join(F.broadcast(dim), "pattern_name", "inner")
    sub_images = joined.select(
        "url",
        "page_idx",
        "png",
        F.posexplode("sub_imgs").alias("sub_idx", "box"),
    )
    decoded = decode_leaf(sub_images)
    return assemble(decoded)
