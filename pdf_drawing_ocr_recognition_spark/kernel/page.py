"""Per-document extraction kernel — the oracle for the whole pipeline.

``extract_document`` is the single-row twin of the Spark pipeline: given one
page row (url, html BINARY, lang) and the pattern dimension, it produces the
exact output row the distributed pipeline must reproduce byte-for-byte
(BASELINE.json north rule: "byte-identical extracted text per url").

Document lifecycle — a faithful generalization of the reference's
``PdorUnit.parse()`` (pdor/pdor_unit.py:298-321):

1. payload gate (ref _load, pdor/pdor_unit.py:97-109): NULL/empty html →
   status 'empty' (exception taxonomy analog: PDFNotExistError/PDFReadError);
2. payload decode (ref _imagify :111-167): GRIDDOC container → per-page PNG
   rasters; anything else → UTF-8 HTML;
3. per page × per pattern sub-box: crop (ref :197-204, kernel/crop.py) →
   deterministic decode leaf (replaces the LLM call, ref pdor/pdor_llm.py:15-71;
   SURVEY.md D2) → error-prefix filter and literal parse (ref :238-249,
   kernel/parse.py), once: the reference's retry loop (ref :226-260) exists
   because an LLM reply varies between calls, and this decode does not;
4. zero parsed sub-images → status 'failed', error_kind 'LLMError'
   (ref :262-268).  Unlike the reference's A18 echo-gated break bug
   (ref :257-260), a failed sub-image never aborts the remaining ones —
   we implement the documented intent;
5. merge fold (ref :270-283, kernel/merge.py) → canonical plaintext render
   (ref pdor/pdor_out.py:298-309, kernel/render.py) = ``extracted_text``.

Any other exception raised while extracting a row makes that row
status 'failed', error_kind 'KernelError': a bad row never fails the Spark
task that holds it, so the pipeline and this oracle still agree per url.

The GRIDDOC container (ours, deterministic):
``b'GRIDDOC1' + u16 name_len + pattern_name + u32 n_pages +
(u32 png_len + png_bytes) * n_pages``.
"""

from __future__ import annotations

import logging
import struct
from typing import Any

from .crop import crop
from .grid import decode_grid_image
from .html_extract import extract_main_text
from .merge import merge_fold
from .parse import is_error_result, parse_literal_result
from .png import decode_png
from .render import PLAINTEXT_TITLE, format_value, render_plaintext

_log = logging.getLogger(__name__)

GRID_MAGIC = b"GRIDDOC1"
FULL_PAGE_BOX = [0.0, 100.0, 0.0, 100.0]  # ref pdor/pdor_pattern.py:73 default

PLAINTEXT_HEADER = PLAINTEXT_TITLE + "\n" + "=" * 50 + "\n\n"

# Exception-taxonomy parity (ref pdor/pdor_exception.py:10-171).  All ten
# reference classes, mapped to where each lives in this engine:
#
# | ref class                        | engine analogue                        |
# |----------------------------------|----------------------------------------|
# | PdorException (base)             | row-level status/error_kind columns    |
# | PdorPDFNotExistError             | ERR_EMPTY_PAYLOAD (null/0-byte row);   |
# |                                  |   missing input PATH → reader error    |
# | PdorPDFReadError                 | ERR_PAGE_DECODE (every page raster     |
# |                                  |   unreadable)                          |
# | PdorImagifyError                 | ERR_BAD_CONTAINER (corrupt container)  |
# | PdorUnparsedError                | manifest 'pending' state — reading     |
# |                                  |   uncommitted buckets is impossible by |
# |                                  |   construction (atomic dir rename)     |
# | PdorParsedError                  | manifest resume: re-parse is a NO-OP   |
# |                                  |   by design (documented intent, A21)   |
# | PdorOutUnsupportedTypeError      | ValueError('unsupported output type')  |
# |                                  |   in operators/sinks.render_results    |
# | PdorAttributeModificationError   | free: DataFrames/rows are immutable    |
# | PdorMissingConfigError           | sources.pattern_registry.              |
# |                                  |   MissingConfigError (load_patterns)   |
# | PdorInvalidPatternError          | registry InvalidPatternError (build    |
# |                                  |   time) + ERR_UNKNOWN_PATTERN (row)    |
# | PdorLLMError                     | ERR_LLM (all sub-image decodes failed) |
# | (any other kernel exception)     | ERR_KERNEL: the row fails, not its task|
STATUS_OK = "ok"
STATUS_EMPTY = "empty"
STATUS_FAILED = "failed"
ERR_NONE = ""
ERR_EMPTY_PAYLOAD = "EmptyPayload"      # ~ PdorPDFNotExistError
ERR_PAGE_DECODE = "PageDecodeError"     # ~ PdorPDFReadError (no page readable)
ERR_BAD_CONTAINER = "ImagifyError"      # ~ PdorImagifyError
ERR_LLM = "LLMError"                    # ~ PdorLLMError (all sub-images failed)
ERR_UNKNOWN_PATTERN = "InvalidPattern"  # ~ PdorInvalidPatternError
ERR_KERNEL = "KernelError"              # unexpected exception inside the kernel


def parse_grid_container(payload: bytes) -> tuple[str, list[bytes]]:
    """Split a GRIDDOC container into (pattern_name, [png_bytes...])."""
    if payload[: len(GRID_MAGIC)] != GRID_MAGIC:
        raise ValueError("not a GRIDDOC container")
    pos = len(GRID_MAGIC)
    (name_len,) = struct.unpack_from(">H", payload, pos)
    pos += 2
    name = payload[pos : pos + name_len].decode("utf-8")
    pos += name_len
    (n_pages,) = struct.unpack_from(">I", payload, pos)
    pos += 4
    pages = []
    for _ in range(n_pages):
        (png_len,) = struct.unpack_from(">I", payload, pos)
        pos += 4
        pages.append(payload[pos : pos + png_len])
        pos += png_len
    return name, pages


def is_grid_payload(payload: bytes) -> bool:
    return payload is not None and payload[: len(GRID_MAGIC)] == GRID_MAGIC


def maybe_deskew(gray):
    """Deskew gate (north-star: render → deskew/binarize → grid detection).

    Straight pages are detected cheaply (axis-aligned rule lines found on the
    full page) and skip the angle search; otherwise estimate + correct the
    skew and flag downstream decode as jitter-tolerant.

    Returns (gray, jittered, angle_degrees).
    """
    from .grid import binarize, detect_rule_lines

    ink = binarize(gray)
    if detect_rule_lines(ink, axis=1) and detect_rule_lines(ink, axis=0):
        return gray, False, 0.0
    from .deskew import deskew

    fixed, angle = deskew(gray)
    return fixed, True, angle


def attempt_sub_image(gray, box, jittered: bool = False) -> tuple[bool, dict, str, int]:
    """Decode one pattern sub-box of one page raster (ref pdor/pdor_unit.py:226-260).

    Crop per the reference's pct arithmetic, grid-decode the crop into the raw
    assembled string (the stand-in for the LLM reply — SURVEY.md D2), then
    apply the error-prefix filter (ref :238-241) and literal parse (ref
    :243-249).  Returns (ok, parsed_dict, raw, attempts) with attempts always
    1: the decode is deterministic, so a retry would repeat this result, and
    a leaf exception (ref :254-256) is a failed sub-image.
    """
    try:
        raw = decode_grid_image(crop(gray, tuple(box)), jittered=jittered)
    except Exception:
        return False, {}, "", 1
    if is_error_result(raw):
        return False, {}, raw, 1
    ok, parsed = parse_literal_result(raw)
    return ok, parsed, raw, 1


def _stringify_fields(d: dict[str, Any]) -> dict[str, str]:
    """MAP<STRING,STRING> view of a parsed dict: nested values rendered with the
    reference's value pretty-printer (ref pdor/pdor_out.py:145-176)."""
    return {
        str(k): (v if isinstance(v, str) else format_value(v)) for k, v in d.items()
    }


def _failed(
    url: str, error_kind: str, n_subs_failed: int = 0, status: str = STATUS_FAILED
) -> dict[str, Any]:
    """Output row of a document that yields no text."""
    return {
        "url": url,
        "status": status,
        "error_kind": error_kind,
        "spans": [],
        "extracted_text": "",
        "n_cells": 0,
        "n_subs_failed": n_subs_failed,
    }


def extract_document(
    url: str,
    html: bytes | None,
    lang: str | None,
    patterns: dict[str, dict],
    max_try: int = 1,
) -> dict[str, Any]:
    """Extract one document → output-row dict (SURVEY.md D4 schema).

    Returns keys: url, status, error_kind, spans (list of {group, idx, fields}),
    extracted_text, n_cells, n_subs_failed.  *max_try* no longer affects the
    output: each sub-image is decoded once (see ``attempt_sub_image``); the
    parameter stays only for callers that pass it positionally.
    """
    if html is None or len(html) == 0:
        return _failed(url, ERR_EMPTY_PAYLOAD, status=STATUS_EMPTY)
    try:
        if is_grid_payload(html):
            return _extract_grid(url, html, patterns)
        return _extract_html(url, html)
    except Exception:
        _log.exception("extraction failed for %s", url)
        return _failed(url, ERR_KERNEL)


def _extract_html(url: str, html: bytes) -> dict[str, Any]:
    text = extract_main_text(html.decode("utf-8", errors="replace"))
    # Whole page = one sub-image whose result is exactly {'text': ...}: the
    # merge fold's single-text collapse (ref pdor/pdor_unit.py:278-279) names
    # it 'sub_0'.
    if not text:
        return _failed(url, ERR_LLM, n_subs_failed=1)
    merged = merge_fold([(0, {"text": text})])
    return {
        "url": url,
        "status": STATUS_OK,
        "error_kind": ERR_NONE,
        "spans": [{"group": "html", "idx": 0, "fields": {"text": text}}],
        "extracted_text": render_plaintext(merged),
        "n_cells": 0,
        "n_subs_failed": 0,
    }


def _extract_grid(
    url: str, payload: bytes, patterns: dict[str, dict]
) -> dict[str, Any]:
    try:
        pattern_name, page_pngs = parse_grid_container(payload)
    except Exception:
        return _failed(url, ERR_BAD_CONTAINER)
    pattern = patterns.get(pattern_name)
    if pattern is None:
        return _failed(url, ERR_UNKNOWN_PATTERN)
    sub_imgs = pattern.get("sub_imgs") or [FULL_PAGE_BOX]

    results: list[tuple[int, dict]] = []
    spans: list[dict] = []
    n_cells = 0
    n_failed = 0
    n_pages_unreadable = 0
    for page_idx, png in enumerate(page_pngs):
        try:
            gray = decode_png(png)
        except Exception:
            n_failed += len(sub_imgs)
            n_pages_unreadable += 1
            continue
        gray, jittered, _angle = maybe_deskew(gray)
        for sub_idx, box in enumerate(sub_imgs):
            ok, parsed, raw, _attempts = attempt_sub_image(gray, box, jittered=jittered)
            if ok:
                results.append((sub_idx, parsed))
                spans.append(
                    {
                        "group": f"page_{page_idx}",
                        "idx": sub_idx,
                        "fields": _stringify_fields(parsed),
                    }
                )
                n_cells += sum(1 for line in raw.split("\n") for _ in line.split("\t"))
            else:
                n_failed += 1

    if not results:
        # every page raster unreadable → PdorPDFReadError analogue
        # (ref pdor/pdor_exception.py:48-59); otherwise all sub-images failed
        # their decode/parse → PdorLLMError (ref pdor/pdor_unit.py:262-268)
        kind = (
            ERR_PAGE_DECODE
            if page_pngs and n_pages_unreadable == len(page_pngs)
            else ERR_LLM
        )
        return _failed(url, kind, n_subs_failed=n_failed)

    merged = merge_fold(results)
    return {
        "url": url,
        "status": STATUS_OK,
        "error_kind": ERR_NONE,
        "spans": spans,
        "extracted_text": render_plaintext(merged),
        "n_cells": n_cells,
        "n_subs_failed": n_failed,
    }
