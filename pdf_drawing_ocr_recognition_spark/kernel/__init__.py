"""Pure-Python extraction kernels — importable without Spark.

These functions ARE the single source of truth for every extraction semantic
(SURVEY.md §7 D1).  The Spark layer wraps them in Arrow-batched UDFs; the pytest
oracle maps them single-process over the same rows.  Byte-identity of the Spark
output therefore proves only the *plumbing* (ordering, encoding, partitioning,
merge, resume) — the semantics cannot diverge because they are not duplicated.
"""

from .parse import has_balanced_braces, extract_brace_span, parse_literal_result
from .crop import crop_box, rgb_to_gray
from .merge import merge_fold
from .render import (
    render_plaintext,
    render_markdown,
    render_json,
    render_python,
    render_xml,
    format_value,
    flatten_dict,
)
from .html_extract import extract_main_text, block_features
from .grid import decode_grid_payload, detect_rule_lines, assemble_cells
from .page import extract_document, PLAINTEXT_HEADER

__all__ = [
    "has_balanced_braces",
    "extract_brace_span",
    "parse_literal_result",
    "crop_box",
    "rgb_to_gray",
    "merge_fold",
    "render_plaintext",
    "render_markdown",
    "render_json",
    "render_python",
    "render_xml",
    "format_value",
    "flatten_dict",
    "extract_main_text",
    "block_features",
    "decode_grid_payload",
    "detect_rule_lines",
    "assemble_cells",
    "extract_document",
    "PLAINTEXT_HEADER",
]
