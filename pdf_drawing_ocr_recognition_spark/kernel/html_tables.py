"""HTML <table> extraction — grid reconstruction with rowspan/colspan.

The web-native twin of the reference's cell-grid pipeline: the reference
detects rule lines and assembles OCR text into ordered (row, col) cells
(``pdor/pdor_unit.py`` grid detection + per-cell bounding-box sort, per
SURVEY.md A11/M2-M3); web pages declare the same structure as ``<table>``
markup, and this kernel recovers the identical artifact — an ordered
(table, row, col) → text grid — via the WHATWG table-model placement
algorithm instead of projection profiles:

- rows advance on ``<tr>``; cells (``<td>``/``<th>``) take the FIRST free
  column slot, where "occupied" is tracked per column as the remaining
  rowspan hangover from earlier rows (the spec's "downward-growing cells");
- ``colspan`` reserves that many adjacent slots in the current row,
  ``rowspan`` extends the reservation downward; spec caps (colspan ≤ 1000,
  rowspan ≤ 65534) bound hostile reservations, and 0/absent/garbage spans
  degrade to 1 (colspan=0's "all remaining columns" rule is intentionally
  simplified — deterministic over exotic);
- HTML5 auto-closing is honored: a new ``<td>``/``<th>``/``<tr>`` or
  ``</table>`` implicitly closes any open cell/row, so tag soup with no
  closers parses to the same grid as the well-formed document;
- nested tables get their own table index (document order); their text
  never leaks into the enclosing cell's text;
- cell text is entity-unescaped and whitespace-collapsed; ``<script>``/
  ``<style>`` subtrees inside cells are dropped, consistent with the
  boilerplate-strip kernel.

Rides the shared strictly-linear ``iter_tokens`` scanner, so the same
hostility guarantees hold: never throws, every character visited once.
"""

from __future__ import annotations

import html as _htmllib
import re

from .html_extract import collapse_ws, iter_tokens

_SPAN_RE_CACHE: dict[str, re.Pattern] = {}

MAX_COLSPAN = 1000
MAX_ROWSPAN = 65534
_DROP_TAGS = {"script", "style", "noscript", "template", "svg"}


def _span_attr(raw_tag: str, name: str, cap: int) -> int:
    """Integer span attribute of a raw cell token, clamped to [1, cap];
    absent / unparsable / <1 values degrade to 1."""
    pat = _SPAN_RE_CACHE.get(name)
    if pat is None:
        pat = re.compile(
            r"(?<![\w-])" + name + r"""\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]+))""",
            re.IGNORECASE,
        )
        _SPAN_RE_CACHE[name] = pat
    m = pat.search(raw_tag)
    if m is None:
        return 1
    val = next(g for g in m.groups() if g is not None).strip()
    if not val.isdigit():
        return 1
    n = int(val)
    if n < 1:
        return 1
    return min(n, cap)


class _Table:
    """Placement state for one <table>: current row, per-column rowspan
    hangovers, the open cell, and the emitted cells."""

    __slots__ = ("idx", "row", "hang", "cell", "cells")

    def __init__(self, idx: int) -> None:
        self.idx = idx
        self.row = -1
        # col -> number of FUTURE rows this column stays reserved for
        self.hang: dict[int, int] = {}
        # open cell: [col, rowspan, colspan, is_header, text_parts]
        self.cell: list | None = None
        self.cells: list[tuple] = []

    def start_row(self) -> None:
        self.close_cell()
        if self.row >= 0:
            self._decay()
        self.row += 1

    def _decay(self) -> None:
        hang = self.hang
        for col in list(hang):
            left = hang[col] - 1
            if left <= 0:
                del hang[col]
            else:
                hang[col] = left

    def start_cell(self, raw: str, header: bool) -> None:
        self.close_cell()
        if self.row < 0:  # <td> with no <tr>: HTML5 implies a row
            self.row = 0
        cs = _span_attr(raw, "colspan", MAX_COLSPAN)
        rs = _span_attr(raw, "rowspan", MAX_ROWSPAN)
        col = 0
        hang = self.hang
        while col in hang:
            col += 1
        # a colspan cell needs cs CONSECUTIVE free slots starting at col
        while any(col + k in hang for k in range(cs)):
            col += 1
        for k in range(cs):
            # reserve for this row (consumed by later cells in the row) and
            # rs-1 future rows
            hang[col + k] = max(hang.get(col + k, 0), rs)
        self.cell = [col, rs, cs, header, []]

    def close_cell(self) -> None:
        if self.cell is None:
            return
        col, rs, cs, header, parts = self.cell
        text = collapse_ws(_htmllib.unescape("".join(parts)))
        self.cells.append((self.row, col, rs, cs, header, text))
        self.cell = None

    def finish(self) -> list[tuple]:
        self.close_cell()
        return self.cells


def extract_tables(html: str) -> list[dict]:
    """All table cells of *html*, grid-placed, in document order.

    Returns one dict per cell:
    ``{table_idx, row_idx, col_idx, rowspan, colspan, is_header, text}``.
    Table indexes number ``<table>`` elements in document order (nested
    tables included); unclosed tables/rows/cells flush at EOF.
    """
    stack: list[_Table] = []
    done: list[_Table] = []
    next_idx = 0
    drop_depth = 0
    for kind, val, span in iter_tokens(html):
        if kind == "d":
            if drop_depth == 0 and stack and stack[-1].cell is not None:
                stack[-1].cell[4].append(val)
            continue
        if val in _DROP_TAGS:
            if kind == "t":
                drop_depth += 1
            elif drop_depth > 0:
                drop_depth -= 1
            continue
        if drop_depth > 0:
            continue
        if kind == "t":
            if val == "table":
                stack.append(_Table(next_idx))
                next_idx += 1
            elif stack:
                t = stack[-1]
                if val == "tr":
                    t.start_row()
                elif val in ("td", "th"):
                    t.start_cell(html[span[0] : span[1]], val == "th")
        else:  # end tag
            if val == "table" and stack:
                done.append(stack.pop())
            elif stack:
                t = stack[-1]
                if val in ("td", "th", "tr"):
                    t.close_cell()
    while stack:  # unclosed tables flush at EOF
        done.append(stack.pop())
    out = []
    for t in sorted(done, key=lambda t: t.idx):
        for row, col, rs, cs, header, text in t.finish():
            out.append(
                {
                    "table_idx": t.idx,
                    "row_idx": row,
                    "col_idx": col,
                    "rowspan": rs,
                    "colspan": cs,
                    "is_header": header,
                    "text": text,
                }
            )
    return out
