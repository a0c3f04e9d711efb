"""HTML → Markdown rendering — the training-corpus serialization pass.

LLM data pipelines overwhelmingly train on a *markdown projection* of the
web (html2text/trafilatura-md class tools): structure survives as
lightweight syntax the model can learn, boilerplate markup disappears.
This kernel renders that projection in ONE pass over the shared
strictly-linear ``iter_tokens`` scanner, unifying the per-payload kernels'
semantics (headings T169, lists T194, code T164, tables T157-lite):

- ``<h1..h6>``   → ``#``·level + collapsed text, own block;
- text runs      → whitespace-collapsed paragraphs, block tags split;
- ``<ul>/<ol>``  → ``- `` / ``1.``-numbered item lines, two-space indent
                   per nesting level, consecutive items single-spaced;
- ``<pre>``      → fenced code block (``` + language-* hint), text
                   VERBATIM (entity-unescaped, whitespace preserved);
  bare ``<code>``→ inline backticks inside the paragraph;
- ``<table>``    → pipe rows in document order; a row with header cells
                   is followed by a ``| --- |`` separator once per table
                   (span attributes degrade to plain cells here — the
                   exact WHATWG grid is T157's job, documented);
- script/style/… dropped, entities unescaped, tag soup tolerated
  (li/heading auto-close, EOF flushes everything), never throws.

Determinism: blocks join with blank lines; consecutive list items and
consecutive table rows join with single newlines.

Reference analogue: the reference's renderer family (pdor/pdor_out.py
markdown sink, SURVEY A33) — this is its web-native input-side twin.
"""

from __future__ import annotations

import html as _htmllib

from .html_extract import _BLOCK_TAGS, _DROP_TAGS, collapse_ws, iter_tokens
from .meta import _attr_of

_HEADING = {"h1": 1, "h2": 2, "h3": 3, "h4": 4, "h5": 5, "h6": 6}
_LIST = {"ul": False, "ol": True}


def _lang_of(raw_tag: str) -> str:
    cls = _attr_of(raw_tag, "class")
    if cls:
        for tok in cls.split():
            if tok.startswith("language-"):
                return tok[9:]
    return ""


def render_markdown(html: str) -> str:
    """Render *html* to its markdown projection (see module docstring)."""
    blocks: list[tuple[str, str]] = []  # (kind, text): kind p|h|li|tr|fence

    drop = 0
    para: list[str] = []
    heading: list | None = None      # [level, parts]
    fence: list | None = None        # [depth, lang, parts]
    inline_code: list | None = None  # parts
    lists: list[dict] = []           # {ordered, n, item: parts|None}
    in_table = 0
    row: list[str] | None = None     # finished cell texts
    cell: list[str] | None = None
    table_header_done: list[bool] = []

    def norm(parts: list[str]) -> str:
        return collapse_ws("".join(parts))

    def flush_para() -> None:
        nonlocal para
        text = norm(para)
        para = []
        if text:
            blocks.append(("p", text))

    def flush_heading() -> None:
        nonlocal heading
        if heading is not None:
            blocks.append(("h", "#" * heading[0] + " " + norm(heading[1])))
            heading = None

    def flush_item() -> None:
        if lists and lists[-1]["item"] is not None:
            fr = lists[-1]
            indent = "  " * (len(lists) - 1)
            marker = f"{fr['n'] + 1}." if fr["ordered"] else "-"
            blocks.append(("li", f"{indent}{marker} {norm(fr['item'])}"))
            fr["n"] += 1
            fr["item"] = None

    def flush_cell() -> None:
        nonlocal cell
        if row is not None and cell is not None:
            row.append(norm(cell))
            cell = None

    def flush_row(had_header: bool) -> None:
        nonlocal row
        flush_cell()
        if row is not None and row:
            blocks.append(("tr", "| " + " | ".join(row) + " |"))
            if had_header and table_header_done and not table_header_done[-1]:
                blocks.append(("tr", "| " + " | ".join("---" for _ in row) + " |"))
                table_header_done[-1] = True
        row = None

    def close_inline_code() -> None:
        # the span stays inside its enclosing block: same sink priority as
        # character data (heading > cell > open list item > paragraph) —
        # `<li>item <code>foo</code> tail</li>` must render one item line,
        # never rip the span out as a trailing paragraph
        nonlocal inline_code
        span_text = "`" + norm(inline_code) + "`"
        inline_code = None
        if heading is not None:
            heading[1].append(span_text)
        elif cell is not None:
            cell.append(span_text)
        elif lists and lists[-1]["item"] is not None:
            lists[-1]["item"].append(span_text)
        else:
            para.append(span_text)

    row_has_header = False

    for kind, a, span in iter_tokens(html):
        if kind == "d":
            if drop or not a:
                continue
            if fence is not None:
                if "&" in a:
                    a = _htmllib.unescape(a)
                fence[2].append(a)
                continue
            if "&" in a:
                a = _htmllib.unescape(a)
            if inline_code is not None:  # an open span captures its data
                inline_code.append(a)
            elif heading is not None:
                heading[1].append(a)
            elif cell is not None:
                cell.append(a)
            elif lists and lists[-1]["item"] is not None:
                lists[-1]["item"].append(a)
            else:
                para.append(a)
        elif kind == "t":
            if a in _DROP_TAGS or a == "title":  # head metadata, not body
                drop += 1
                continue
            if drop:  # tags inside dropped subtrees are payload, not markup
                continue
            if fence is not None:  # inside a fence only pre/code nest
                if a in ("pre", "code"):
                    if not fence[1]:
                        fence[1] = _lang_of(html[span[0] : span[1]])
                    fence[0] += 1
                continue
            # tag-soup headings cannot contain block elements: any block
            # tag closes an open heading (html2text behavior; T169's
            # row-extractor keeps its own next-heading-only contract)
            if heading is not None and (a in _BLOCK_TAGS or a == "br"):
                flush_heading()
            if a == "pre":
                flush_para()
                flush_heading()
                fence = [1, _lang_of(html[span[0] : span[1]]), []]
            elif a == "code":
                inline_code = []
            elif a in _HEADING:
                flush_para()
                flush_heading()
                heading = [_HEADING[a], []]
            elif a in _LIST:
                flush_para()
                # a nested list opening inside an item flushes the parent
                # item's line FIRST so document order survives; any text
                # after the nested list closes starts a fresh paragraph
                if lists:
                    flush_item()
                lists.append({"ordered": _LIST[a], "n": 0, "item": None})
            elif a == "li":
                if lists:
                    flush_para()
                    flush_item()
                    lists[-1]["item"] = []
            elif a == "table":
                flush_para()
                in_table += 1
                table_header_done.append(False)
            elif a == "tr" and in_table:
                flush_row(row_has_header)
                row = []
                row_has_header = False
            elif a in ("td", "th") and in_table:
                flush_cell()
                cell = []
                if a == "th":
                    row_has_header = True
            elif a in _BLOCK_TAGS or a == "br":
                flush_para()
        else:
            if a in _DROP_TAGS or a == "title":
                drop = max(0, drop - 1)
                continue
            if drop:
                continue
            if fence is not None:
                if a in ("pre", "code"):
                    fence[0] -= 1
                    if fence[0] <= 0:
                        lang, text = fence[1], "".join(fence[2])
                        blocks.append(("fence", f"```{lang}\n{text}\n```"))
                        fence = None
                continue
            if a == "code":
                if inline_code is not None:
                    close_inline_code()
            elif a in _HEADING:
                flush_heading()
            elif a == "li":
                flush_item()
            elif a in _LIST:
                if lists:
                    flush_para()
                    flush_item()
                    lists.pop()
            elif a == "tr" and in_table:
                flush_row(row_has_header)
                row_has_header = False
            elif a in ("td", "th") and in_table:
                flush_cell()
            elif a == "table":
                if in_table:
                    flush_row(row_has_header)
                    row_has_header = False
                    in_table -= 1
                    if table_header_done:
                        table_header_done.pop()
            elif a in _BLOCK_TAGS:
                flush_para()

    # EOF: everything open flushes
    if fence is not None:
        lang, text = fence[1], "".join(fence[2])
        blocks.append(("fence", f"```{lang}\n{text}\n```"))
    if inline_code is not None:
        close_inline_code()
    flush_heading()
    while lists:
        flush_item()
        lists.pop()
    if in_table:
        flush_row(row_has_header)
    flush_para()

    # join: consecutive li/li and tr/tr single-spaced, else blank line
    out: list[str] = []
    prev_kind = None
    for k, text in blocks:
        if prev_kind is None:
            out.append(text)
        elif k == prev_kind and k in ("li", "tr"):
            out.append("\n" + text)
        else:
            out.append("\n\n" + text)
        prev_kind = k
    return "".join(out)
