"""Heading-outline extraction — <h1>..<h6> structure from HTML.

Document structure is a first-class training-data signal: heading
hierarchies drive structure-aware chunking (split at sections, not at
arbitrary token counts — composes with T31), title candidates for
retrieval display (next to kernel/meta.py's <title>), and outline-shape
quality features (a page with 40 h1s is a spam signature).  Rides the
same strictly-linear ``iter_tokens`` scanner as every other HTML kernel.

Semantics (deterministic, tag-soup-tolerant):
- a heading opens at ``<hN>`` and closes at ANY ``</hN'>`` close, at the
  NEXT heading open (HTML5 headings cannot nest — soup auto-close), or
  at EOF;
- heading text is entity-unescaped and whitespace-COLLAPSED (headings
  are prose — the opposite contract to kernel/codeblocks.py, both
  documented);
- script/style/… content inside a heading is dropped (shared
  ``_DROP_TAGS`` discipline); self-closing ``<hN/>`` yields an empty
  heading; never throws, every character visited once.

Reference analogue: none (the reference consumes PDFs); Common-Crawl
structure-mining generalization, same tier as kernel/meta.py.
"""

from __future__ import annotations

import html as _htmllib

from .html_extract import _DROP_TAGS, collapse_ws, iter_tokens

_HEADING_TAGS = {"h1": 1, "h2": 2, "h3": 3, "h4": 4, "h5": 5, "h6": 6}


def extract_headings(html: str) -> list[dict]:
    """All headings of *html* in document order.

    Returns ``[{"idx", "level", "text"}]`` with ``level`` ∈ 1..6 and
    ``text`` unescaped + whitespace-collapsed (possibly '').
    """
    out: list[dict] = []
    level: int | None = None
    parts: list[str] = []
    drop = 0

    def flush() -> None:
        nonlocal level
        if level is not None:
            text = collapse_ws("".join(parts))
            out.append({"idx": len(out), "level": level, "text": text})
            level = None

    for kind, a, span in iter_tokens(html):
        if kind == "d":
            if level is not None and drop == 0 and a:
                if "&" in a:
                    a = _htmllib.unescape(a)
                parts.append(a)
        elif kind == "t":
            if a in _DROP_TAGS:
                drop += 1
            elif drop == 0 and a in _HEADING_TAGS:
                flush()  # soup: a new heading auto-closes the previous
                level = _HEADING_TAGS[a]
                parts = []
                if html[span[1] - 2] == "/":  # self-closing: empty heading
                    flush()
        else:
            if a in _DROP_TAGS:
                drop = max(0, drop - 1)
            elif drop == 0 and a in _HEADING_TAGS:
                flush()  # any </hN> closes the open heading
    flush()  # unterminated heading at EOF
    return out


def extract_sections(html: str) -> list[dict]:
    """Flat outline sections for structure-aware chunking: each heading
    opens a section holding the whitespace-collapsed body text up to the
    NEXT heading (any level) or EOF — split documents at section
    boundaries instead of arbitrary token counts (composes with T31).
    Text before the first heading becomes a level-0 '' -titled preamble
    section IFF non-empty; heading sections are emitted even with empty
    bodies (the outline is the point).  Block-level tags insert a space
    so adjacent paragraphs never glue; script/style content is dropped;
    same totality contract as :func:`extract_headings`.

    ``<title>`` content is metadata, not body text, and is dropped like
    script/style (the head leaks into the preamble otherwise).

    Returns ``[{"idx", "level", "title", "text"}]`` in document order.
    """
    from .html_extract import _BLOCK_TAGS

    out: list[dict] = []
    level = 0
    title = ""
    in_heading = False
    h_parts: list[str] = []
    b_parts: list[str] = []
    drop = 0

    def norm(parts: list[str]) -> str:
        return collapse_ws("".join(parts))

    def close_section() -> None:
        nonlocal title, b_parts
        text = norm(b_parts)
        if level > 0 or text:
            out.append(
                {"idx": len(out), "level": level, "title": title, "text": text}
            )
        b_parts = []

    def close_heading() -> None:
        nonlocal in_heading, title
        if in_heading:
            title = norm(h_parts)
            in_heading = False

    for kind, a, span in iter_tokens(html):
        if kind == "d":
            if drop == 0 and a:
                if "&" in a:
                    a = _htmllib.unescape(a)
                (h_parts if in_heading else b_parts).append(a)
        elif kind == "t":
            if a in _DROP_TAGS or a == "title":
                drop += 1
                continue
            if drop:
                continue
            if a in _HEADING_TAGS:
                close_heading()
                close_section()
                level = _HEADING_TAGS[a]
                in_heading = True
                h_parts = []
                title = ""
                if html[span[1] - 2] == "/":
                    close_heading()
            elif a in _BLOCK_TAGS:
                (h_parts if in_heading else b_parts).append(" ")
        else:
            if a in _DROP_TAGS or a == "title":
                drop = max(0, drop - 1)
            elif drop:
                pass  # tags inside dropped subtrees are payload, not markup
            elif a in _HEADING_TAGS:
                close_heading()
            elif a in _BLOCK_TAGS:
                (h_parts if in_heading else b_parts).append(" ")
    close_heading()  # unterminated heading: its text IS the title
    close_section()
    return out
