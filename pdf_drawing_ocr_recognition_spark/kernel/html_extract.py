"""HTML boilerplate-strip kernel (SURVEY.md M1).

Generalizes the reference's fixed-layout extraction to web pages, per
``BASELINE.json:north_star``: block segmentation of the raw HTML + per-block
link-density / text-density features + Boilerpipe/trafilatura-class threshold
rules (Kohlschütter et al., WSDM'10; Barbaresi, ACL'21 demo — PAPERS.md).

Deterministic pure-Python implementation on its own linear-time tokenizer,
``iter_tokens`` (one compiled pattern plus ``str.find`` jumps), which the
sister HTML kernels share — no external parsing libs (none are installed).
The classifier:

- split the document into blocks at block-level element boundaries
  (p, div, li, td, h1-h6, section, article, br pairs, ...);
- per block compute
    * ``link_density``  = anchor-enclosed chars / total chars
    * ``text_density``  = words / wrapped-line-count at 80 cols (Kohlschütter's
      proxy for "full lines of running text")
- a block is CONTENT iff text_density >= 8 and link_density <= 0.33 and it has
  >= 10 words, with a short-block rescue rule: a block sandwiched between two
  content blocks is kept when link_density <= 0.33 (Boilerpipe's
  "NumWordsRulesClassifier" shape, simplified but deterministic);
- content blocks are emitted in document order joined by '\n\n'.

``<script>``/``<style>``/``<noscript>``/``<template>`` subtrees and comments are
dropped entirely; ``<nav>``/``<header>``/``<footer>``/``<aside>`` subtrees are
hard boilerplate (trafilatura-style structural pruning).
"""

from __future__ import annotations

import re
from html import unescape

_BLOCK_TAGS = {
    "p", "div", "li", "ul", "ol", "td", "th", "tr", "table",
    "h1", "h2", "h3", "h4", "h5", "h6", "blockquote", "pre",
    "section", "article", "main", "figure", "figcaption", "dd", "dt",
}
_DROP_TAGS = {"script", "style", "noscript", "template", "svg", "iframe"}
_BOILER_TAGS = {"nav", "header", "footer", "aside"}
_WRAP_COLS = 80


def collapse_ws(s: str) -> str:
    r"""Runs of whitespace → one space, ends stripped.  ``str.split()`` and
    the ``re`` ``\s`` class share one whitespace table, so this equals
    ``re.sub(r"\s+", " ", s).strip()`` on every code point."""
    return " ".join(s.split())


# One-pass tag/comment tokenizer.  One compiled pattern finds the next "<"
# and consumes the token through its ">": a tag (group 2 is its name,
# group 1 the "/" of an end tag), a comment or CDATA opener (groups 3/4;
# their bodies are skipped with find()), or a doctype/PI/malformed token.
# The scanner is STRICTLY LINEAR.  Every search is bounded by the last ">"
# of the document, so every "<" it meets has a ">" after it: the first "<"
# at or after the cursor always matches, no match reaches past the next ">",
# and the cursor moves past what it consumed — no search looks beyond the
# token it returns.  An
# unbounded search would instead retry each dead "<" of a "<a<a<a…" flood
# with no ">" against the whole rest of the document, O(n²).  Past the last
# ">" nothing can close a tag: the first "<" there is either a comment/CDATA
# opener that swallows to EOF (the HTML5 eof-in-comment rule) or the end of
# the markup, and the rest is data.  Quoted '>' inside attribute values is
# out of spec for this kernel, and "<!-->"/"<!--->" close abruptly as in
# the HTML5 spec.
_TOKEN_RE = re.compile(
    r"<(?:(/?)\s*([a-zA-Z][a-zA-Z0-9]*)[^>]*>|(!--)|(!\[CDATA\[)|[^>]*>)"
)

# HTML5 RAWTEXT elements: between "<script…>"/"<style…>" and the matching
# case-insensitive close tag NOTHING is markup — "<p>" inside a JS string
# must not reach any kernel as a tag event (it would mutate parser state:
# open headings from document.write payloads, swallow the body into a code
# fence).  The close tag is "</script" / "</style" followed by whitespace,
# "/", ">" or EOF, exactly the spec's appropriate-end-tag check; an
# unterminated rawtext element swallows to EOF (eof-in-script rule).
_RAWTEXT_CLOSE = {
    t: re.compile(rf"</{t}(?=[\s/>]|\Z)", re.IGNORECASE)
    for t in ("script", "style")
}


def iter_tokens(html: str):
    """Linear scan of *html* → (kind, a, b) events, SHARED by the
    boilerplate-strip and link-harvest kernels so both agree on what is
    markup and what is text.

    - ``("d", text, None)``       — a character-data run (raw, not unescaped)
    - ``("t", tag, (lt, end))``   — start tag; ``html[lt:end]`` is the raw token
    - ("e", tag, (lt, end))``     — end tag

    Comments, CDATA sections, doctypes, PIs and malformed ``<...>`` tokens
    are consumed silently.  Every character is visited exactly once.
    """
    n = len(html)
    find = html.find
    search = _TOKEN_RE.search
    bound = html.rfind(">") + 1
    i = 0
    while (m := search(html, i, bound)) is not None:
        lt = m.start()
        if lt > i:
            yield ("d", html[i:lt], None)
        slash, tag, comment, cdata = m.groups()
        if tag is not None:
            i = m.end()
            tag = tag.lower()
            if slash:
                yield ("e", tag, (lt, i))
                continue
            yield ("t", tag, (lt, i))
            close = _RAWTEXT_CLOSE.get(tag)
            if close is not None:
                # RAWTEXT mode: one data run to the matching close tag (or
                # EOF) — still linear: the search scans the region once and
                # i jumps past it.
                mm = close.search(html, i)
                if mm is None:
                    if i < n:
                        yield ("d", html[i:], None)
                    return
                if mm.start() > i:
                    yield ("d", html[i : mm.start()], None)
                gt = find(">", mm.end())
                end = n if gt < 0 else gt + 1
                yield ("e", tag, (mm.start(), end))
                i = end
        elif comment is not None:
            end = find("-->", lt + 2)
            i = n if end < 0 else end + 3
        elif cdata is not None:
            end = find("]]>", lt + 9)
            i = n if end < 0 else end + 3
        else:
            i = m.end()  # doctype / PI / malformed: drop the "<...>" token
    if i < n:
        lt = find("<", i)
        if lt >= 0 and html.startswith(("<!--", "<![CDATA["), lt):
            if lt > i:
                yield ("d", html[i:lt], None)
        else:
            yield ("d", html[i:], None)


# classifier thresholds (Boilerpipe-class rules, fixed for determinism)
MIN_WORDS = 10
MAX_LINK_DENSITY = 0.33
MIN_TEXT_DENSITY = 8.0


def block_features(html: str) -> list[dict]:
    """Segment *html* into blocks and return their feature dicts in doc order.

    A block ends at every block-level tag, ``<br>`` and boilerplate-region
    boundary.  Text inside ``_DROP_TAGS`` subtrees is skipped; text inside
    an ``<a>`` counts towards the block's anchor chars.  A block is marked
    ``in_boiler`` when it lies inside a ``_BOILER_TAGS`` subtree.
    """
    blocks: list[dict] = []
    parts: list[str] = []
    anchor_chars = drop = boiler = anchor = 0
    try:
        for kind, a, span in iter_tokens(html):
            if kind == "d":
                if drop or not a:
                    continue
                if "&" in a:
                    a = unescape(a)
                parts.append(a)
                if anchor:
                    anchor_chars += len(collapse_ws(a))
                continue
            start = kind == "t"
            if a in _DROP_TAGS:
                if start:
                    drop += 1
                elif drop:
                    drop -= 1
                continue
            if drop:
                continue  # tags inside svg/iframe/noscript/… are not structure
            if a == "a":
                if start:
                    # a self-closing "<a .../>" opens and closes the link
                    if html[span[1] - 2] != "/":
                        anchor += 1
                elif anchor:
                    anchor -= 1
                continue
            is_boiler = a in _BOILER_TAGS
            if not (is_boiler or a in _BLOCK_TAGS or (start and a == "br")):
                continue
            if parts:  # the block ends here
                blocks += _finish(parts, anchor_chars, boiler > 0)
                parts = []
                anchor_chars = 0
            if is_boiler:
                boiler = boiler + 1 if start else max(0, boiler - 1)
    except Exception:
        pass  # malformed markup: keep whatever blocks were collected
    if parts:
        blocks += _finish(parts, anchor_chars, boiler > 0)
    return blocks


def _finish(parts: list[str], anchor_chars: int, in_boiler: bool) -> list[dict]:
    """The finished block's feature dict, as a 0- or 1-element list."""
    text = collapse_ws("".join(parts))
    if not text:
        return []
    n_chars = len(text)
    n_words = text.count(" ") + 1
    return [{
        "text": text,
        "n_chars": n_chars,
        "n_words": n_words,
        "link_density": anchor_chars / n_chars,
        "text_density": n_words / -(-n_chars // _WRAP_COLS),
        "in_boiler": in_boiler,
    }]


def classify_blocks(blocks: list[dict]) -> list[bool]:
    """Apply the threshold rules + sandwich rescue; returns per-block keep flags."""
    base = [
        (not b["in_boiler"])
        and b["n_words"] >= MIN_WORDS
        and b["link_density"] <= MAX_LINK_DENSITY
        and b["text_density"] >= MIN_TEXT_DENSITY
        for b in blocks
    ]
    keep = list(base)
    for i, b in enumerate(blocks):
        if base[i] or b["in_boiler"]:
            continue
        prev_ok = i > 0 and base[i - 1]
        next_ok = i + 1 < len(blocks) and base[i + 1]
        if prev_ok and next_ok and b["link_density"] <= MAX_LINK_DENSITY:
            keep[i] = True
    return keep


def extract_main_text(html: str) -> str:
    """Main-content text: kept blocks joined by blank lines, document order."""
    blocks = block_features(html)
    keep = classify_blocks(blocks)
    return "\n\n".join(b["text"] for b, k in zip(blocks, keep) if k)
