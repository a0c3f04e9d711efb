"""Hyperlink-extraction kernel (web-graph harvesting, T49).

Extracts the outgoing hyperlinks of an HTML page — (absolute href, anchor
text) pairs in document order — with the same one-pass linear tokenizer the
boilerplate-strip kernel uses (``kernel.html_extract.iter_tokens``), so both
kernels agree on what is markup and what is text, and both stay linear-time
on adversarial markup (unterminated comments, '<' floods).

Link-graph construction is the crawl-side twin of main-content extraction
(the reference pipeline only *reads* documents — pdor/pdor_unit.py:298-321
has no notion of cross-document structure — so this operator family is pure
north-star generalization: anchor harvesting and host-graph analytics are
the standard Common-Crawl companion workloads to text extraction).

Rules (all deterministic, no network, stdlib only):

- only ``<a href=...>`` carries links; ``href`` may be double-quoted,
  single-quoted, or unquoted; entity references inside it are unescaped.
- fragment-only (``#...``) and non-http(s) scheme (``mailto:``,
  ``javascript:``, ``tel:``, ...) hrefs are skipped.
- relative hrefs are resolved against the page url with
  ``urllib.parse.urljoin`` (RFC 3986); the fragment of the resolved URL is
  dropped (``url#frag`` and ``url`` are the same fetch).
- anchors inside dropped subtrees (``<script>``/``<style>``/...) are skipped;
  anchors inside boilerplate regions (``<nav>``/``<footer>``/...) ARE kept —
  crawlers follow navigation links even though the extractor discards their
  text.
- anchor text is entity-unescaped and whitespace-normalized; HTML forbids
  nested ``<a>``, so a nested open tag implicitly closes the current link
  (browser behavior).
"""

from __future__ import annotations

import html as _htmllib
import re
from urllib.parse import urldefrag, urljoin

from .html_extract import _DROP_TAGS, collapse_ws, iter_tokens

_HREF_RE = re.compile(
    r"""href\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]+))""", re.IGNORECASE
)
_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")
_SCHEME_HOST_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)(.*)$", re.DOTALL)


def _href_of(raw_tag: str) -> str | None:
    m = _HREF_RE.search(raw_tag)
    if m is None:
        return None
    val = next(g for g in m.groups() if g is not None)
    return _htmllib.unescape(val).strip()


def resolve_href(href: str, base_url: str) -> str | None:
    """Absolute, fragment-free URL for *href* on the page at *base_url*,
    or None if the href is not a followable http(s) link."""
    if not href or href.startswith("#"):
        return None
    scheme = _SCHEME_RE.match(href)
    if scheme and not href.lower().startswith(("http://", "https://")):
        return None  # mailto:, javascript:, tel:, data:, ...
    resolved = urldefrag(urljoin(base_url, href)).url
    if not resolved.lower().startswith(("http://", "https://")):
        return None
    # RFC 3986 §6.2.2.1: scheme and host are case-insensitive — normalize
    # them to lowercase (path/query case is significant and preserved)
    m = _SCHEME_HOST_RE.match(resolved)
    return m.group(1).lower() + m.group(2) if m else resolved


def extract_links(html: str, base_url: str) -> list[dict]:
    """All followable links of *html* in document order.

    Returns ``[{"href": absolute_url, "anchor": text}, ...]`` — one entry per
    ``<a href>`` occurrence (duplicates preserved; the graph layer counts
    them as edge weight).
    """
    out: list[dict] = []
    drop_depth = 0
    open_href: str | None = None
    anchor_parts: list[str] = []

    def _finish() -> None:
        nonlocal open_href, anchor_parts
        if open_href is not None:
            resolved = resolve_href(open_href, base_url)
            if resolved is not None:
                text = collapse_ws("".join(anchor_parts))
                out.append({"href": resolved, "anchor": text})
        open_href = None
        anchor_parts = []

    for kind, a, span in iter_tokens(html):
        if kind == "d":
            if drop_depth == 0 and open_href is not None:
                data = a
                if "&" in data:
                    data = _htmllib.unescape(data)
                anchor_parts.append(data)
            continue
        closing = kind == "e"
        if a in _DROP_TAGS:
            drop_depth = max(0, drop_depth - 1) if closing else drop_depth + 1
            continue
        if a == "a" and drop_depth == 0:
            if closing:
                _finish()
            else:
                _finish()  # nested <a> implicitly closes the previous link
                raw_tag = html[span[0] : span[1]]
                open_href = _href_of(raw_tag) or None
                if open_href is not None and raw_tag.endswith("/>"):
                    _finish()
    _finish()
    return out
