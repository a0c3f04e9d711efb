"""HTML <head> metadata extraction — title, meta tags, rel=canonical.

The companion surface to main-content extraction: web pipelines read the
head before the body (titles for retrieval display, meta description as a
quality/summary signal, meta robots for indexability, rel=canonical as the
publisher's OWN dedup declaration — the strongest URL-level dedup signal a
crawl gets, RFC 6596).  Rides the same strictly-linear ``iter_tokens``
scanner as the boilerplate-strip and link-harvest kernels, so all three
agree on what is markup, never throw, and stay linear on hostile input.

Reference analogue: none (the reference parses PDFs, not HTML); this is the
north-rule Common-Crawl-page generalization, same tier as kernel/links.py.
"""

from __future__ import annotations

import html as _htmllib
import re

from .html_extract import collapse_ws, iter_tokens
from .links import resolve_href

_ATTR_RES: dict[str, re.Pattern] = {}


def _attr_of(raw_tag: str, name: str) -> str | None:
    """Value of attribute *name* in a raw ``<tag ...>`` token (first match;
    double-/single-/un-quoted), entity-unescaped, or None.  The lookbehind
    keeps ``name=`` from matching inside ``data-name=``."""
    pat = _ATTR_RES.get(name)
    if pat is None:
        pat = re.compile(
            r"(?<![\w-])"
            + re.escape(name)
            + r"""\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]+))""",
            re.IGNORECASE,
        )
        _ATTR_RES[name] = pat
    m = pat.search(raw_tag)
    if m is None:
        return None
    val = next(g for g in m.groups() if g is not None)
    return _htmllib.unescape(val)


def extract_meta(html: str, base_url: str | None = None) -> dict:
    """Head metadata of *html*:
    ``{"title", "canonical", "metas", "alternates"}``.

    - ``title``: text of the FIRST ``<title>`` element, entity-unescaped,
      whitespace-collapsed (an unterminated title at EOF still flushes —
      the HTML5 eof-in-tag tolerance the tokenizer guarantees);
    - ``metas``: ``{key: content}`` from ``<meta name=… content=…>`` and
      ``<meta property=… content=…>`` (OpenGraph), key lowercased, FIRST
      occurrence wins (browser behavior for conflicting directives);
    - ``canonical``: href of the first ``<link rel=canonical>``, resolved
      against *base_url* when given (root-relative canonicals are common),
      fragment dropped by the resolver;
    - ``alternates``: ``[(hreflang, href)...]`` from every
      ``<link rel=alternate hreflang=…>`` in document order (resolved like
      canonical) — the multilingual translation-group declaration (Google
      hreflang protocol) that seeds bitext mining (T102).

    Single pass, every character visited once; never raises on malformed
    markup (tested on the hostile corpus).
    """
    title: str | None = None
    canonical: str | None = None
    metas: dict[str, str] = {}
    alternates: list[tuple[str, str]] = []
    html_lang = ""
    in_title = False
    title_parts: list[str] = []
    for kind, a, span in iter_tokens(html):
        if kind == "t":
            raw = html[span[0] : span[1]]
            if a == "html" and not html_lang:
                # the root's declared language (BCP 47), first DECLARATION
                # wins (a bare <html> does not mask a later soup root) —
                # compared against DETECTED language it is the MT-farm /
                # mislabeled-page signal
                html_lang = collapse_ws(_attr_of(raw, "lang") or "").lower()
            elif a == "title":
                if title is None and not in_title:
                    in_title = True
                    title_parts = []
            elif a == "meta":
                key = _attr_of(raw, "name")
                if key is None:
                    key = _attr_of(raw, "property")
                content = _attr_of(raw, "content")
                if key is not None and content is not None:
                    k = key.strip().lower()
                    if k and k not in metas:
                        metas[k] = collapse_ws(content)
            elif a == "link":
                rel = set((_attr_of(raw, "rel") or "").lower().split())
                href = _attr_of(raw, "href")
                if href is None or not href.strip():
                    continue
                resolved = (
                    resolve_href(href, base_url)
                    if base_url is not None
                    else href.strip()
                )
                if resolved is None:
                    continue
                if "canonical" in rel and canonical is None:
                    canonical = resolved
                if "alternate" in rel:
                    hl = _attr_of(raw, "hreflang")
                    if hl is not None and hl.strip():
                        alternates.append((hl.strip().lower(), resolved))
        elif kind == "e":
            if a == "title" and in_title:
                in_title = False
                title = collapse_ws(_htmllib.unescape("".join(title_parts)))
        elif in_title:  # kind == "d"
            title_parts.append(a)
    if in_title and title is None:
        title = collapse_ws(_htmllib.unescape("".join(title_parts)))
    return {
        "title": title,
        "canonical": canonical,
        "metas": metas,
        "alternates": alternates,
        "html_lang": html_lang,
    }
