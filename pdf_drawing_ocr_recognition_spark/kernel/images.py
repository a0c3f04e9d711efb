"""Image + alt-text harvesting — the image-text-pair miner.

Multimodal training sets (LAION-class) are mined from exactly this:
``<img>`` URLs paired with their ALT text and, when present, the richer
``<figure>/<figcaption>`` caption.  Rides the shared strictly-linear
``iter_tokens`` scanner; composes with the repo's multimodal stack (T17/
T33/T117 operate on the fetched bytes this kernel points at).

Semantics (deterministic):
- one record per ``<img>`` with a followable http(s) ``src`` (resolved
  against the page URL by the link kernel's resolver — data:, javascript:
  etc. are skipped, the LAION discipline);
- ``alt``/``title`` attributes entity-unescaped and whitespace-collapsed
  ('' when absent);
- an img inside ``<figure>`` gets that figure's ``<figcaption>`` text as
  ``caption`` — even when the caption FOLLOWS the img (records emit at
  figure close); nested figures associate with the innermost; imgs
  outside figures carry '';
- script/style content dropped; unclosed figures flush at EOF; never
  throws, every character visited once.

Reference analogue: none (PDF reference); the web-native feeder for the
SURVEY Table-D multimodal family.
"""

from __future__ import annotations

import html as _htmllib
import re

from .html_extract import _DROP_TAGS, collapse_ws, iter_tokens
from .links import resolve_href
from .meta import _attr_of

_SRCSET_DESC_RE = re.compile(r"^(\d+)(w|x)$")


def pick_srcset(srcset: str) -> str | None:
    """Best candidate of a ``srcset`` attribute: responsive pages put the
    real image there and a thumbnail in ``src``, so pair miners prefer it.
    Width descriptors (``Nw``) beat density (``Nx``); within a class the
    LARGEST integer descriptor wins, first candidate on ties; a
    descriptor-less candidate counts as ``1x``; fractional densities
    (``1.5x``) are treated as ``1x`` (integer-only determinism contract).
    Returns the chosen candidate URL string, or None for an empty set.
    """
    # whitespace-token parse (the HTML-spec shape): a URL is a full
    # non-whitespace run — commas INSIDE it (data: URIs) stay; a URL
    # ENDING with commas ends its candidate; otherwise descriptors follow
    # until one ends with a comma
    best_url, best_key = None, None
    tokens = srcset.split()
    i = 0
    while i < len(tokens):
        url = tokens[i]
        i += 1
        ended = url.endswith(",")
        url = url.rstrip(",")
        if not url:
            continue
        kind, val = 0, 1  # (0=density, 1=width), magnitude
        if not ended and i < len(tokens):
            d = tokens[i]
            i += 1
            m = _SRCSET_DESC_RE.match(d.rstrip(","))
            if m:
                kind = 1 if m.group(2) == "w" else 0
                val = int(m.group(1))
            # single-descriptor contract: the next token (if the comma
            # hasn't ended this candidate) starts a new candidate
        key = (kind, val)
        if best_key is None or key > best_key:
            best_url, best_key = url, key
    return best_url


def extract_images(html: str, base_url: str) -> list[dict]:
    """All followable images of *html* in document order.

    Returns ``[{"idx", "src", "alt", "title", "caption",
    "from_srcset"}]`` — ``src`` is the resolved BEST candidate: the
    srcset pick when present and followable (``from_srcset`` 1), else
    the ``src`` attribute.
    """
    out: list[dict] = []
    drop = 0
    # figure frames: {"imgs": [pending record], "cap": parts|None, "done": str}
    figures: list[dict] = []

    def emit(rec: dict, caption: str) -> None:
        rec["idx"] = len(out)
        rec["caption"] = caption
        out.append(rec)

    def close_figure() -> None:
        frame = figures.pop()
        caption = collapse_ws("".join(frame["cap_parts"]))
        for rec in frame["imgs"]:
            emit(rec, caption)

    for kind, a, span in iter_tokens(html):
        if kind == "d":
            if drop == 0 and a and figures and figures[-1]["in_cap"]:
                if "&" in a:
                    a = _htmllib.unescape(a)
                figures[-1]["cap_parts"].append(a)
        elif kind == "t":
            if a in _DROP_TAGS:
                drop += 1
            elif drop:
                pass  # tags inside dropped subtrees are payload, not markup
            elif a == "figure":
                figures.append({"imgs": [], "cap_parts": [], "in_cap": False})
            elif a == "figcaption":
                if figures:
                    figures[-1]["in_cap"] = True
            elif a == "img":
                raw = html[span[0] : span[1]]
                src = None
                from_srcset = 0
                srcset = _attr_of(raw, "srcset")
                if srcset:
                    cand = pick_srcset(srcset)
                    if cand:
                        src = resolve_href(cand, base_url)
                        from_srcset = 1 if src is not None else 0
                if src is None:
                    src = resolve_href(_attr_of(raw, "src") or "", base_url)
                    from_srcset = 0
                if src is None:
                    continue
                rec = {
                    "src": src,
                    "alt": collapse_ws(_attr_of(raw, "alt") or ""),
                    "title": collapse_ws(_attr_of(raw, "title") or ""),
                    "from_srcset": from_srcset,
                }
                if figures:
                    figures[-1]["imgs"].append(rec)
                else:
                    emit(rec, "")
        else:
            if a in _DROP_TAGS:
                drop = max(0, drop - 1)
            elif drop:
                pass
            elif a == "figcaption":
                if figures:
                    figures[-1]["in_cap"] = False
            elif a == "figure":
                if figures:
                    close_figure()
    while figures:  # unclosed figures flush at EOF
        close_figure()
    return out
