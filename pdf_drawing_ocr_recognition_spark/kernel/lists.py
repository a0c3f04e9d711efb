"""HTML list extraction — <ul>/<ol> items as typed records.

Lists are a distinct training-data payload (instructions, step sequences,
enumerated facts) that the generic block extractor flattens into prose.
This kernel recovers (list, item) structure on the same strictly-linear
``iter_tokens`` scanner as the table/code/heading kernels:

- every <ul>/<ol> gets its own list index in document order (nested lists
  included) with its nesting depth and orderedness;
- <li> items auto-close on the next <li>, on the list close, or at EOF
  (HTML5 tag-soup semantics — closer-free markup parses identically);
- a nested list's items are ISOLATED from the enclosing item's text (the
  nested-table discipline); text around the nested list stays with the
  OUTER item, space-separated at the list boundary;
- character data between a list open and its first <li> routes to the
  nearest enclosing OPEN item (outer li context), else is dropped —
  deterministic treatment of invalid-but-common markup;
- entity unescape + whitespace collapse; script/style dropped; never
  throws, every character visited once.

Reference analogue: none (PDF reference); Common-Crawl structure-mining
generalization, same tier as kernel/html_tables.py.
"""

from __future__ import annotations

import html as _htmllib

from .html_extract import _DROP_TAGS, collapse_ws, iter_tokens

_LIST_TAGS = {"ul": False, "ol": True}


def extract_list_items(html: str) -> list[dict]:
    """All list items of *html* in document order.

    Returns ``[{"list_idx", "depth", "ordered", "item_idx", "text"}]``.
    """
    out: list[dict] = []
    stack: list[dict] = []  # open lists: list_idx, ordered, n_items, item
    lists_seen = 0
    drop = 0

    def open_item_frame():
        for frame in reversed(stack):
            if frame["item"] is not None:
                return frame
        return None

    def flush_item(frame: dict) -> None:
        if frame["item"] is None:
            return
        text = collapse_ws("".join(frame["item"]))
        out.append(
            {
                "list_idx": frame["list_idx"],
                "depth": frame["depth"],
                "ordered": frame["ordered"],
                "item_idx": frame["n_items"],
                "text": text,
            }
        )
        frame["n_items"] += 1
        frame["item"] = None

    for kind, a, span in iter_tokens(html):
        if kind == "d":
            if drop == 0 and a and stack:
                frame = open_item_frame()
                if frame is not None:
                    if "&" in a:
                        a = _htmllib.unescape(a)
                    frame["item"].append(a)
        elif kind == "t":
            if a in _DROP_TAGS:
                drop += 1
            elif drop:
                pass  # tags inside dropped subtrees are payload, not markup
            elif a in _LIST_TAGS:
                enclosing = open_item_frame()
                if enclosing is not None:
                    enclosing["item"].append(" ")  # boundary spacing
                stack.append(
                    {
                        "list_idx": lists_seen,
                        "depth": len(stack) + 1,
                        "ordered": _LIST_TAGS[a],
                        "n_items": 0,
                        "item": None,
                    }
                )
                lists_seen += 1
            elif a == "li" and stack:
                flush_item(stack[-1])  # soup: next li closes the previous
                stack[-1]["item"] = []
        else:
            if a in _DROP_TAGS:
                drop = max(0, drop - 1)
            elif drop:
                pass
            elif a in _LIST_TAGS and stack:
                flush_item(stack[-1])
                stack.pop()
                enclosing = open_item_frame()
                if enclosing is not None:
                    enclosing["item"].append(" ")
            elif a == "li" and stack:
                flush_item(stack[-1])
    while stack:  # unterminated lists flush at EOF
        flush_item(stack[-1])
        stack.pop()
    return out
