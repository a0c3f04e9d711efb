"""Differential tests of the shared HTML tokenizer and the strip kernel.

``iter_tokens`` scans with one pattern bounded by the document's last ">",
and ``block_features`` builds blocks in one loop.  Both must reproduce,
token for token and block for block, the find()-based scanner and the
per-token ``Block`` builder they replaced.  That pair is kept below as the
reference, and the tests compare against it on the hostile corpus, on
random strings over a markup alphabet, and on the tail cases where the
two scans differ in shape.
"""

import html as _html
import math
import re
import sys
from dataclasses import dataclass, field

from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_drawing_ocr_recognition_spark.kernel.html_extract import (
    _BLOCK_TAGS,
    _BOILER_TAGS,
    _DROP_TAGS,
    _RAWTEXT_CLOSE,
    block_features,
    classify_blocks,
    collapse_ws,
    extract_main_text,
    iter_tokens,
)

from test_html_hostile import hostile_cases

# ---------------------------------------------------------------------------
# reference: find()-based scanner and per-token Block builder
# ---------------------------------------------------------------------------

_REF_WS_RE = re.compile(r"\s+")
_REF_TAG_NAME_RE = re.compile(r"<(/?)\s*([a-zA-Z][a-zA-Z0-9]*)")


def ref_iter_tokens(html: str):
    n = len(html)
    find = html.find
    i = 0
    while i < n:
        lt = find("<", i)
        if lt < 0:
            break
        if html.startswith("<!--", lt):
            end = find("-->", lt + 2)
            tok_end = n if end < 0 else end + 3
        elif html.startswith("<![CDATA[", lt):
            end = find("]]>", lt + 9)
            tok_end = n if end < 0 else end + 3
        else:
            gt = find(">", lt + 1)
            if gt < 0:
                break  # no further tags: the rest (incl. '<') is data
            tok_end = gt + 1
            m = _REF_TAG_NAME_RE.match(html, lt)
            if m is not None and m.end() <= gt:
                if lt > i:
                    yield ("d", html[i:lt], None)
                i = tok_end
                tag = m.group(2).lower()
                if m.group(1):
                    yield ("e", tag, (lt, tok_end))
                else:
                    yield ("t", tag, (lt, tok_end))
                    close = _RAWTEXT_CLOSE.get(tag)
                    if close is not None:
                        mm = close.search(html, i)
                        if mm is None:
                            if i < n:
                                yield ("d", html[i:], None)
                            return
                        if mm.start() > i:
                            yield ("d", html[i : mm.start()], None)
                        gt2 = find(">", mm.end())
                        end2 = n if gt2 < 0 else gt2 + 1
                        yield ("e", tag, (mm.start(), end2))
                        i = end2
                continue
        if lt > i:
            yield ("d", html[i:lt], None)
        i = tok_end
    if i < n:
        yield ("d", html[i:], None)


@dataclass
class _RefBlock:
    text_parts: list = field(default_factory=list)
    anchor_chars: int = 0
    in_boiler: bool = False

    def finish(self):
        text = _REF_WS_RE.sub(" ", "".join(self.text_parts)).strip()
        if not text:
            return None
        n_chars = len(text)
        n_words = len(text.split(" "))
        n_lines = max(1, math.ceil(n_chars / 80))
        return {
            "text": text,
            "n_chars": n_chars,
            "n_words": n_words,
            "link_density": self.anchor_chars / n_chars if n_chars else 0.0,
            "text_density": n_words / n_lines,
            "in_boiler": self.in_boiler,
        }


class _RefBuilder:
    def __init__(self):
        self.blocks = []
        self._cur = _RefBlock()
        self._drop_depth = 0
        self._boiler_depth = 0
        self._anchor_depth = 0

    def _flush(self):
        cur = self._cur
        in_boiler = self._boiler_depth > 0
        if not cur.text_parts:
            cur.in_boiler = in_boiler
            return
        done = cur.finish()
        if done is not None:
            self.blocks.append(done)
        self._cur = _RefBlock(in_boiler=in_boiler)

    def _start(self, tag):
        if tag in _DROP_TAGS:
            self._drop_depth += 1
            return
        if self._drop_depth > 0:
            return
        if tag in _BOILER_TAGS:
            self._flush()
            self._boiler_depth += 1
            self._cur.in_boiler = True
            return
        if tag == "a":
            self._anchor_depth += 1
        if tag in _BLOCK_TAGS or tag == "br":
            self._flush()

    def _end(self, tag):
        if tag in _DROP_TAGS:
            self._drop_depth = max(0, self._drop_depth - 1)
            return
        if self._drop_depth > 0:
            return
        if tag in _BOILER_TAGS:
            self._flush()
            self._boiler_depth = max(0, self._boiler_depth - 1)
            self._cur.in_boiler = self._boiler_depth > 0
            return
        if tag == "a":
            self._anchor_depth = max(0, self._anchor_depth - 1)
        if tag in _BLOCK_TAGS:
            self._flush()

    def _data(self, data):
        if self._drop_depth > 0 or not data:
            return
        if "&" in data:
            data = _html.unescape(data)
        self._cur.text_parts.append(data)
        if self._anchor_depth > 0:
            self._cur.anchor_chars += len(_REF_WS_RE.sub(" ", data).strip())

    def feed(self, html):
        for kind, a, span in ref_iter_tokens(html):
            if kind == "d":
                self._data(a)
            elif kind == "t":
                self._start(a)
                if a == "a" and html[span[1] - 2] == "/":
                    self._end(a)
            else:
                self._end(a)
        self._flush()


def ref_block_features(html: str) -> list[dict]:
    builder = _RefBuilder()
    try:
        builder.feed(html)
    except Exception:
        builder._flush()
    return builder.blocks


def ref_extract_main_text(html: str) -> str:
    blocks = ref_block_features(html)
    keep = classify_blocks(blocks)
    return "\n\n".join(b["text"] for b, k in zip(blocks, keep) if k)


def assert_same(html: str) -> None:
    assert list(iter_tokens(html)) == list(ref_iter_tokens(html))
    assert block_features(html) == ref_block_features(html)
    assert extract_main_text(html) == ref_extract_main_text(html)


# ---------------------------------------------------------------------------
# the differential tests
# ---------------------------------------------------------------------------

# markup fragments that steer the scan into every branch: tag open/close,
# comments, CDATA, RAWTEXT, self-closing anchors, entities, block and
# boilerplate tags, and Unicode whitespace the collapse must treat like " "
MARKUP_ALPHABET = [
    "<", ">", "<!--", "-->", "<![CDATA[", "]]>", "</script", "<a/>", "&amp;",
    "\x1c", "\x85", "\xa0", "　",
    "/", " ", "\n", "a", "P", "x1", "=", '"', "!", "?", "-",
    "<p>", "</p>", "<a href=x>", "</a>", "<br>", "<nav>", "</nav>",
    "<script>", "<style>", "</style>", "<svg>", "</svg>", "<div ", "</ div>",
    "< p >", "&#1;", "&#65;", "word ",
]


class TestAgainstReference:
    def test_hostile_corpus(self):
        for html in hostile_cases().values():
            assert_same(html)

    @given(st.lists(st.sampled_from(MARKUP_ALPHABET), max_size=40).map("".join))
    @settings(max_examples=1500, deadline=None)
    def test_markup_alphabet(self, html):
        assert_same(html)

    def test_tail_cases(self):
        cases = {
            # past the last ">": a "<" that opens no comment ends the markup
            "a>b < c <!-- d": [("d", "a>b < c <!-- d", None)],
            # …and a comment opener there swallows to EOF
            "x>y<!-- y": [("d", "x>y", None)],
            # a tag name ends at the first non-alphanumeric, even a "<"
            "<p<b>x</b>": [
                ("t", "p", (0, 5)), ("d", "x", None), ("e", "b", (6, 10)),
            ],
            # whitespace before the name still makes a tag
            "< P >t</ P >": [
                ("t", "p", (0, 5)), ("d", "t", None), ("e", "p", (6, 12)),
            ],
        }
        for html, want in cases.items():
            assert list(iter_tokens(html)) == want, html
            assert_same(html)
        # "<" floods with and without a closing ">"
        for html in ("<" + "a" * 1000, "<a" * 1000, "<a" * 1000 + ">"):
            assert_same(html)

    def test_non_str_input_yields_no_blocks(self):
        assert block_features(None) == ref_block_features(None) == []


def test_collapse_ws_matches_regex_on_every_code_point():
    for cp in range(sys.maxunicode + 1):
        c = chr(cp)
        s = f"{c}a{c}{c}b{c}"
        assert collapse_ws(s) == _REF_WS_RE.sub(" ", s).strip(), hex(cp)

