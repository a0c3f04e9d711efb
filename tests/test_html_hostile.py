"""Adversarial real-world HTML robustness for the extraction kernel (M1).

The templated fixtures exercise the happy path; real Common-Crawl HTML is
hostile — unclosed tags, mis-nested tables, entity bombs, broken encodings,
megabyte single-line documents, unterminated comments.  The kernel contract
under hostility (generalizing the reference's tolerate-bad-leaves retry/error
machinery, pdor/pdor_unit.py:226-260):

1. ``extract_main_text`` NEVER raises and always returns a str;
2. the tokenizer stays LINEAR-TIME — the classic quadratic killers (floods
   of unterminated ``<!--`` / bare ``<``) must cost one scan, not one scan
   per token;
3. the Spark surface (``extract_pages``) stays byte-identical to the pure
   kernel on the hostile corpus — hostility must not open a gap between the
   distributed path and the oracle.

The corpus is a pure function of the case index (repo fixture rule).
"""

import time

import pytest

from pdf_drawing_ocr_recognition_spark.kernel.html_extract import (
    block_features,
    extract_main_text,
)
from pdf_drawing_ocr_recognition_spark.kernel.page import extract_document

PARA = (
    "This is a long paragraph of running text that easily clears the "
    "word-count and text-density thresholds of the classifier because it "
    "keeps going with plain prose and no links at all, sentence after "
    "sentence, the way real article bodies do. "
)


def hostile_cases() -> dict[str, str]:
    """name → hostile HTML (deterministic, no RNG)."""
    cases = {}
    # unclosed tags everywhere, never a closing tag
    cases["unclosed_tags"] = (
        "<html><body><p>" + PARA + "<div>" + PARA + "<li>item one <li>item two"
    )
    # mis-nested table soup (implicit closes, wrong close order)
    cases["misnested_table"] = (
        "<table><tr><td>" + PARA + "<tr><td>" + PARA + "</table></td></tr>"
        "<p>after the table " + PARA + "</div></p>"
    )
    # entity bomb: valid, numeric, and invalid entities at volume
    cases["entity_bomb"] = (
        "<p>" + ("&amp;" * 50_000) + "</p><p>"
        + ("&#65;&#x42;&notarealentity;&bogus " * 5_000) + PARA + "</p>"
    )
    # quadratic killer #1: flood of unterminated comment openers
    cases["comment_flood"] = "<p>" + PARA + "</p>" + ("<!--x " * 200_000)
    # quadratic killer #2: flood of '<' with no '>' anywhere after
    cases["lt_flood"] = "<p>" + PARA + "</p>" + ("<a " * 200_000)
    # unterminated CDATA swallowing a megabyte
    cases["cdata_unterminated"] = (
        "<p>" + PARA + "</p><![CDATA[ " + ("junk " * 200_000)
    )
    # ~10 MB single-line document with sporadic tags
    cases["ten_mb_single_line"] = "<p>" + (PARA * 25_000) + "</p>"
    # 50k-deep nesting (must not recurse)
    cases["deep_nesting"] = (
        ("<div>" * 50_000) + PARA + ("</div>" * 50_000)
    )
    # control chars and null bytes inside text and tags
    cases["control_chars"] = (
        "<p>\x00\x01\x1b" + PARA + "\x00</p><\x00notatag>" + PARA
    )
    # quoted '>' inside attribute values (documented out-of-spec: must not
    # crash; the tag token simply ends at the first '>')
    cases["gt_in_attribute"] = (
        '<p title="a>b">' + PARA + '</p><a href="x?q=1>2">link</a><p>'
        + PARA + "</p>"
    )
    # doctype / PI / bogus markup declarations / abrupt comments
    cases["declaration_soup"] = (
        "<!DOCTYPE html><?php echo 1; ?><!><!-->"
        "<p>" + PARA + "</p><!--->"
        "<p>" + PARA + "</p><?xml version='1.0'?>"
    )
    # one giant tag: 100 KB attribute blob (data-URI style)
    cases["giant_attribute"] = (
        '<img src="data:image/png;base64,' + ("A" * 100_000) + '">'
        "<p>" + PARA + "</p>"
    )
    # upper/mixed-case and whitespace-deformed tags
    cases["case_and_whitespace"] = (
        "< P >" + PARA + "</ P ><DIV>" + PARA + "</DIV><bR/><A HREF=x>l</A>"
    )
    # comment that never closes right before real content (HTML5
    # eof-in-comment: the tail is swallowed — must not crash or hang)
    cases["eof_in_comment"] = "<p>" + PARA + "</p><!-- open " + PARA * 50
    return cases


class TestNeverThrows:
    @pytest.mark.parametrize("name", sorted(hostile_cases()))
    def test_returns_str(self, name):
        html = hostile_cases()[name]
        out = extract_main_text(html)
        assert isinstance(out, str)
        # block features stay well-formed too
        for b in block_features(html):
            assert b["n_chars"] > 0
            assert 0.0 <= b["link_density"] <= 1.0 + 1e-9

    def test_broken_encodings_via_document_path(self):
        # invalid UTF-8 reaches the kernel as bytes; errors="replace" decode
        # must keep extraction total (no exception, status populated)
        payloads = [
            b"\xff\xfe<p>" + PARA.encode() + b"</p>",
            "<p>ok päragraph ".encode("latin-1") + PARA.encode() + b"</p>",
            b"<p>" + PARA.encode()[:-1] + b"\xc3",  # truncated multibyte
            b"\x00\x00\x00",
        ]
        for i, raw in enumerate(payloads):
            row = extract_document(f"u{i}", raw, "en", {}, 3)
            assert row["status"] in ("ok", "failed", "empty")
            assert isinstance(row["extracted_text"], str)

    @pytest.mark.parametrize("name", sorted(hostile_cases()))
    def test_link_kernel_never_throws(self, name):
        # the link-harvest kernel shares iter_tokens — same hostility contract
        from pdf_drawing_ocr_recognition_spark.kernel.links import extract_links

        t0 = time.monotonic()
        links = extract_links(hostile_cases()[name], "https://ex.com/a/b")
        assert time.monotonic() - t0 < 20.0
        for l in links:
            assert l["href"].startswith(("http://", "https://"))

    def test_content_still_found_amid_hostility(self):
        # robustness must not mean emptiness: prose survives the soup
        for name in ("unclosed_tags", "misnested_table", "gt_in_attribute",
                     "declaration_soup", "deep_nesting"):
            assert "running text" in extract_main_text(hostile_cases()[name]), name


class TestLinearTime:
    BUDGET_S = 20.0  # quadratic behavior on these inputs is minutes-to-hours

    @pytest.mark.parametrize(
        "name",
        ["comment_flood", "lt_flood", "cdata_unterminated",
         "ten_mb_single_line", "deep_nesting", "entity_bomb"],
    )
    def test_absolute_budget(self, name):
        html = hostile_cases()[name]
        t0 = time.monotonic()
        extract_main_text(html)
        assert time.monotonic() - t0 < self.BUDGET_S

    def test_scaling_is_near_linear(self):
        # 4x the comment-flood input must cost far less than 16x the time
        base = "<p>" + PARA + "</p>" + ("<!--x " * 50_000) + ("<y " * 50_000)
        big = "<p>" + PARA + "</p>" + ("<!--x " * 200_000) + ("<y " * 200_000)
        t0 = time.monotonic()
        extract_main_text(base)
        t1 = time.monotonic()
        extract_main_text(big)
        t2 = time.monotonic()
        small_t, big_t = t1 - t0, t2 - t1
        # linear ⇒ ~4x; allow generous noise on this host, reject ~16x
        assert big_t < 8 * small_t + 0.5, (small_t, big_t)

    # "<" floods that an unbounded search of the token pattern would make
    # quadratic, each dead "<" retried against the rest of the document;
    # make(200_000) gives "<" + "a" * 1_000_000 and "<a" * 200_000
    REGEX_FLOODS = {
        "lt_letters": lambda k: "<" + "a" * (5 * k),
        "lt_a_flood": lambda k: "<a" * k,
        "lt_a_flood_final_gt": lambda k: "<a" * k + ">",
    }

    @pytest.mark.parametrize("name", sorted(REGEX_FLOODS))
    def test_regex_flood_budget_and_scaling(self, name):
        make = self.REGEX_FLOODS[name]
        base, big = make(50_000), make(200_000)
        t0 = time.monotonic()
        extract_main_text(base)
        t1 = time.monotonic()
        extract_main_text(big)
        t2 = time.monotonic()
        small_t, big_t = t1 - t0, t2 - t1
        assert big_t < self.BUDGET_S
        assert big_t < 8 * small_t + 0.5, (small_t, big_t)


class TestSparkByteIdentity:
    def test_extract_pages_matches_kernel_on_hostile_corpus(self, spark):
        from pdf_drawing_ocr_recognition_spark.operators.extract import (
            extract_pages,
        )

        cases = hostile_cases()
        rows = [
            (name, html.encode("utf-8", errors="replace"), "en")
            for name, html in sorted(cases.items())
            # keep the Spark round small: drop the two ~10 MB timing-only docs
            if name not in ("ten_mb_single_line", "eof_in_comment")
        ]
        # add the broken-encoding byte payloads verbatim
        rows += [
            ("raw_bom", b"\xff\xfe<p>" + PARA.encode() + b"</p>", "en"),
            ("raw_truncated", b"<p>" + PARA.encode()[:-1] + b"\xc3", "en"),
        ]
        pages = spark.createDataFrame(rows, "url string, html binary, lang string")
        got = {
            r["url"]: r["extracted_text"]
            for r in extract_pages(pages.repartition(4), {}).collect()
        }
        for url, raw, lang in rows:
            want = extract_document(url, raw, lang, {}, 3)["extracted_text"]
            assert got[url] == want, url  # byte-identical per url
