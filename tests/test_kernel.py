"""Kernel unit tests — golden fixtures encoding the reference's semantics.

Each test cites the reference behavior it pins (file:line in
Water-Run/pdf-drawing-ocr-recognition); these are the authored stand-ins for
the reference's (gitignored, absent) test suite per SURVEY.md §5.2 layer 1.
"""

import numpy as np
import pytest

from pdf_drawing_ocr_recognition_spark.kernel import (
    assemble_cells,
    crop_box,
    extract_brace_span,
    extract_main_text,
    flatten_dict,
    format_value,
    has_balanced_braces,
    merge_fold,
    parse_literal_result,
    render_json,
    render_markdown,
    render_plaintext,
    render_python,
    render_xml,
    rgb_to_gray,
)
from pdf_drawing_ocr_recognition_spark.kernel.parse import is_error_result


class TestParse:
    """ref pdor/pdor_utils.py:87-115"""

    def test_balance_gate(self):
        # ref :94-96 — unequal brace counts fail before any parsing
        assert not has_balanced_braces("{{'a': 1}")
        assert has_balanced_braces("junk {'a': 1} junk")
        ok, d = parse_literal_result("{{'a': 1}")
        assert not ok and d == {}

    def test_span_extraction(self):
        # ref :98-104 — first '{' to last '}' inclusive
        assert extract_brace_span("xx{'a': 1}yy") == "{'a': 1}"
        assert extract_brace_span("no braces") is None
        assert extract_brace_span("} reversed {") is None  # start >= end

    def test_literal_eval_single_quotes(self):
        # payloads are Python literals, not JSON (ref prompts demand single
        # quotes, pdor/pdor_pattern.py:218-219)
        ok, d = parse_literal_result("noise {'k': 'v', 'n': 7} trailing")
        assert ok and d == {"k": "v", "n": 7}

    def test_non_dict_rejected(self):
        # ref :109-111 — sets and lists parse but are rejected
        ok, d = parse_literal_result("{'a', 'b'}")  # set literal
        assert not ok and d == {}
        ok, d = parse_literal_result("['a', 'b']")  # no braces at all
        assert not ok

    def test_syntax_error_rejected(self):
        ok, d = parse_literal_result("{'a': }")
        assert not ok and d == {}

    def test_error_prefix(self):
        # ref pdor/pdor_unit.py:238-241
        assert is_error_result("Error: api down")
        assert not is_error_result(" Error: leading space")


class TestCrop:
    """ref pdor/pdor_unit.py:197-204"""

    def test_truncation_not_rounding(self):
        # int(H * pct/100) truncates: 999 * 0.333 = 332.667 → 332, never 333
        y1, y2, x1, x2 = crop_box(999, 999, (33.3, 66.6, 0.0, 100.0))
        assert y1 == int(999 * 0.333)
        assert y2 == int(999 * 0.666)

    def test_clamping(self):
        # max(0, min(H, .)) clamp (ref :199-202)
        assert crop_box(100, 100, (0.0, 100.0, 0.0, 100.0)) == (0, 100, 0, 100)

    def test_box_unpack_order(self):
        # [top, bottom, left, right] (ref :197)
        y1, y2, x1, x2 = crop_box(200, 100, (25.0, 75.0, 10.0, 90.0))
        assert (y1, y2) == (50, 150)
        assert (x1, x2) == (10, 90)

    def test_gray_bt601(self):
        # ref :191,:207 — cv2 RGB2GRAY BT.601 weights
        px = np.array([[[255, 0, 0]]], dtype=np.uint8)
        assert rgb_to_gray(px)[0, 0] == 76  # round(255*0.299)


class TestMergeFold:
    """ref pdor/pdor_unit.py:270-283"""

    def test_single_text_collapse(self):
        # ref :278-279 — dict exactly {'text': v} collapses to sub_{i}
        assert merge_fold([(0, {"text": "hello"})]) == {"sub_0": "hello"}

    def test_multi_key_prefix(self):
        # ref :280-282 — each k → sub_{i}_{k}
        assert merge_fold([(2, {"a": 1, "b": "x"})]) == {"sub_2_a": 1, "sub_2_b": "x"}

    def test_text_plus_other_not_collapsed(self):
        # collapse requires len==1: {'text': v, 'extra': w} keeps both prefixed
        assert merge_fold([(0, {"text": "t", "extra": 1})]) == {
            "sub_0_text": "t",
            "sub_0_extra": 1,
        }

    def test_empty_dict_skipped(self):
        # ref :275-276
        assert merge_fold([(0, {}), (1, {"text": "x"})]) == {"sub_1": "x"}

    def test_last_wins_across_pages(self):
        # no page prefix ⇒ same sub_idx on a later page overwrites (verified
        # reference behavior; SURVEY.md A20)
        merged = merge_fold(
            [(0, {"text": "page0"}), (1, {"a": 1}), (0, {"text": "page1"})]
        )
        assert merged == {"sub_0": "page1", "sub_1_a": 1}

    def test_insertion_order_preserved(self):
        merged = merge_fold([(1, {"text": "b"}), (0, {"text": "a"})])
        assert list(merged.keys()) == ["sub_1", "sub_0"]


class TestRenderers:
    """ref pdor/pdor_out.py — byte-level golden fixtures"""

    DATA = {"sub_0": "hello", "sub_1_n": 7, "nested": {"x": 1}, "lst": ["a", 2], "e": []}

    def test_plaintext_golden(self):
        # ref :270-309 — header + '='*50 + blank; 'key: value'; lists as [i]:
        expected = (
            "PDOR识别结果\n" + "=" * 50 + "\n\n"
            "sub_0: hello\n"
            "sub_1_n: 7\n"
            "nested: \n"
            "  x: 1\n"
            "lst: \n"
            "  [0]: a\n"
            "  [1]: 2\n"
            "e: []\n"
        )
        assert render_plaintext(self.DATA) == expected

    def test_plaintext_nested_dict_in_list(self):
        # ref :289-290 — dicts inside lists render at level+2 with [i]: header
        out = render_plaintext({"l": [{"k": "v"}]})
        assert "l: \n  [0]:\n    k: v\n" in out

    def test_markdown_golden(self):
        # ref :233-268 — '- **key**: ', list dict items as '- 项目:'
        out = render_markdown({"a": 1, "l": [{"b": 2}, "s"]})
        assert out.startswith("# PDOR识别结果\n\n- **a**: 1\n- **l**: \n")
        assert "  - 项目:\n" in out
        assert "  - s\n" in out

    def test_json_args(self):
        # ref :75 — ensure_ascii=False, indent=2
        out = render_json({"k": "中"})
        assert out == '{\n  "k": "中"\n}'

    def test_python_module(self):
        # ref :115-124
        out = render_python({"a": 1})
        assert out.endswith("data = {'a': 1}\n")

    def test_xml_lists_to_item_i(self):
        # ref :192-203
        out = render_xml({"l": ["x", {"k": "v"}]})
        assert "<item_0>x</item_0>" in out
        assert "<item_1>" in out and "<k>v</k>" in out
        assert out.startswith('<?xml version="1.0" ?>')

    def test_format_value_trailing_commas(self):
        # ref :145-176 — trailing commas, double-quoted strings
        assert format_value({"a": "x"}) == '{\n  a: "x",\n}'
        assert format_value([1]) == "[\n  1,\n]"
        assert format_value({}) == "{}"

    def test_flatten_dotted(self):
        # ref :214-231
        assert flatten_dict({"a": {"b": {"c": 1}}, "d": 2}) == {"a.b.c": 1, "d": 2}


class TestAssembleCells:
    """SURVEY.md M2 — interval y-band grouping + row-major sort"""

    def test_row_major_from_scrambled(self):
        rows = [
            [(0, 10, 0, 10), (0, 10, 20, 30)],
            [(20, 30, 0, 10), (20, 30, 20, 30)],
        ]
        scrambled = [rows[1][1], rows[0][0], rows[1][0], rows[0][1]]
        assert assemble_cells(scrambled) == rows

    def test_overlapping_intervals_same_band(self):
        # boxes with overlapping y-spans join one band (interval grouping)
        boxes = [(0, 12, 20, 30), (2, 10, 0, 10)]
        bands = assemble_cells(boxes)
        assert len(bands) == 1
        assert bands[0][0][2] == 0  # sorted by x within the band

    def test_empty(self):
        assert assemble_cells([]) == []


class TestHtmlExtract:
    """SURVEY.md M1 — density-rule boilerplate stripping"""

    CONTENT = (
        "This engineering article paragraph carries more than ten words of "
        "running prose so the classifier keeps it in the output."
    )

    def make(self, extra=""):
        return f"""<html><head><script>skip()</script></head><body>
        <nav><ul><li><a href="/a">aaa</a></li><li><a href="/b">bbb</a></li></ul></nav>
        <p>{self.CONTENT}</p>{extra}
        <footer>short footer <a href="/t">terms</a></footer>
        </body></html>"""

    def test_keeps_content_drops_chrome(self):
        out = extract_main_text(self.make())
        assert self.CONTENT in out
        assert "aaa" not in out
        assert "footer" not in out
        assert "skip()" not in out

    def test_link_dense_block_dropped(self):
        ad = '<p><a href="/x">one two three four five six seven eight nine ten eleven twelve</a></p>'
        out = extract_main_text(self.make(ad))
        assert "eleven twelve" not in out

    def test_document_order_preserved(self):
        second = "Another long paragraph also containing well over ten words of ordinary prose for the extractor to keep."
        out = extract_main_text(self.make(f"<p>{second}</p>"))
        assert out.index(self.CONTENT) < out.index(second)

    def test_empty_html(self):
        assert extract_main_text("") == ""


class TestGridRoundTrip:
    """SURVEY.md M2/M3 + D2 — binarize/profile/merge/sort exercised for real"""

    def test_decode_inverse_of_encode(self):
        from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import (
            dict_to_tokens,
            encode_grid_image,
        )
        from pdf_drawing_ocr_recognition_spark.kernel.grid import decode_grid_image

        d = {"k0": "v_abc", "k1": 42, "text": "mix"}
        raw = decode_grid_image(encode_grid_image(dict_to_tokens(d)))
        ok, parsed = parse_literal_result(raw)
        assert ok and parsed == d

    def test_png_roundtrip_bytes(self):
        from pdf_drawing_ocr_recognition_spark.kernel.png import decode_png, encode_png

        rng = np.random.default_rng(42)
        img = rng.integers(0, 256, size=(37, 53), dtype=np.uint8)
        assert np.array_equal(decode_png(encode_png(img)), img)

    def test_line_detection_merges_thickness(self):
        from pdf_drawing_ocr_recognition_spark.kernel.grid import (
            binarize,
            detect_rule_lines,
        )

        img = np.full((20, 20), 255, dtype=np.uint8)
        img[5:7, :] = 0  # one 2px-thick line
        segs = detect_rule_lines(binarize(img), axis=1)
        assert segs == [(5, 7)]


class TestExtractDocument:
    """kernel/page.py — per-document lifecycle incl. fault paths"""

    def _patterns(self):
        from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import PATTERNS

        return PATTERNS

    def test_empty_payload(self):
        from pdf_drawing_ocr_recognition_spark.kernel import extract_document

        r = extract_document("u", None, "en", self._patterns())
        assert r["status"] == "empty" and r["error_kind"] == "EmptyPayload"
        r = extract_document("u", b"", "en", self._patterns())
        assert r["status"] == "empty"

    def test_error_prefix_decodes_once(self, monkeypatch):
        # A12/A13: an 'Error:' decode is a failed sub-image → failed doc.  The
        # decode is deterministic, so it runs once per sub-image: a retry
        # budget would only repeat the same result
        from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import (
            PATTERNS,
            build_griddoc,
            build_page_image,
        )
        from pdf_drawing_ocr_recognition_spark.kernel import extract_document
        from pdf_drawing_ocr_recognition_spark.kernel import page as kp

        calls = []
        decode = kp.decode_grid_image

        def counting_decode(*args, **kwargs):
            calls.append(1)
            return decode(*args, **kwargs)

        monkeypatch.setattr(kp, "decode_grid_image", counting_decode)
        img = build_page_image(PATTERNS["fullpage"], [[["Error:", "x"]]])
        doc = build_griddoc("fullpage", [img])
        r = extract_document("u", doc, "en", PATTERNS)
        assert r["status"] == "failed" and r["error_kind"] == "LLMError"
        assert r["n_subs_failed"] == 1
        assert len(calls) == 1

    def test_kernel_exception_is_a_failed_row(self):
        # a malformed pattern (sub_imgs not a list) raises inside the grid
        # path; the row comes back failed instead of failing its caller
        from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import (
            PATTERNS,
            build_griddoc,
            build_page_image,
        )
        from pdf_drawing_ocr_recognition_spark.kernel import extract_document

        img = build_page_image(PATTERNS["fullpage"], [{"text": "x"}])
        doc = build_griddoc("bad", [img])
        patterns = {**PATTERNS, "bad": {"name": "bad", "sub_imgs": 5}}
        r = extract_document("u", doc, "en", patterns)
        assert r["status"] == "failed" and r["error_kind"] == "KernelError"
        assert r["spans"] == [] and r["extracted_text"] == ""

    def test_failed_sub_does_not_abort_rest(self):
        # A18 documented intent (NOT the reference's echo-gated break bug):
        # one failing sub-image leaves the other's result intact
        from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import (
            PATTERNS,
            build_griddoc,
            build_page_image,
        )
        from pdf_drawing_ocr_recognition_spark.kernel import extract_document

        page = build_page_image(
            PATTERNS["grid2"], [[["Error:", "x"]], {"text": "survives"}]
        )
        doc = build_griddoc("grid2", [page])
        r = extract_document("u", doc, "en", PATTERNS)
        assert r["status"] == "ok"
        assert "sub_1: survives" in r["extracted_text"]
        assert r["n_subs_failed"] == 1

    def test_unknown_pattern(self):
        from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import (
            PATTERNS,
            build_griddoc,
            build_page_image,
        )
        from pdf_drawing_ocr_recognition_spark.kernel import extract_document

        img = build_page_image(PATTERNS["fullpage"], [{"text": "x"}])
        doc = build_griddoc("nope", [img])
        r = extract_document("u", doc, "en", PATTERNS)
        assert r["error_kind"] == "InvalidPattern"

    def test_html_doc_collapse_naming(self):
        from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import PATTERNS, make_html
        from pdf_drawing_ocr_recognition_spark.kernel import extract_document

        html, _, paras = make_html(424242, "en")
        r = extract_document("u", html, "en", PATTERNS)
        assert r["status"] == "ok"
        assert r["extracted_text"].startswith("PDOR识别结果\n" + "=" * 50 + "\n\nsub_0: ")
        assert paras[0] in r["extracted_text"]

    def test_grid11_preset_shape(self):
        from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import (
            PATTERNS,
            build_griddoc,
            build_page_image,
        )
        from pdf_drawing_ocr_recognition_spark.kernel import extract_document

        subs = [{"text": f"s{i}"} for i in range(11)]
        img = build_page_image(PATTERNS["grid11"], subs)
        r = extract_document("u", build_griddoc("grid11", [img]), "en", PATTERNS)
        assert r["status"] == "ok"
        for i in range(11):
            assert f"sub_{i}: s{i}\n" in r["extracted_text"]


class TestDeterminism:
    def test_corpus_bytes_stable(self):
        from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import gen_rows

        a = list(gen_rows(50))
        b = list(gen_rows(50))
        assert a == b

    def test_extraction_stable(self):
        from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import PATTERNS, gen_rows
        from pdf_drawing_ocr_recognition_spark.kernel import extract_document

        rows = list(gen_rows(30))
        r1 = [extract_document(u, h, l, PATTERNS) for u, _, h, _, l in rows]
        r2 = [extract_document(u, h, l, PATTERNS) for u, _, h, _, l in rows]
        assert r1 == r2


def test_quad_pattern_exercises_x_crop():
    """quad pattern: 2x2 left/right boxes — the x side of the truncating crop
    (ref pdor/pdor_unit.py:201-202) decodes each quadrant independently with
    row-major sub_idx order (top-left, top-right, bottom-left, bottom-right)."""
    from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import (
        PATTERNS,
        build_griddoc,
        build_page_image,
    )
    from pdf_drawing_ocr_recognition_spark.kernel.page import extract_document

    subs = [{"a": "topleft"}, {"b": "topright"}, {"c": "botleft"}, {"d": "botright", "e": 7}]
    payload = build_griddoc("quad", [build_page_image(PATTERNS["quad"], subs)])
    out = extract_document("u", payload, "en", PATTERNS)
    assert out["status"] == "ok"
    assert [(s["idx"], s["fields"]) for s in out["spans"]] == [
        (0, {"a": "topleft"}),
        (1, {"b": "topright"}),
        (2, {"c": "botleft"}),
        (3, {"d": "botright", "e": "7"}),
    ]
    assert "sub_3_e: 7" in out["extracted_text"]


class TestErrorTaxonomyParity:
    """A39: the ten reference exception classes (ref pdor/pdor_exception.py:
    10-171) each have a live engine analogue — one fault-injection per kind
    that has row/runtime semantics (the mapping table lives in kernel/page.py).
    """

    def test_page_decode_error_all_pages_unreadable(self):
        # ~ PdorPDFReadError: valid container, every page PNG corrupt
        import struct

        from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import PATTERNS
        from pdf_drawing_ocr_recognition_spark.kernel import extract_document
        from pdf_drawing_ocr_recognition_spark.kernel.page import GRID_MAGIC

        bad_png = b"\x89PNG-not-really"
        name = b"fullpage"
        doc = (GRID_MAGIC + struct.pack(">H", len(name)) + name
               + struct.pack(">I", 2)
               + (struct.pack(">I", len(bad_png)) + bad_png) * 2)
        r = extract_document("u", doc, "en", PATTERNS)
        assert r["status"] == "failed"
        assert r["error_kind"] == "PageDecodeError"
        assert r["n_subs_failed"] == 2

    def test_mixed_unreadable_page_stays_llm_semantics(self):
        # one good page + one corrupt page: results exist → ok; all-subs-fail
        # with a READABLE page stays LLMError, not PageDecodeError
        import struct

        from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import (
            PATTERNS,
            build_griddoc,
            build_page_image,
        )
        from pdf_drawing_ocr_recognition_spark.kernel import extract_document
        from pdf_drawing_ocr_recognition_spark.kernel.page import GRID_MAGIC
        from pdf_drawing_ocr_recognition_spark.kernel.png import encode_png

        good = build_page_image(PATTERNS["fullpage"], [{"text": "x"}])
        png = encode_png(good)
        bad = b"broken"
        name = b"fullpage"
        doc = (GRID_MAGIC + struct.pack(">H", len(name)) + name
               + struct.pack(">I", 2)
               + struct.pack(">I", len(png)) + png
               + struct.pack(">I", len(bad)) + bad)
        r = extract_document("u", doc, "en", PATTERNS)
        assert r["status"] == "ok" and r["n_subs_failed"] == 1

        err_img = build_page_image(PATTERNS["fullpage"], [[["Error:", "x"]]])
        doc2 = build_griddoc("fullpage", [err_img])
        r2 = extract_document("u", doc2, "en", PATTERNS)
        assert r2["error_kind"] == "LLMError"

    def test_missing_config_error(self):
        # ~ PdorMissingConfigError; still catchable as FileNotFoundError
        import pytest

        from pdf_drawing_ocr_recognition_spark.sources.pattern_registry import (
            MissingConfigError,
            load_patterns,
        )

        with pytest.raises(MissingConfigError):
            load_patterns("/nonexistent/patterns.json")
        with pytest.raises(FileNotFoundError):
            load_patterns("/nonexistent/patterns.json")

    def test_taxonomy_enumerates_all_ten_reference_classes(self):
        # the mapping table in kernel/page.py names every reference class
        import inspect

        from pdf_drawing_ocr_recognition_spark.kernel import page

        src = inspect.getsource(page)
        for cls in (
            "PdorException", "PdorPDFNotExistError", "PdorPDFReadError",
            "PdorImagifyError", "PdorUnparsedError", "PdorParsedError",
            "PdorOutUnsupportedTypeError", "PdorAttributeModificationError",
            "PdorMissingConfigError", "PdorInvalidPatternError", "PdorLLMError",
        ):
            assert cls in src, cls


class TestLatticeFastPath:
    def test_fast_decode_equals_per_cell_reference(self):
        """_decode_lattice_fast must stay bitwise-equal to the per-cell
        decoder (the jittered-path/reference implementation) on corpus
        rasters, window-exact preset crops, and a dense 480-cell table."""
        from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import (
            PATTERNS,
            build_page_image_preset,
            encode_grid_image,
            gen_rows,
        )
        from pdf_drawing_ocr_recognition_spark.kernel.crop import crop
        from pdf_drawing_ocr_recognition_spark.kernel.grid import (
            _decode_lattice_fast,
            assemble_cells,
            binarize,
            cell_bboxes,
            decode_cell_text,
        )
        from pdf_drawing_ocr_recognition_spark.kernel.page import (
            is_grid_payload,
            parse_grid_container,
        )
        from pdf_drawing_ocr_recognition_spark.kernel.png import decode_png

        def reference(ink):
            boxes = cell_bboxes(ink)
            rows = assemble_cells(sorted(boxes, key=lambda b: (b[2], b[0])))
            return "\n".join(
                "\t".join(decode_cell_text(ink, b) for b in band) for band in rows
            )

        rasters = []
        for _u, _t, html, _x, _l in gen_rows(800):
            if html and is_grid_payload(html):
                try:
                    _, pngs = parse_grid_container(html)
                    rasters.extend([decode_png(p) for p in pngs])
                except Exception:
                    pass
        pat = PATTERNS["preset11_lcp"]
        subs = [{"text": f"z{i}"} for i in range(11)]
        subs[8] = None
        page = build_page_image_preset(pat, subs, 1200, 4000)
        rasters += [crop(page, tuple(b)) for b in pat["sub_imgs"]]
        rasters.append(
            encode_grid_image([[f"r{r}c{c}" for c in range(12)] for r in range(40)])
        )
        assert len(rasters) > 100
        for gray in rasters:
            ink = binarize(gray)
            assert _decode_lattice_fast(ink) == reference(ink)
