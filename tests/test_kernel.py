"""Kernel unit tests — exact reference semantics, no Spark needed."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from edspdf_spark.kernel.aggregate import aggregate_doc
from edspdf_spark.kernel.overlap import align_labels_kernel
from edspdf_spark.kernel.payload import PayloadError, extract_doc, parse_payload
from edspdf_spark.kernel.reading_order import reading_order_lt, sort_reading_order
from edspdf_spark.kernel.style import fold_line_chars


def chars(text, fontname="Helvetica", upright=True):
    return [(c, fontname, upright) for c in text]


class TestStyleFold:
    def test_plain(self):
        text, styles = fold_line_chars(chars("hello world"))
        assert text == "hello world"
        assert styles == [(False, False, 0, 11, "Helvetica")]

    def test_leading_spaces_dropped(self):
        # pdfminer.py:209-214 — no leading spaces; a leading space opens a
        # zero-width (None, None, None) run inherited from "no last char"
        text, styles = fold_line_chars(chars("  hello"))
        assert text == "hello"
        assert styles[0] == (None, None, 0, 0, None)
        assert styles[1] == (False, False, 0, 5, "Helvetica")

    def test_double_space_collapsed(self):
        text, styles = fold_line_chars(chars("a  b"))
        assert text == "a b"

    def test_tab_newline_to_space(self):
        text, _ = fold_line_chars(chars("a\tb\nc"))
        assert text == "a b c"

    def test_rstrip(self):
        text, styles = fold_line_chars(chars("abc   "))
        assert text == "abc"
        # trailing spaces never advance the run end (pdfminer.py:244-246)
        assert styles == [(False, False, 0, 3, "Helvetica")]

    def test_bold_italic_from_fontname(self):
        text, styles = fold_line_chars(chars("x", fontname="Times-BoldItalic"))
        assert styles == [(True, True, 0, 1, "Times-BoldItalic")]

    def test_not_upright_is_italic(self):
        _, styles = fold_line_chars(chars("x", upright=False))
        assert styles[0][0] is True and styles[0][1] is False

    def test_style_change_opens_run(self):
        cs = chars("ab", "Helvetica") + chars("cd", "Helvetica-Bold")
        text, styles = fold_line_chars(cs)
        assert text == "abcd"
        assert styles == [
            (False, False, 0, 2, "Helvetica"),
            (False, True, 2, 4, "Helvetica-Bold"),
        ]

    def test_space_inherits_previous_style(self):
        # the space between runs belongs to the FIRST style
        cs = chars("a ", "Helvetica") + chars("b", "Helvetica-Bold")
        text, styles = fold_line_chars(cs)
        assert text == "a b"
        # the run end never advances over a space (pdfminer.py:244-246), so
        # the first run is [0, 1) and the space at index 1 is uncovered
        assert styles == [
            (False, False, 0, 1, "Helvetica"),
            (False, True, 2, 3, "Helvetica-Bold"),
        ]


class TestReadingOrder:
    def b(self, page, x0, y0, x1, y1):
        return (page, x0, y0, x1, y1)

    def test_page_order_first(self):
        assert reading_order_lt(self.b(0, 0.9, 0.9, 1, 1), self.b(1, 0, 0, 0.1, 0.1))

    def test_vertical_before_horizontal(self):
        top = self.b(0, 0.5, 0.1, 0.9, 0.2)
        bottom = self.b(0, 0.1, 0.5, 0.4, 0.6)
        assert reading_order_lt(top, bottom)
        assert not reading_order_lt(bottom, top)

    def test_same_row_left_to_right(self):
        left = self.b(0, 0.1, 0.1, 0.3, 0.2)
        right = self.b(0, 0.5, 0.1, 0.7, 0.2)
        assert reading_order_lt(left, right)
        assert not reading_order_lt(right, left)

    def test_sort_full_page(self):
        rows = [
            self.b(0, 0.5, 0.5, 0.9, 0.6),  # row 2 right
            self.b(0, 0.1, 0.1, 0.5, 0.2),  # row 1 left
            self.b(0, 0.1, 0.5, 0.4, 0.6),  # row 2 left
            self.b(0, 0.6, 0.1, 0.9, 0.2),  # row 1 right
        ]
        s = sort_reading_order(rows)
        assert s == [rows[1], rows[3], rows[2], rows[0]]


class TestPayload:
    def test_roundtrip(self):
        payload = (
            "PAGE 0 612 792\n"
            "LINE 30 700 200 712 Helvetica,1,hello%20world\n"
            "LINE 30 650 200 662 Times-Italic,1,second|Helvetica-Bold,1,%20line\n"
        ).encode()
        blocs, pages, error = extract_doc(payload)
        assert not error
        assert pages == [(0, 612.0, 792.0)]
        assert [b["text"] for b in blocs] == ["hello world", "second line"]
        b0 = blocs[0]
        assert b0["x0"] == pytest.approx(30 / 612)
        assert b0["y0"] == pytest.approx(1 - 712 / 792)
        assert b0["y1"] == pytest.approx(1 - 700 / 792)
        # style runs: the space between the two runs of line 2 inherits the
        # italic style of the first run
        p = blocs[1]["props"]
        assert p[0]["italic"] is True and p[0]["fontname"] == "Times-Italic"
        assert p[0]["begin"] == 0 and p[0]["end"] == 6
        assert p[1]["bold"] is True and p[1]["begin"] == 7 and p[1]["end"] == 11

    def test_corrupt(self):
        blocs, pages, error = extract_doc(b"CORRUPT\n")
        assert error and blocs == [] and pages == []

    def test_bad_bytes(self):
        blocs, _, error = extract_doc(b"\xff\xfe\x00garbage")
        assert error

    def test_out_of_bounds_dropped(self):
        payload = (
            "PAGE 0 100 100\nLINE 10 10 120 20 F,1,out\nLINE 10 30 90 40 F,1,in\n"
        ).encode()
        blocs, _, error = extract_doc(payload)
        assert [b["text"] for b in blocs] == ["in"]

    def test_empty_line_skipped(self):
        payload = ("PAGE 0 100 100\nLINE 10 10 90 20 F,1,%20%20\n").encode()
        blocs, _, error = extract_doc(payload)
        assert blocs == [] and not error

    def test_reading_order_applied(self):
        payload = (
            "PAGE 0 100 100\n"
            "LINE 10 10 90 20 F,1,bottom\n"  # y0=10 → normalized y near 0.8
            "LINE 10 80 90 90 F,1,top\n"
        ).encode()
        blocs, _, _ = extract_doc(payload)
        assert [b["text"] for b in blocs] == ["top", "bottom"]
        assert [b["bloc_ord"] for b in blocs] == [0, 1]


class TestOverlapKernel:
    def test_reference_mask_case(self):
        # reference tests/pipes/classifiers/test_mask.py:37-46
        dst = np.array(
            [
                [0.1, 0.9, 0.1, 0.2],
                [0.1, 0.4, 0.6, 0.7],
                [0.1, 0.9, 0.6, 0.7],
            ]
        )
        # masks: body(0,0.5,0.5,1) + pollution(±1e4); threshold 0.4
        src = np.array([[0.0, 0.5, 0.5, 1.0], [-1e4, 1e4, -1e4, 1e4]])
        idx = align_labels_kernel(src, dst, threshold=0.4)
        labels = np.array(["body", "pollution", None], dtype=object)[idx]
        assert list(labels) == ["pollution", "body", "body"]

    def test_reference_multi_mask_case(self):
        # test_mask.py:49-58 — threshold 0.9 makes the wide bloc pollution
        dst = np.array(
            [
                [0.1, 0.9, 0.1, 0.2],
                [0.1, 0.4, 0.6, 0.7],
                [0.1, 0.9, 0.6, 0.7],
            ]
        )
        src = np.array([[0.0, 0.5, 0.5, 1.0], [-1e4, 1e4, -1e4, 1e4]])
        idx = align_labels_kernel(src, dst, threshold=0.9)
        labels = np.array(["body", "pollution", None], dtype=object)[idx]
        assert list(labels) == ["pollution", "body", "pollution"]

    def test_zero_area_dst_goes_first_src(self):
        dst = np.array([[0.5, 0.5, 0.5, 0.5]])
        src = np.array([[0.0, 1.0, 0.0, 1.0], [0.2, 0.8, 0.2, 0.8]])
        idx = align_labels_kernel(src, dst, threshold=0.5)
        assert idx[0] == 0  # all-zero scores → np.argmax picks index 0


class TestAggregateKernel:
    def line(self, page, x0, y0, x1, y1, text, label="body", props=()):
        return (page, x0, y0, x1, y1, text, list(props), label)

    def test_reference_no_style_case(self):
        # reference tests/pipes/aggregators/test_simple.py:8-61
        lines = [
            self.line(0, 0.1, 0.1, 0.5, 0.2, "Begin"),
            self.line(0, 0.6, 0.1, 0.7, 0.2, "and"),
            self.line(0, 0.8, 0.1, 0.9, 0.2, "end."),
            self.line(1, 0.8, 0.1, 0.9, 0.2, "New page"),
        ]
        out = aggregate_doc(lines)
        assert out["body"][0] == "Begin and end.\n\nNew page"

    def test_newline_and_paragraph_thresholds(self):
        # heights 0.1; dy=0.05 → ratio 0.5 > 0.2 → newline;
        # dy=0.2 → ratio 2.0 > 1.5 → paragraph
        lines = [
            self.line(0, 0.1, 0.1, 0.9, 0.2, "a"),
            self.line(0, 0.1, 0.15, 0.9, 0.25, "b"),
            self.line(0, 0.1, 0.35, 0.9, 0.45, "c"),
        ]
        out = aggregate_doc(lines)
        assert out["body"][0] == "a\nb\n\nc"

    def test_same_line_space(self):
        lines = [
            self.line(0, 0.1, 0.1, 0.3, 0.2, "a"),
            self.line(0, 0.4, 0.1, 0.6, 0.2, "b"),
        ]
        assert aggregate_doc(lines)["body"][0] == "a b"

    def test_span_rebasing(self):
        props_a = [(False, True, 0, 1, "F-Bold")]
        props_b = [(True, False, 0, 1, "F-Italic")]
        lines = [
            self.line(0, 0.1, 0.1, 0.3, 0.2, "a", props=props_a),
            self.line(0, 0.4, 0.1, 0.6, 0.2, "b", props=props_b),
        ]
        text, styles = aggregate_doc(lines)["body"]
        assert text == "a b"
        assert styles[0] == (False, True, 0, 1, "F-Bold")
        assert styles[1] == (True, False, 2, 3, "F-Italic")
        assert styles[0][2] == 0  # first span always begins at 0

    def test_label_map_fanout_and_empty_groups(self):
        lines = [self.line(0, 0.1, 0.1, 0.9, 0.2, "t", label="title")]
        out = aggregate_doc(lines, label_map={"text": ["title"], "header": ["h"]})
        assert out["text"][0] == "t"
        assert out["header"] == ("", [])  # empty mapped group still emitted
        assert "title" not in out  # consumed by the map

    def test_unlabeled_and_empty_dropped(self):
        lines = [
            self.line(0, 0.1, 0.1, 0.9, 0.2, "keep"),
            self.line(0, 0.1, 0.3, 0.9, 0.4, "", label="body"),
            self.line(0, 0.1, 0.5, 0.9, 0.6, "drop", label=None),
        ]
        out = aggregate_doc(lines)
        assert out["body"][0] == "keep"

    def test_sort_key(self):
        # sort=True orders by (label, page, y1 // row_height, x0)
        lines = [
            self.line(0, 0.5, 0.1, 0.9, 0.2, "right"),
            self.line(0, 0.1, 0.1, 0.4, 0.2, "left"),
        ]
        out = aggregate_doc(lines, sort=True)
        assert out["body"][0].startswith("left")


class TestFoldRunsFastPath:
    """fold_runs' single-clean-run fast path must equal the full char fold
    on every input, including the ones that force the slow path."""

    CASES = [
        [("Helvetica", True, "hello world")],          # fast path
        [("Helvetica-Bold", True, "x")],               # fast, bold
        [("Times-Italic", False, "abc def")],          # fast, italic both ways
        [(None, True, "plain")],                       # fast, no fontname
        [("Courier", True, " lead")],                  # slow: leading space
        [("Courier", True, "trail ")],                 # slow: trailing space
        [("Courier", True, "a  b")],                   # slow: double space
        [("Courier", True, "a\tb")],                   # slow: tab
        [("Courier", True, "a b")],               # slow: nbsp (unicode ws)
        [("A", True, "left"), ("B-Bold", True, "right")],   # slow: two runs
        [("A", True, "le"), ("A", True, "ft")],        # slow: same-style split
        [("Courier", True, "")],                       # slow: empty
    ]

    def test_equivalence(self):
        from edspdf_spark.kernel.style import fold_line_chars, fold_runs

        for runs in self.CASES:
            chars = [
                (ch, fontname, upright)
                for fontname, upright, text in runs
                for ch in text
            ]
            assert fold_runs(runs) == fold_line_chars(chars), runs

    def test_equivalence_property(self):
        """Randomized runs (mixed clean/dirty, merges, unicode ws) always
        fold identically through the fast path and the char fold."""
        from hypothesis import given, settings, strategies as st

        from edspdf_spark.kernel.style import fold_line_chars, fold_runs

        run_st = st.tuples(
            st.sampled_from(["Helvetica", "Times-Bold", "X-Italic", None, "F"]),
            st.booleans(),
            st.text(alphabet="ab %\t ", max_size=8),
        )

        @settings(max_examples=300, deadline=None)
        @given(st.lists(run_st, max_size=4))
        def check(runs):
            chars = [
                (ch, fontname, upright)
                for fontname, upright, text in runs
                for ch in text
            ]
            assert fold_runs(runs) == fold_line_chars(chars)

        check()


class TestFoldCoalescedRuns:
    """The PDF layout pass hands fold_runs one run per (fontname, upright)
    stretch, with each word-margin space appended to the run before it,
    instead of one run per glyph plus a ("", True, " ") run per space.
    Both shapes must fold to the same (text, style runs)."""

    @staticmethod
    def _shapes(glyphs):
        per_glyph, coalesced = [], []
        for i, (fontname, upright, text, space_before) in enumerate(glyphs):
            if i and space_before:
                per_glyph.append(("", True, " "))
                f, u, t = coalesced[-1]
                coalesced[-1] = (f, u, t + " ")
            per_glyph.append((fontname, upright, text))
            if coalesced and coalesced[-1][:2] == (fontname, upright):
                f, u, t = coalesced[-1]
                coalesced[-1] = (f, u, t + text)
            else:
                coalesced.append((fontname, upright, text))
        return per_glyph, coalesced

    @given(
        st.lists(
            st.tuples(
                st.sampled_from(
                    ["Serif", "Serif-Bold", "Serif-Italic", "Serif-BoldItalic", ""]
                ),
                st.booleans(),
                st.one_of(
                    st.sampled_from(["a", "b", " ", "\t", "\u00a0", "\u3000", ""]),
                    st.integers(0, 999).map(lambda n: f"(cid:{n})"),
                ),
                st.booleans(),
            ),
            max_size=24,
        )
    )
    @settings(max_examples=500, deadline=None, derandomize=True)
    def test_fold_invariant(self, glyphs):
        from edspdf_spark.kernel.style import fold_runs

        per_glyph, coalesced = self._shapes(glyphs)
        assert fold_runs(per_glyph) == fold_runs(coalesced)


class TestReadingOrderFastPath:
    def test_equivalence_property(self):
        """The vertical-separation fast path must equal the pure
        Timsort-over-comparator sort on random pages (including overlap
        cases that force the fallback)."""
        from functools import cmp_to_key

        import numpy as np

        from edspdf_spark.kernel.reading_order import _cmp, sort_reading_order

        rng = np.random.default_rng(123)
        for trial in range(300):
            n = int(rng.integers(1, 30))
            boxes = []
            y = 0.05
            for i in range(n):
                h = float(rng.uniform(0.005, 0.03))
                if rng.random() < 0.3:
                    # overlapping band (forces fallback sometimes)
                    y0 = float(rng.uniform(0.0, 0.9))
                else:
                    y0 = y
                    y = y0 + h + float(rng.uniform(0.0, 0.02))
                x0 = float(rng.uniform(0.0, 0.6))
                boxes.append((0, x0, y0, x0 + 0.3, y0 + h, f"t{i}"))
            order = rng.permutation(n)
            shuffled = [boxes[i] for i in order]
            expected = sorted(shuffled, key=cmp_to_key(_cmp))
            assert sort_reading_order(shuffled) == expected, trial


class TestFoldMatchesVerbatimReference:
    """_fold_run_chars (the run-hoisted rewrite) vs a VERBATIM transcription
    of the reference extract_properties_from_line loop
    (pdfminer.py:197-249) — property-based differential."""

    @staticmethod
    def _reference_fold(char_stream):
        import re as _re

        styles = []
        current_style = None
        text = ""
        last = None
        for raw, fontname_in, upright in char_stream:
            new_char_text = _re.sub(r"\s", " ", raw)
            if not (new_char_text == " " and (text.endswith(" ") or text == "")):
                new_text = text + new_char_text
            else:
                new_text = text
            if new_char_text == " ":
                if last is not None:
                    fontname, italic, bold = last
                else:
                    fontname, italic, bold = (None, None, None)
            else:
                fontname = fontname_in
                italic = (not upright) or ("italic" in (fontname_in or "").lower())
                bold = "bold" in (fontname_in or "").lower()
            if (fontname, italic, bold) != last:
                if current_style is not None:
                    styles.append(current_style)
                current_style = [italic, bold, len(text), len(new_text), fontname]
            elif new_char_text != " ":
                current_style[3] = len(new_text)
            text = new_text
            last = (fontname, italic, bold)
        if current_style is not None:
            styles.append(current_style)
        return text.rstrip(), [tuple(s) for s in styles]

    @given(
        st.lists(
            st.tuples(
                st.sampled_from(["Font-A", "Font-Bold", "x-italic", ""]),
                st.booleans(),
                st.text(
                    alphabet=st.characters(
                        whitelist_categories=("Lu", "Ll", "Nd", "Zs", "Cc"),
                        max_codepoint=0x3002,
                    ),
                    max_size=12,
                ),
            ),
            max_size=6,
        )
    )
    @settings(max_examples=400, deadline=None)
    def test_differential(self, runs):
        from edspdf_spark.kernel.style import _fold_run_chars

        chars = [(ch, f, u) for f, u, t in runs for ch in t]
        assert _fold_run_chars(runs) == self._reference_fold(chars)


def test_malformed_payload_numerics_flag_error_not_crash():
    """Bad numerics, zero page dims and duplicate PAGE declarations are
    poison pills (error=True), never task-crashing exceptions."""
    from edspdf_spark.kernel.payload import extract_doc_raw

    cases = [
        b"PAGE 1 100 100\nLINE a b c d f,1,hi",       # float('a') -> ValueError
        b"PAGE x 100 100\nLINE 1 1 2 2 f,1,hi",       # int('x')
        b"PAGE 1 0 100\nLINE 1 1 2 2 f,1,hi",          # zero width -> div/0
        b"PAGE 1 100 nan\nLINE 1 1 2 2 f,1,hi",        # NaN height
        b"PAGE 1 100 100\nLINE 1 1 2 2 f,1,yo\nPAGE 1 100 100\nLINE 1 1 2 2 f,1,hi",
    ]
    for payload in cases:
        blocs, pages, error = extract_doc_raw(payload)
        assert error is True and blocs == [], payload


def test_aggregate_zero_height_group_uses_numpy_semantics():
    """A label group whose median line height is 0 must not raise — the
    reference's np.float64 division yields ±inf/nan (dy>0 -> '\\n\\n',
    dy==0 -> ' ')."""
    from edspdf_spark.kernel.aggregate import aggregate_doc

    # two zero-height lines, positive dy -> inf ratio -> paragraph break
    lines = [
        (1, 0.1, 0.2, 0.5, 0.2, "first", []),
        (1, 0.1, 0.5, 0.5, 0.5, "second", []),
    ]
    out = aggregate_doc([l + ("body",) for l in lines])
    assert out["body"][0] == "first\n\nsecond"
    # identical y -> dy 0, height 0 -> nan -> space
    lines0 = [
        (1, 0.1, 0.2, 0.5, 0.2, "a", []),
        (1, 0.6, 0.2, 0.9, 0.2, "b", []),
    ]
    out0 = aggregate_doc([l + ("body",) for l in lines0])
    assert out0["body"][0] == "a b"
