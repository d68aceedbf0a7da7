"""Real-PDF byte ingestion: the pure-Python parser vs the reference's own
golden fixtures (``/root/reference/tests/pipes/extractors/
blocks_ground_truth.py`` + ``tests/resources/*.pdf``), plus the
deterministic PDF generator round-trip.

The reference asserts coords with ``nested_approx(..., abs=5e-2)`` and
exact text (``tests/pipes/extractors/test_pdfminer.py:8-13``); the style
test asserts the exact (text-slice, style) pair set
(``tests/pipes/aggregators/test_simple.py:64-116``). Both are replicated
here from actual PDF bytes — no synthesized payloads.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest

from edspdf_spark.kernel.payload import extract_doc
from edspdf_spark.kernel.pdf import PdfParseError, is_pdf, parse_pdf
from edspdf_spark.sources.pdfgen import make_pdf, paginate, split_lines

RESOURCES = Path("/root/reference/tests/resources")
GROUND_TRUTH = Path("/root/reference/tests/pipes/extractors/blocks_ground_truth.py")

# Only the tests that read the reference's fixture files need them; the
# generated-PDF tests below run everywhere.
needs_reference = pytest.mark.skipif(
    not RESOURCES.exists(), reason="reference fixtures not available"
)

_TEXTBOX_RE = re.compile(
    r"TextBox\(page_num=(\d+), x0=([\d.e-]+), x1=([\d.e-]+), "
    r"y0=([\d.e-]+), y1=([\d.e-]+), text=('.*?')\)",
    re.S,
)


def _golden(var: str):
    """Parse golden TextBox literals out of blocks_ground_truth.py without
    importing the reference package (edspdf is not installed here)."""
    src = GROUND_TRUTH.read_text()
    start = src.index(f"{var} = [")
    end = src.index("]", start)
    while src[start:end].count("(") != src[start:end].count(")"):
        end = src.index("]", end + 1)
    out = []
    for m in _TEXTBOX_RE.finditer(src[start:end]):
        out.append(
            (
                int(m.group(1)),
                float(m.group(2)),
                float(m.group(4)),
                float(m.group(3)),
                float(m.group(5)),
                ast.literal_eval(m.group(6)),
            )
        )
    return out  # (page_num, x0, y0, x1, y1, text)


def _extract(name: str):
    blocs, pages, error = extract_doc((RESOURCES / name).read_bytes())
    return blocs, pages, error


@needs_reference
@pytest.mark.parametrize(
    "name,var,n",
    [("test.pdf", "pdf_blocks", 41), ("styles.pdf", "styles_blocks", 2)],
)
def test_golden_blocks_from_real_bytes(name, var, n):
    golden = _golden(var)
    assert len(golden) == n
    blocs, _pages, error = _extract(name)
    assert not error
    assert len(blocs) == len(golden)
    for got, want in zip(blocs, golden):
        page, x0, y0, x1, y1, text = want
        assert got["page_num"] == page
        assert got["text"] == text
        for k, v in (("x0", x0), ("y0", y0), ("x1", x1), ("y1", y1)):
            assert abs(got[k] - v) < 5e-2, (k, got[k], v)


@needs_reference
def test_blank_pdf():
    blocs, pages, error = _extract("blank.pdf")
    assert not error
    assert len(pages) == 1
    assert blocs == []


@needs_reference
def test_error_pdf_sets_error_flag():
    blocs, pages, error = _extract("error.pdf")
    assert error and blocs == [] and pages == []
    with pytest.raises(PdfParseError):
        parse_pdf((RESOURCES / "error.pdf").read_bytes())


@needs_reference
def test_letter_pdf_extracts_text():
    blocs, pages, error = _extract("letter.pdf")
    assert not error
    assert len(pages) == 1 and abs(pages[0][1] - 595.32) < 0.01
    texts = [b["text"] for b in blocs]
    assert "Groupe Hospitalier Henri Mondor" in texts
    assert any("CRETEIL" in t for t in texts)


@needs_reference
def test_styles_pdf_style_pairs():
    """Exact (text-slice, style) set of the reference style test, derived
    from real styles.pdf bytes (test_simple.py:64-116)."""
    blocs, _pages, error = _extract("styles.pdf")
    assert not error
    pairs = set()
    for b in blocs:
        for p in b["props"]:
            style = " ".join(
                filter(
                    bool,
                    (
                        "italic" if p["italic"] else "",
                        "bold" if p["bold"] else "",
                    ),
                )
            )
            pairs.add((b["text"][p["begin"] : p["end"]], style))
    assert pairs == {
        ("This is a", ""),
        ("test", "bold"),
        ("to check EDS-PDF’s", ""),
        ("ability", "italic"),
        ("to detect changing styles.", ""),
        ("Let’s up the stakes, with", ""),
        ("intra", "italic"),
        ("-word change. Or better yet,", ""),
        ("this mi", "bold"),
        ("ght be hard.", ""),
    }


def test_generated_pdf_roundtrip():
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"
    lines = split_lines(text, 4)
    pdf = make_pdf(paginate(lines, 2))
    assert is_pdf(pdf)
    blocs, pages, error = extract_doc(pdf)
    assert not error
    assert [p[0] for p in pages] == [0, 1]
    assert [b["text"] for b in blocs] == lines
    assert [(b["page_num"], b["bloc_ord"]) for b in blocs] == [
        (0, 0),
        (0, 1),
        (1, 0),
    ]


def test_generated_pdf_aggregate_separators(spark):
    """6pt dy on a 5pt font → dy/median_height = 1.2 → '\\n' joins inside a
    page, page break → '\\n\\n' (reference simple.py:156-164)."""
    from edspdf_spark.operators import aggregate_simple, classify_dummy, extract_blocs
    from edspdf_spark.sources.pdfgen import documents_to_pdfs

    docs = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12")], ["doc_id", "text"]
    )
    pdfs = documents_to_pdfs(docs, words_per_line=2, lines_per_page=3)
    agg = (
        aggregate_simple(classify_dummy(extract_blocs(pdfs), "body"))
        .select("text")
        .collect()
    )
    assert agg[0]["text"] == "w1 w2\nw3 w4\nw5 w6\n\nw7 w8\nw9 w10\nw11 w12"


def test_fused_path_matches_composed_on_pdf_bytes(spark):
    from edspdf_spark.operators import (
        aggregate_simple,
        classify_mask,
        extract_blocs,
        run_pipeline_fused,
    )
    from edspdf_spark.sources.pdfgen import documents_to_pdfs

    docs = spark.createDataFrame(
        [(i, f"word{i} second third fourth fifth sixth seventh eighth ninth")
         for i in range(8)],
        ["doc_id", "text"],
    )
    pdfs = documents_to_pdfs(docs).cache()
    masks = [("body", 0.0, 0.0, 1.0, 1.0)]
    composed = (
        aggregate_simple(classify_mask(extract_blocs(pdfs), masks, threshold=0.1))
        .select("url", "label", "text")
        .collect()
    )
    fused = (
        run_pipeline_fused(pdfs, masks, threshold=0.1)
        .select("url", "label", "text")
        .collect()
    )
    assert sorted(map(tuple, composed)) == sorted(map(tuple, fused))
    pdfs.unpersist()


@needs_reference
def test_markdown_e2e_from_styles_pdf_bytes():
    """The reference's full-recipe E2E (tests/recipes/
    test_markdown_aggregator.py:39-61): real styles.pdf bytes → extract →
    mask-classify (x 0.1-0.9 / y 0.1-0.9, threshold 1.0) → markdown
    aggregate → EXACT output string. Line 1 clips the mask's top edge
    (y0≈0.093 < 0.1) so only line 2 is body — byte-identical to the
    reference assertion."""
    import numpy as np

    from edspdf_spark.kernel.aggregate import aggregate_doc
    from edspdf_spark.kernel.overlap import align_labels_kernel
    from edspdf_spark.operators.aggregate import to_markdown

    blocs, _pages, error = _extract("styles.pdf")
    assert not error and len(blocs) == 2

    src = np.array([[0.1, 0.9, 0.1, 0.9]])  # [x0, x1, y0, y1]
    dst = np.array([[b["x0"], b["x1"], b["y0"], b["y1"]] for b in blocs])
    idx = align_labels_kernel(src, dst, threshold=1.0)
    lines = [
        (
            b["page_num"], b["x0"], b["y0"], b["x1"], b["y1"], b["text"],
            [(p["italic"], p["bold"], p["begin"], p["end"], p["fontname"])
             for p in b["props"]],
            "body" if i == 0 else "pollution",
        )
        for b, i in zip(blocs, idx)
    ]
    agg = aggregate_doc(lines)
    text, props = agg["body"]
    md = to_markdown(
        text,
        [
            {"italic": it, "bold": bo, "begin": bg, "end": en}
            for (it, bo, bg, en, _fn) in props
        ],
    )
    assert md == (
        "Let’s up the stakes, with _intra_-word change. Or better yet, "
        "**this mi**ght be hard."
    )


@needs_reference
def test_render_pages_reference_image_shapes():
    """Deterministic rasterizer must reproduce the reference's pypdfium2
    image geometry (tests/pipes/extractors/test_pdfminer.py:16-22):
    test.pdf (2339, 1654, 3), styles.pdf (2200, 1700, 3), blank.pdf
    (2339, 1654, 3) at 200 dpi."""
    from edspdf_spark.operators.visualize import render_pages

    for name, shape in (
        ("test.pdf", (2339, 1654, 3)),
        ("styles.pdf", (2200, 1700, 3)),
        ("blank.pdf", (2339, 1654, 3)),
    ):
        imgs = render_pages((RESOURCES / name).read_bytes(), dpi=200)
        assert imgs, name
        assert imgs[0].shape == shape, (name, imgs[0].shape)
    # content sanity: text boxes darken pixels, blank page stays white
    imgs = render_pages((RESOURCES / "test.pdf").read_bytes(), dpi=200)
    assert (imgs[0] == 64).any()
    blank = render_pages((RESOURCES / "blank.pdf").read_bytes(), dpi=200)
    assert (blank[0] == 255).all()


def test_render_pages_overlay_outline():
    from edspdf_spark.operators.visualize import render_pages

    pdf = make_pdf([["hello world"]])
    rows = [
        {
            "page_num": 0,
            "color": "#1f77b4",
            "rect_x0": 100.0,
            "rect_y0": 100.0,
            "rect_x1": 300.0,
            "rect_y1": 200.0,
        }
    ]
    imgs = render_pages(pdf, overlay_rows=rows, dpi=72)
    img = imgs[0]
    assert tuple(img[100, 150]) == (0x1F, 0x77, 0xB4)  # top edge
    assert tuple(img[150, 100]) == (0x1F, 0x77, 0xB4)  # left edge
    assert tuple(img[150, 150]) == (255, 255, 255)  # interior untouched


class TestPdfRoundtripFuzz:
    """Property-based: arbitrary (sanitized) text → make_pdf → parse_pdf →
    extract must reproduce the generator's line layout exactly."""

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(
        st.lists(
            st.text(
                alphabet=st.characters(
                    whitelist_categories=("Lu", "Ll", "Nd", "Pc", "Pd"),
                    max_codepoint=0x2FF,
                ),
                min_size=1,
                max_size=12,
            ),
            min_size=1,
            max_size=40,
        ),
        st.integers(min_value=1, max_value=6),
        st.integers(min_value=1, max_value=5),
    )
    @settings(max_examples=60, deadline=None)
    def test_roundtrip(self, words, wpl, lpp):
        text = " ".join(words)
        lines = split_lines(text, wpl)
        blocs, pages, error = extract_doc(make_pdf(paginate(lines, lpp)))
        assert not error
        assert [b["text"] for b in blocs] == lines
        # page/ord layout must match the generator contract
        for i, b in enumerate(blocs):
            assert b["page_num"] == i // lpp
            assert b["bloc_ord"] == i % lpp


def _mutate(rng, data: bytes) -> bytes:
    """One bit-flip, truncation, deletion or splice of ``data``."""
    b = bytearray(data)
    op = rng.randrange(4)
    if op == 0:
        for _ in range(rng.randrange(1, 8)):
            b[rng.randrange(len(b))] = rng.randrange(256)
    elif op == 1:
        b = b[: rng.randrange(1, len(b))]
    elif op == 2:
        i = rng.randrange(len(b))
        j = min(len(b), i + rng.randrange(1, 400))
        del b[i:j]
    else:
        i = rng.randrange(len(b))
        j = min(len(b), i + rng.randrange(1, 200))
        b[i:i] = b[i:j]
    return bytes(b)


def _assert_error_contract(mutants) -> set:
    """Poison-pill boundary: mutated PDF bytes must come back as error=True
    (or parse), NEVER as a raw exception escaping into a Spark task.
    Returns the set of error flags seen."""
    seen = set()
    for data in mutants:
        blocs, pages, error = extract_doc(data)  # must not raise
        assert isinstance(error, bool)
        seen.add(error)
    return seen


@needs_reference
def test_mutated_pdf_bytes_never_escape_error_contract():
    """Deterministic CI slice of an 8000-mutation sweep that ran clean."""
    import random

    base = make_pdf(paginate(split_lines("alpha beta gamma delta epsilon", 2), 2))
    ref = (RESOURCES / "styles.pdf").read_bytes()
    rng = random.Random(1234)
    _assert_error_contract(_mutate(rng, (base, ref)[t % 2]) for t in range(300))


@needs_reference
def test_letter_pdf_snapshot():
    """Regression pin for the parser on the most complex reference fixture
    (Word-produced: 9 fonts incl. Wingdings/Symbol Type0s; 48 non-empty
    grouped lines — re-pinned after Q began restoring the full text
    state like pdfminer, which merges the 'de l'APHP,' fragment into its
    visual header line)."""
    blocs, pages, error = _extract("letter.pdf")
    assert not error
    texts = [b["text"] for b in blocs]
    assert len(texts) == 48
    assert "Données de Santé de l’APHP, et du Docteur DEF," in texts
    assert texts.count("Pr ABC") == 7
    assert sum("a.bc@aphp.fr" in t for t in texts) == 7
    joined = " ".join(texts)
    for frag in (
        "Groupe Hospitalier Henri Mondor",
        "94010 CRETEIL Cedex",
        "SANTÉ PUBLIQUE",
        "51, Avenue du Mal de Lattre de",
    ):
        assert frag in joined, frag


def test_rotated_page_geometry():
    """/Rotate 90: page dims swap to landscape and the CTM maps content
    coords (x, y) → (y, W - x); rotated glyphs are non-upright and stack
    vertically (pdfminer detect_vertical=False groups them as separate
    one-char lines — replicated)."""
    import zlib

    from edspdf_spark.kernel.pdf import parse_pdf

    content = b"BT /F1 10 Tf 1 0 0 1 100 700 Tm <00480069> Tj ET"
    comp = zlib.compress(content)
    tou = zlib.compress(b"1 beginbfrange <0000> <FFFF> <0000> endbfrange")
    objs = [
        b"<</Filter/FlateDecode/Length %d>>\nstream\n%s\nendstream" % (len(comp), comp),
        b"<</Type/FontDescriptor/FontName/F/Flags 4/FontBBox[0 -200 500 800]"
        b"/ItalicAngle 0/Ascent 800/Descent -200/StemV 80>>",
        b"<</Type/Font/Subtype/CIDFontType2/BaseFont/F"
        b"/CIDSystemInfo<</Registry(Adobe)/Ordering(Identity)/Supplement 0>>"
        b"/FontDescriptor 2 0 R/DW 500/CIDToGIDMap/Identity>>",
        b"<</Filter/FlateDecode/Length %d>>\nstream\n%s\nendstream" % (len(tou), tou),
        b"<</Type/Font/Subtype/Type0/BaseFont/F/Encoding/Identity-H"
        b"/DescendantFonts[3 0 R]/ToUnicode 4 0 R>>",
        b"<</Type/Page/Parent 7 0 R/MediaBox[0 0 612 792]/Rotate 90"
        b"/Resources<</Font<</F1 5 0 R>>>>/Contents 1 0 R>>",
        b"<</Type/Pages/Kids[6 0 R]/Count 1>>",
        b"<</Type/Catalog/Pages 7 0 R>>",
    ]
    out = bytearray(b"%PDF-1.5\n")
    offsets = [0]
    for i, b in enumerate(objs, 1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + b + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += b"trailer\n<</Size %d/Root 8 0 R>>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1, xref,
    )

    pages, lines = parse_pdf(bytes(out))
    assert pages == [(0, 792.0, 612.0)]  # landscape swap
    assert [l[5][0][2] for l in lines] == ["H", "i"]
    (hx0, hy0, hx1, hy1) = lines[0][1:5]
    assert abs(hx0 - 698.0) < 1e-6 and abs(hy1 - 512.0) < 1e-6  # (y, W - x)
    assert lines[0][5][0][1] is False  # rotated glyph → not upright


def test_unsupported_cmap_is_poison_pill_not_empty_doc():
    """PdfParseError raised mid-content-stream (e.g. Tf resolving a
    non-Identity CMap) must propagate as the documented error=True
    sentinel — the op loop's (TypeError, ValueError) tolerance used to
    eat it (PdfParseError IS a ValueError) and emit the doc as silently
    EMPTY with error=False."""
    pdf = make_pdf([["hello world"]])
    bad = pdf.replace(b"/Encoding/Identity-H", b"/Encoding/Identity-Q")
    assert bad != pdf
    with pytest.raises(PdfParseError):
        parse_pdf(bad)
    blocs, pages, error = __import__(
        "edspdf_spark.kernel.payload", fromlist=["extract_doc_raw"]
    ).extract_doc_raw(bad)
    assert error is True and blocs == []


def _raw_pdf(content: bytes, rotate: int = 0) -> bytes:
    """Minimal raw Type0/Identity-H one-page PDF around ``content``."""
    import zlib

    comp = zlib.compress(content)
    tou = zlib.compress(b"1 beginbfrange <0000> <FFFF> <0000> endbfrange")
    objs = [
        b"<</Filter/FlateDecode/Length %d>>\nstream\n%s\nendstream" % (len(comp), comp),
        b"<</Type/FontDescriptor/FontName/F/Flags 4/FontBBox[0 -200 500 800]"
        b"/ItalicAngle 0/Ascent 800/Descent -200/StemV 80>>",
        b"<</Type/Font/Subtype/CIDFontType2/BaseFont/F"
        b"/CIDSystemInfo<</Registry(Adobe)/Ordering(Identity)/Supplement 0>>"
        b"/FontDescriptor 2 0 R/DW 500/CIDToGIDMap/Identity>>",
        b"<</Filter/FlateDecode/Length %d>>\nstream\n%s\nendstream" % (len(tou), tou),
        b"<</Type/Font/Subtype/Type0/BaseFont/F/Encoding/Identity-H"
        b"/DescendantFonts[3 0 R]/ToUnicode 4 0 R>>",
        b"<</Type/Page/Parent 7 0 R/MediaBox[0 0 612 792]/Rotate %d"
        b"/Resources<</Font<</F1 5 0 R>>>>/Contents 1 0 R>>" % rotate,
        b"<</Type/Pages/Kids[6 0 R]/Count 1>>",
        b"<</Type/Catalog/Pages 7 0 R>>",
    ]
    out = bytearray(b"%PDF-1.5\n")
    offsets = [0]
    for i, b in enumerate(objs, 1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + b + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += b"trailer\n<</Size %d/Root 8 0 R>>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1, xref,
    )
    return bytes(out)


def test_q_restores_text_state():
    """Q restores the full text state (font/size/charspace), matching
    pdfminer's get_current_state — a Tf/Tc inside q…Q must not leak past
    the restore and shift glyph sizes/advances."""
    from edspdf_spark.kernel.pdf import parse_pdf

    base = _raw_pdf(b"BT /F1 10 Tf 1 0 0 1 100 700 Tm <00480069> Tj ET")
    wrapped = _raw_pdf(
        b"q BT /F1 10 Tf 1 0 0 1 100 700 Tm q /F1 99 Tf 7 Tc 2 Tw Q"
        b" <00480069> Tj ET Q"
    )
    a = parse_pdf(base)
    b = parse_pdf(wrapped)
    assert a[1] and a == b


# --- encrypted / inline-image corpus-resilience fixtures ---------------------
# Independent test-side RC4 + key-schedule implementation (PDF 32000-1
# §7.6.3, public spec) so the fixtures don't certify the kernel with its
# own code.

_TPAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])


def _t_rc4(key, data):
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray()
    i = j = 0
    for c in data:
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out.append(c ^ s[(s[i] + s[j]) & 0xFF])
    return bytes(out)


def _encrypted_pdf(content: bytes, r: int = 3, user_pw: bytes = b"") -> bytes:
    """The `_raw_pdf` document, RC4-encrypted per the standard security
    handler (revision ``r`` ∈ {2, 3}) with owner-restriction-only
    permissions: user password ``user_pw`` (empty = openable by anyone)."""
    import hashlib
    import struct
    import zlib

    file_id = bytes(range(16))
    o_entry = bytes(range(32, 64))  # arbitrary: owner pw never validated
    p = -44
    n = 5 if r == 2 else 16
    length = 40 if r == 2 else 128

    padded = (user_pw + _TPAD)[:32]
    key = hashlib.md5(
        padded + o_entry + struct.pack("<i", p) + file_id
    ).digest()[:n]
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key).digest()[:n]
    if r == 2:
        u_entry = _t_rc4(key, _TPAD)
    else:
        x = _t_rc4(key, hashlib.md5(_TPAD + file_id).digest())
        for i in range(1, 20):
            x = _t_rc4(bytes(b ^ i for b in key), x)
        u_entry = x + b"\x00" * 16

    def objkey(num):
        return hashlib.md5(
            key + num.to_bytes(3, "little") + b"\x00\x00"
        ).digest()[: min(n + 5, 16)]

    comp = _t_rc4(objkey(1), zlib.compress(content))
    tou = _t_rc4(
        objkey(4),
        zlib.compress(b"1 beginbfrange <0000> <FFFF> <0000> endbfrange"),
    )
    hx = lambda b: b"<" + b.hex().encode() + b">"
    objs = [
        b"<</Filter/FlateDecode/Length %d>>\nstream\n%s\nendstream" % (len(comp), comp),
        b"<</Type/FontDescriptor/FontName/F/Flags 4/FontBBox[0 -200 500 800]"
        b"/ItalicAngle 0/Ascent 800/Descent -200/StemV 80>>",
        b"<</Type/Font/Subtype/CIDFontType2/BaseFont/F"
        b"/CIDSystemInfo<</Registry(Adobe)/Ordering(Identity)/Supplement 0>>"
        b"/FontDescriptor 2 0 R/DW 500/CIDToGIDMap/Identity>>",
        b"<</Filter/FlateDecode/Length %d>>\nstream\n%s\nendstream" % (len(tou), tou),
        b"<</Type/Font/Subtype/Type0/BaseFont/F/Encoding/Identity-H"
        b"/DescendantFonts[3 0 R]/ToUnicode 4 0 R>>",
        b"<</Type/Page/Parent 7 0 R/MediaBox[0 0 612 792]"
        b"/Resources<</Font<</F1 5 0 R>>>>/Contents 1 0 R>>",
        b"<</Type/Pages/Kids[6 0 R]/Count 1>>",
        b"<</Type/Catalog/Pages 7 0 R>>",
        b"<</Filter/Standard/V %d/R %d/Length %d/P %d/O %s/U %s>>"
        % (1 if r == 2 else 2, r, length, p, hx(o_entry), hx(u_entry)),
    ]
    out = bytearray(b"%PDF-1.5\n")
    offsets = [0]
    for i, b in enumerate(objs, 1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + b + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<</Size %d/Root 8 0 R/Encrypt 9 0 R/ID[%s %s]>>\n"
        b"startxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, hx(file_id), hx(file_id), xref)
    )
    return bytes(out)


_ENC_CONTENT = b"BT /F1 10 Tf 1 0 0 1 100 700 Tm <00480069> Tj ET"


@pytest.mark.parametrize("r", [2, 3])
def test_rc4_empty_password_pdf_extracts_text(r):
    """An RC4-encrypted viewer-restriction PDF (empty user password, the
    common crawl case) must extract the SAME text as its unencrypted
    twin instead of dying to error=True."""
    from edspdf_spark.kernel.pdf import parse_pdf

    plain = parse_pdf(_raw_pdf(_ENC_CONTENT))
    enc = parse_pdf(_encrypted_pdf(_ENC_CONTENT, r=r))
    assert enc == plain
    assert "".join(t for ln in enc[1] for _, _, t in ln[5]) == "Hi"


def test_rc4_real_password_pdf_stays_declared_gap():
    """A REAL user password can't be opened — must raise PdfParseError
    (→ error=True downstream), never emit garbage text."""
    from edspdf_spark.kernel.pdf import PdfParseError, parse_pdf

    with pytest.raises(PdfParseError, match="password"):
        parse_pdf(_encrypted_pdf(_ENC_CONTENT, r=3, user_pw=b"secret"))


def test_aes_encrypted_pdf_stays_declared_gap():
    """AES (/V 4 /R 4) stays a declared gap: raise, don't garble."""
    from edspdf_spark.kernel.pdf import PdfParseError, parse_pdf

    data = _encrypted_pdf(_ENC_CONTENT, r=3).replace(
        b"/V 2/R 3", b"/V 4/R 4"
    )
    with pytest.raises(PdfParseError, match="unsupported encryption"):
        parse_pdf(data)


def test_inline_image_content_keeps_surrounding_text():
    """A BI…ID…EI inline image (with a false-positive 'EI' inside the
    binary pixel data) must be skipped without losing the text operators
    on either side of it."""
    from edspdf_spark.kernel.pdf import parse_pdf

    content = (
        b"BT /F1 10 Tf 1 0 0 1 100 700 Tm <00480069> Tj ET "
        b"q BI /W 2 /H 2 /CS /RGB /BPC 8 ID \x00\x11\x22EI\x99\xfe\x01 EI Q "
        b"BT /F1 10 Tf 1 0 0 1 100 650 Tm <004f006b> Tj ET"
    )
    pages, lines = parse_pdf(_raw_pdf(content))
    texts = ["".join(t for _, _, t in ln[5]) for ln in lines]
    assert texts == ["Hi", "Ok"]


def test_rc4_encrypt_dict_in_xref_stream_trailer():
    """Hybrid/xref-stream files carry /Encrypt in the XRef stream dict
    instead of a classic trailer — the fallback scan must find it (and
    never try to RC4 the XRef stream itself)."""
    import re
    import struct as _struct

    from edspdf_spark.kernel.pdf import parse_pdf

    data = _encrypted_pdf(_ENC_CONTENT, r=3)
    # strip /Encrypt + /ID from the classic trailer...
    stripped = re.sub(
        rb"trailer\n<</Size (\d+)/Root 8 0 R/Encrypt 9 0 R/ID\[[^\]]*\]>>",
        rb"trailer\n<</Size \1/Root 8 0 R>>",
        data,
    )
    assert stripped != data
    # ...and graft an XRef-typed stream object carrying them instead
    file_id = bytes(range(16))
    xref_obj = (
        b"10 0 obj\n<</Type/XRef/Encrypt 9 0 R/ID[<" + file_id.hex().encode()
        + b"> <" + file_id.hex().encode() + b">]/Length 1>>\n"
        b"stream\nx\nendstream\nendobj\n"
    )
    patched = stripped.replace(b"trailer\n", xref_obj + b"trailer\n")
    plain = parse_pdf(_raw_pdf(_ENC_CONTENT))
    assert parse_pdf(patched) == plain


# --- layout pin ----------------------------------------------------------
# Twelve generated PDFs that between them walk every branch of the content
# interpreter and the glyph → line → run layout pass: TJ kerning numbers,
# Tc/Tw/Tz/Ts, the ' and " operators, /Rotate 90/180/270 on an offset
# MediaBox, a Type0 Identity-H font (ToUnicode bfchar + bfrange array, odd
# byte tail), simple WinAnsi fonts with /Differences and a MacRoman font,
# q/Q, word-margin spaces, char-margin line splits, zero-width glyphs,
# non-upright glyphs and empty strings. The digests pin the exact floats
# (repr round-trips them) and texts, so any change to the geometry, the
# grouping or the fold shows here. parse_pdf's runs are pinned through
# fold_runs: how a line's glyphs are cut into runs is free as long as the
# fold reads the same.


def _pin_pdf(pages) -> bytes:
    """``pages``: list of (content, rotate, mediabox). Four fonts:
    F1 Type0/Identity-H, F2 TrueType WinAnsi + /Differences, F3 a bold
    italic WinAnsi TrueType with a zero-width '|', F4 MacRoman, no /Widths."""
    import zlib

    f2_widths = b" ".join(b"%d" % (300 + (c * 37) % 400) for c in range(32, 131))
    f3_widths = b" ".join(
        b"0" if c == 0x7C else b"%d" % (350 + (c * 53) % 300) for c in range(32, 256)
    )
    tou = zlib.compress(
        b"2 beginbfchar <0100> <FB01> <0101> <00480069> endbfchar\n"
        b"1 beginbfrange <0041> <0043> [<03B1> <03B2> <03B3>] endbfrange\n"
        b"1 beginbfrange <0000> <FFFF> <0000> endbfrange"
    )
    objs = [
        b"<</Type/FontDescriptor/FontName/PinSans/Flags 4/FontBBox[0 -220 1000 900]"
        b"/ItalicAngle 0/Ascent 900/Descent -220/StemV 80>>",
        b"<</Type/Font/Subtype/CIDFontType2/BaseFont/PinSans"
        b"/CIDSystemInfo<</Registry(Adobe)/Ordering(Identity)/Supplement 0>>"
        b"/FontDescriptor 1 0 R/DW 1000/CIDToGIDMap/Identity"
        b"/W[32[250]65 90 600 97[500 520 480 530 510 300 490 520 260 270]"
        b" 256[540 820]]>>",
        b"<</Filter/FlateDecode/Length %d>>\nstream\n%s\nendstream" % (len(tou), tou),
        b"<</Type/Font/Subtype/Type0/BaseFont/PinSans/Encoding/Identity-H"
        b"/DescendantFonts[2 0 R]/ToUnicode 3 0 R>>",
        b"<</Type/FontDescriptor/FontName/PinSerif/Flags 32/Descent -210"
        b"/MissingWidth 444>>",
        b"<</Type/Font/Subtype/TrueType/BaseFont/PinSerif/FirstChar 32"
        b"/LastChar 130/Widths[" + f2_widths + b"]/FontDescriptor 5 0 R"
        b"/Encoding<</Type/Encoding/BaseEncoding/WinAnsiEncoding"
        b"/Differences[65/uni0391 128/Euro/fi/notaglyph]>>>>",
        b"<</Type/FontDescriptor/FontName/PinSerif-BoldItalic/Flags 32"
        b"/Descent -190>>",
        b"<</Type/Font/Subtype/TrueType/BaseFont/PinSerif-BoldItalic"
        b"/FirstChar 32/LastChar 255/Widths[" + f3_widths + b"]"
        b"/FontDescriptor 7 0 R/Encoding/WinAnsiEncoding>>",
        b"<</Type/FontDescriptor/FontName/PinMono-Bold/Flags 32/Descent -150"
        b"/MissingWidth 500>>",
        b"<</Type/Font/Subtype/Type1/BaseFont/PinMono-Bold"
        b"/FontDescriptor 9 0 R/Encoding/MacRomanEncoding>>",
    ]
    fonts = b"<</F1 4 0 R/F2 6 0 R/F3 8 0 R/F4 10 0 R>>"
    pages_num = len(objs) + 2 * len(pages) + 1
    kids = []
    for content, rotate, mediabox in pages:
        comp = zlib.compress(content)
        objs.append(
            b"<</Filter/FlateDecode/Length %d>>\nstream\n%s\nendstream"
            % (len(comp), comp)
        )
        objs.append(
            b"<</Type/Page/Parent %d 0 R/MediaBox[%s]/Rotate %d"
            b"/Resources<</Font %s>>/Contents %d 0 R>>"
            % (pages_num, mediabox, rotate, fonts, len(objs))
        )
        kids.append(b"%d 0 R" % len(objs))
    objs.append(
        b"<</Type/Pages/Kids[%s]/Count %d>>" % (b" ".join(kids), len(kids))
    )
    objs.append(b"<</Type/Catalog/Pages %d 0 R>>" % len(objs))
    out = bytearray(b"%PDF-1.5\n")
    offsets = []
    for i, body in enumerate(objs, 1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += b"trailer\n<</Size %d/Root %d 0 R>>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1, len(objs), xref,
    )
    return bytes(out)


_LETTER = b"0 0 612 792"
_OFFSET = b"10 20 600 800"
_ROTATED = (
    b"BT /F2 11 Tf 72 700 Td (Rotated page) Tj 0 -14 Td [(two) -300 (words)] TJ"
    b" /F1 9 Tf 0 -14 Td <004100420043> Tj ET"
    b" BT /F3 10 Tf 0 1 -1 0 300 200 Tm (up the side) Tj ET"
)
_PIN_CASES = {
    "tj_kerning": [(
        b"BT /F2 12 Tf 72 700 Td [(Hel) -250 (lo) 120 (W) -30 (orld)] TJ"
        b" 0 -20 Td /F1 12 Tf [<00480069> -500 <0021> 80 <00610062>] TJ"
        b" 0 -20 Td /F2 12 Tf [(tight) 900 (overlap) -40.5 (end)] TJ ET",
        0, _LETTER,
    )],
    "text_state": [(
        b"BT /F2 10 Tf 72 700 Td 2 Tc 5 Tw 80 Tz 3 Ts (a b  c\\td\\240e) Tj"
        b" 0 -16 Td 0 Tc 0 Tw 100 Tz -1.5 Ts (sub script) Tj"
        b" 0 -16 Td 0 Ts 1.25 Tc 150 Tz /F1 10 Tf 8 Tw <00610020006200200063> Tj"
        b" 0 -16 Td 0 Tc 100 Tz 0 Tw /F3 10 Tf (wide) Tj 40 Tz (narrow) Tj ET",
        0, _LETTER,
    )],
    "quote_ops": [(
        b"BT /F2 10 Tf 14 TL 72 700 Td (first) Tj (second) ' 3 1 (third) \""
        b" T* (fourth) Tj 2 -18 TD (fifth) Tj (sixth) ' ET",
        0, _LETTER,
    )],
    "rotate_90": [(_ROTATED, 90, _OFFSET)],
    "rotate_180": [(_ROTATED, 180, _OFFSET)],
    "rotate_270": [(_ROTATED, 270, _OFFSET)],
    "type0_identity_h": [
        (
            b"BT /F1 14 Tf 72 720 Td <0100004100420043010100200061> Tj"
            b" 0 -20 Td <00480069002000780079007a> Tj <00480> Tj"
            b" 0 1 -1 0 200 300 Tm <0061006200630064> Tj ET",
            0, _LETTER,
        ),
        (b"BT /F1 9 Tf 50 50 Td <0062> Tj ET", 0, b"0 0 300 400"),
    ],
    "winansi_differences": [(
        b"BT /F2 10 Tf 72 700 Td (ABC \\200\\201\\202 caf\\351) Tj"
        b" 0 -14 Td /F4 10 Tf (Mac \\216\\217 bold) Tj"
        b" 0 -14 Td /F2 10 Tf (\\001\\377 edge) Tj ET",
        0, _LETTER,
    )],
    "q_state": [(
        b"q 1 0 0 1 50 40 cm BT /F2 10 Tf 30 600 Td (inside) Tj"
        b" q /F3 20 Tf 4 Tc 3 Ts Q (kept) Tj ET Q"
        b" BT /F2 10 Tf 72 500 Td (outside) Tj q 0.5 0 0 0.5 0 0 cm Q ( state) Tj ET",
        0, _LETTER,
    )],
    "word_margin_space": [(
        b"BT /F2 10 Tf 72 700 Td [(word) -200 (gap) -90 (close)] TJ"
        b" [-250] TJ /F3 10 Tf (styled) Tj /F2 10 Tf [-300 (plain) -260] TJ"
        b" /F3 10 Tf ( lead) Tj ET",
        0, _LETTER,
    )],
    "char_margin_split": [(
        b"BT /F2 10 Tf 72 700 Td [(left) -3000 (right) -1990 (near) -2600 (far)] TJ"
        b" 0 -4 Td (low) Tj 0 -30 Td (next line) Tj ET",
        0, _LETTER,
    )],
    "zero_width_empty": [(
        b"BT /F3 10 Tf 72 700 Td (a||b) Tj () Tj <> Tj [] TJ [() -100 ()] TJ"
        b" /F1 10 Tf <> Tj 0 -20 Td /F3 10 Tf (|) Tj 0 Tz (squashed) Tj"
        b" 100 Tz 0 -20 Td /F4 0 Tf (nosize) Tj ET",
        0, _LETTER,
    )],
}

# sha256 of repr(...) per case: (parse_pdf with runs folded, extract_doc_raw)
_PIN_DIGESTS = {
    "char_margin_split": (
        "7069f6005bf38b17fec0e6c3259265e30ee885a24162ef1ad212afd9b1cab4a1",
        "3fcc2572febebcfecdb0c369b08a94316a1af6061e84ac67cdd56f31eabf57a8",
    ),
    "q_state": (
        "704d67be74e399cb112b19ba800d74659fb7b4970368b12994352bf787757bb6",
        "4fec997e149f36ed6e8e34331a6485436a472fd84a4d7a034b3bd3254b934c96",
    ),
    "quote_ops": (
        "a130e5473aa4a60d24a828f2b31fbe0360286c8de8ea2d87c5e440e9a746565c",
        "a7c11c6247629d311d4da14a2f35fb36940faaecb0002e7629c00ade8c08d72a",
    ),
    "rotate_180": (
        "e9eefe276889c5f381e76ce283fe5a2e74b9d0f4a505038626d7d04aa5997602",
        "b746dbd3274a8b7bb5e9b2b63c030c1f14f94c2e6ff86a927fca0576c41fbc92",
    ),
    "rotate_270": (
        "a305f92381a7d32004c39ba7f1e6690beb0eabab3ee283d2924104c3ae014ddc",
        "92f774bd3fd232f0dc9b6eaf4ac8c36f5512cf668a8f5e24bd15567844cb7121",
    ),
    "rotate_90": (
        "82fcf87bb79c181c5b3722f6cb8730b66e84b1371fc17b1e15cac2cde8e9ae8c",
        "445ae0dc7bc3d9114872497a7617eb78f2bc884a5af171afa7f35f44579c620b",
    ),
    "text_state": (
        "034f273caa886a3cb943453324f785a2311d58f15266a2047cc4c089e3e4f68f",
        "20c6e39c1f2b26231ef9848d525f14f732ee444836c5fc4ac3388cc35125ae95",
    ),
    "tj_kerning": (
        "87b10edae25c97ee49a4005ba0d055ba1a084cd839487418d8c2aa1c39cbea83",
        "59346a548cefa41be14a1b8b7f6a7136f262c28253d863fa043f218fea0a50dc",
    ),
    "type0_identity_h": (
        "7f10e6ed3a838187a47bcfac76f3bb443fd310621cd886968f4078aed8d9d8c9",
        "565d5d4a769afcd84496f58d60e8be2b8580c033ef36b113254f4987271fa99a",
    ),
    "winansi_differences": (
        "e146e5ceee9fc63fd3f41a6a46e976615246e54720bb87857ed0cfbe5b957be9",
        "59010d10fe0a224e48e1b069395035e04cbbb5d2e61bfc4d1fe2feeaac0ee1a5",
    ),
    "word_margin_space": (
        "945c640f10b20cb24c41246cd1733b26740ac08fa02530157f2c9c0a05b6596d",
        "aee56ea63751413ad5dfc73f92471f92a061ecd11e27c9c65dee5b0bd71a8f94",
    ),
    "zero_width_empty": (
        "5ccbd13a9a0fb1ef76702ea728e6af1b708461f6019d998a32d211ba956590bc",
        "ce7d8a2ab8c26c513b12f4c0f7c578164c07f2e8a94163a5aa4d5d539e777608",
    ),
}


def _pin_digests(data: bytes):
    import hashlib

    from edspdf_spark.kernel.payload import extract_doc_raw
    from edspdf_spark.kernel.style import fold_runs

    pages, lines = parse_pdf(data)
    folded = (pages, [(*ln[:5], fold_runs(ln[5])) for ln in lines])
    return tuple(
        hashlib.sha256(repr(x).encode()).hexdigest()
        for x in (folded, extract_doc_raw(data))
    )


@pytest.mark.parametrize("case", sorted(_PIN_CASES))
def test_layout_pin(case):
    assert _pin_digests(_pin_pdf(_PIN_CASES[case])) == _PIN_DIGESTS[case]


def test_mutated_pin_pdfs_never_escape_error_contract():
    """The error contract over the generated pin PDFs, so it runs without
    the reference fixtures. The first 200 mutants damage one page's content
    stream and wrap it in a valid file, so the damage reaches the operator
    interpreter and the glyph pass inside the per-page try; the next 200
    damage the whole file."""
    import random

    cases = [_PIN_CASES[k] for k in sorted(_PIN_CASES)]
    files = [_pin_pdf(c) for c in cases]
    rng = random.Random(4321)

    def content_mutant(t):
        pages = list(cases[t % len(cases)])
        i = rng.randrange(len(pages))
        content, rotate, mediabox = pages[i]
        pages[i] = (_mutate(rng, content), rotate, mediabox)
        return _pin_pdf(pages)

    assert _assert_error_contract(content_mutant(t) for t in range(200)) == {
        False, True,
    }
    _assert_error_contract(_mutate(rng, files[t % len(files)]) for t in range(200))
