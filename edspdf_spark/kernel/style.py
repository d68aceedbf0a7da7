"""Char-stream → (text, style runs) fold.

Mirrors the reference ``extract_properties_from_line``
(``edspdf/pipes/extractors/pdfminer.py:197-249``) over an abstract char
stream. Semantics replicated exactly:

* every whitespace char collapses to a single space (``re.sub(r"\\s", " ")``)
* a space is dropped when the text is empty or already ends with a space
  (no leading / double spaces)
* a space *inherits* the style of the previous char (or ``(None, None,
  None)`` at line start — which opens a zero-width ``fontname=None`` run,
  faithfully reproducing the reference's behavior for leading whitespace)
* a style run ``[begin, end)`` is opened whenever ``(fontname, italic,
  bold)`` changes; its ``end`` is only advanced by non-space chars, so
  trailing spaces never extend a run
* the final text is right-stripped.

Style derivation: the reference computes ``italic = not char.upright or
"italic" in char.fontname.lower()`` and ``bold = "bold" in
char.fontname.lower()`` (pdfminer.py:225-227). Our char stream carries
``(char, fontname, upright)`` where ``upright=False`` stands in for
pdfminer's rotated-glyph flag.
"""

from __future__ import annotations

import re
from typing import Iterable, List, Optional, Tuple

_WS = re.compile(r"\s")

# O(1) whitespace test for the hot fold: every ``\s`` codepoint is ≤
# U+3000 (IDEOGRAPHIC SPACE is the highest Unicode whitespace), so one
# import-time sweep enumerates them all; higher codepoints fall back to
# the regex defensively.
_WS_SET = frozenset(chr(c) for c in range(0x3001) if _WS.match(chr(c)))

StyleRun = Tuple[Optional[bool], Optional[bool], int, int, Optional[str]]
# (italic, bold, begin, end, fontname) — field order matches PROPS_FIELD.

# (fontname, upright) → (italic, bold): fonts repeat across millions of
# lines, the two substring scans per char/run were ~10% of the fused
# kernel. Bounded so a pathological corpus can't grow it unboundedly.
_FONT_STYLE_CACHE: dict = {}


def _font_style(fontname: Optional[str], upright: bool) -> Tuple[bool, bool]:
    key = (fontname, upright)
    st = _FONT_STYLE_CACHE.get(key)
    if st is None:
        lowered = (fontname or "").lower()
        st = ((not upright) or ("italic" in lowered), "bold" in lowered)
        if len(_FONT_STYLE_CACHE) < 4096:
            _FONT_STYLE_CACHE[key] = st
    return st


def fold_line_chars(
    chars: Iterable[Tuple[str, str, bool]],
) -> Tuple[str, List[StyleRun]]:
    """Fold ``(char, fontname, upright)`` triples into (text, style runs).

    Thin adapter over :func:`_fold_run_chars` (one single-char run per
    triple) kept for the test-suite's reference-shaped char stream.
    """
    return _fold_run_chars([(f, u, c) for c, f, u in chars])


def _fold_run_chars(
    runs: Iterable[Tuple[str, bool, str]],
) -> Tuple[str, List[StyleRun]]:
    """The exact char-by-char reference fold, iterated RUN-wise: fontname/
    upright are constant within a run, so the style tuple and the
    substring scans happen once per run instead of once per char
    (equivalence with the reference semantics is asserted by
    tests/test_kernel.py golden + hypothesis cases).

    Text accumulates as a parts list + running length (string
    concatenation per char re-copies the prefix — O(n²) on long lines);
    begin/end arithmetic is unchanged from the reference semantics.
    """
    styles: List[list] = []
    current: Optional[list] = None  # [italic, bold, begin, end, fontname]
    parts: List[str] = []
    tlen = 0
    last_char = ""
    last: Optional[Tuple[Optional[str], Optional[bool], Optional[bool]]] = None
    ws = _WS_SET

    for fontname_in, upright, text in runs:
        r_italic, r_bold = _font_style(fontname_in, upright)
        run_key = (fontname_in, r_italic, r_bold)
        for raw in text:
            if raw in ws or (raw > "　" and _WS.match(raw)):
                # space inherits the previous char's style (line start →
                # the reference's (None, None, None) zero-width run)
                key = last if last is not None else (None, None, None)
                if last_char == " " or tlen == 0:  # skip double/leading
                    if key != last or last is None:
                        if current is not None:
                            styles.append(current)
                        current = [key[1], key[2], tlen, tlen, key[0]]
                    last = key
                    continue
                if key != last:
                    if current is not None:
                        styles.append(current)
                    current = [key[1], key[2], tlen, tlen + 1, key[0]]
                parts.append(" ")
                tlen += 1
                last_char = " "
                last = key
            else:
                if run_key != last:
                    if current is not None:
                        styles.append(current)
                    current = [r_italic, r_bold, tlen, tlen + 1, fontname_in]
                else:
                    current[3] = tlen + 1
                parts.append(raw)
                tlen += 1
                last_char = raw
                last = run_key

    if current is not None:
        styles.append(current)

    return "".join(parts).rstrip(), [tuple(s) for s in styles]


# A line needs the char-by-char fold only if it contains non-space
# whitespace, a double space, or a leading/trailing space. Everything else
# (the overwhelming majority of real lines) folds to itself with one style
# run per input run boundary.
_NEEDS_FOLD = re.compile(r"[^\S ]|  |^ | $")


def fold_runs(
    runs: Iterable[Tuple[str, bool, str]],
) -> Tuple[str, List[StyleRun]]:
    """Fold ``(fontname, upright, text)`` runs into (text, style runs).

    Fast path: a single clean run (no collapsible whitespace, no edge
    spaces) is its own folded text with exactly one ``[0, len)`` span —
    identical to the full fold's output, without materializing a tuple per
    character. Multi-run or dirty lines fall back to
    :func:`fold_line_chars` for the exact reference semantics
    (equivalence is asserted by tests/test_kernel.py).
    """
    if type(runs) is not list:
        runs = list(runs)
    if len(runs) == 1:
        # dominant case — avoid the generic all() scan
        fontname, upright, t = runs[0]
        if t and not _NEEDS_FOLD.search(t):
            italic, bold = _font_style(fontname, upright)
            return t, [(italic, bold, 0, len(t), fontname)]
        return _fold_run_chars(runs)
    if runs and all(t and not _NEEDS_FOLD.search(t) for _, _, t in runs):
        # Every run is clean, so no whitespace collapses and no space
        # crosses a run boundary (clean runs neither start nor end with
        # one): the folded text is the plain concatenation and spans open
        # exactly at style changes — same-style adjacent runs merge, as the
        # char fold would.
        text_parts: List[str] = []
        styles: List[StyleRun] = []
        pos = 0
        last = None
        for fontname, upright, t in runs:
            italic, bold = _font_style(fontname, upright)
            key = (fontname, italic, bold)
            end = pos + len(t)
            if key == last:
                prev = styles[-1]
                styles[-1] = (prev[0], prev[1], prev[2], end, prev[4])
            else:
                styles.append((italic, bold, pos, end, fontname))
            text_parts.append(t)
            pos = end
            last = key
        return "".join(text_parts), styles
    return _fold_run_chars(runs)
