"""Minimal pure-Python PDF text extractor (stdlib-only: ``re`` + ``zlib``).

pdfminer.six is not installable in this sandbox, yet the reference's own
test fixtures are real PDF bytes. This module parses the subset of PDF
needed to run those fixtures — classic/hybrid xref files with FlateDecode
streams, object streams (ObjStm), simple TrueType fonts and Type0/CIDFontType2
fonts with Identity-H encoding + ToUnicode CMaps — and replicates the
pdfminer layout pass the reference depends on
(``edspdf/pipes/extractors/pdfminer.py:117-194``):

* per-glyph advance/geometry math of pdfminer's ``render_string_horizontal``
  / ``LTChar`` (text matrix × CTM, ``adv = width × fontsize × Tz``,
  charspace/wordspace, bbox ``[0, descent+rise] × [adv, descent+rise+size]``);
* glyph→line grouping with the reference's LAParams (``line_overlap=0.5,
  char_margin=2.05, word_margin=0.1``) following pdfminer
  ``LTLayoutContainer.group_objects`` and the ``LTTextLineHorizontal``
  word-margin space insertion.

Both run as ONE streaming pass per page (:func:`_interpret_page`): a
glyph's box is a handful of floats (no per-glyph object) that feeds the
grouping state machine, the open line's bbox and its runs in the same
step. Consecutive glyphs of one ``(fontname, upright)`` share a run and a
word-margin space joins the run before it, so clean lines reach the style
fold as a few runs instead of one run per glyph; the fold result is the
same (whitespace takes the previous char's style). Glyph text and width
come from a per-font ``cid → (text, width)`` table filled lazily.

``PdfDocument._scan`` keeps a per-process memo of parsed object bodies
keyed on their bytes up to the next ``endobj``, so only byte-identical
objects are shared (``make_pdf``'s font, page-tree and catalog templates
are; a per-document subset-font tag such as ``ABCDEF+Name`` is not). A body
is stored only if it is ≤ 2 KB and its value and trailing whitespace end
inside it, so :func:`parse_value` read nothing but the key and the
``endobj`` after it. Streams are never stored (RC4 decryption rewrites
``StreamObj.raw`` in place), no code mutates a parsed value, and the memo
is cleared at 1 MB of keys (~20 MB of values).

``all_texts=False``: text inside Form XObjects (pdfminer ``LTFigure``) is
NOT part of the page's text lines, so ``Do`` is ignored.

The output shape matches :func:`edspdf_spark.kernel.payload.parse_payload`
— ``(pages, lines)`` with lines in absolute bottom-left page coordinates —
so the whole downstream kernel (style fold, y-flip normalization, bounds
filter, fuzzy reading-order sort) is shared with the synthetic-payload
path and stays byte-identical to the reference semantics.

Scope: RC4 encryption with an EMPTY user password (standard security
handler V1/V2, revision 2/3 — the common viewer-restriction case) is
decrypted transparently; AES or real-password files raise. Inline-image
content (``BI…ID…EI``) is skipped by the content tokenizer without
losing the surrounding text operators. Still out of scope:
Type3/Type1-embedded glyph metrics beyond /Widths, CMaps other than
Identity-H/V, page rotation ≠ 0/90/180/270. Out-of-scope constructs
raise :class:`PdfParseError`, which the extractor maps to ``error=True``
exactly like the reference maps ``PDFException`` (pdfminer.py:130-135).
"""

from __future__ import annotations

import hashlib
import re
import struct
import zlib
from typing import Dict, List, Optional, Tuple

__all__ = ["PdfParseError", "parse_pdf", "is_pdf"]


class PdfParseError(ValueError):
    """Raised on malformed/unsupported PDF content (≙ pdfminer PDFException)."""


def is_pdf(data: bytes) -> bool:
    return data[:5] == b"%PDF-"


# --------------------------------------------------------------------------
# object model

class Ref:
    __slots__ = ("num", "gen")

    def __init__(self, num: int, gen: int):
        self.num = num
        self.gen = gen

    def __repr__(self):  # pragma: no cover - debug only
        return f"{self.num} {self.gen} R"


class Name(str):
    """A PDF /Name. Subclass of str so dict keys compare naturally."""


class StreamObj:
    __slots__ = ("dict", "raw")

    def __init__(self, d: dict, raw: bytes):
        self.dict = d
        self.raw = raw


_WS_CHARS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


def _skip_ws(data: bytes, pos: int) -> int:
    n = len(data)
    while pos < n:
        c = data[pos]
        if c in _WS_CHARS:
            pos += 1
        elif c == 0x25:  # '%' comment
            e = data.find(b"\n", pos)
            pos = n if e < 0 else e + 1
        else:
            break
    return pos


_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_REF_RE = re.compile(rb"[\x00\t\n\x0c\r ]+(\d+)[\x00\t\n\x0c\r ]+R(?![A-Za-z0-9])")
_NAME_ESC = re.compile(rb"#([0-9A-Fa-f]{2})")
_KEYWORD_RE = re.compile(rb"[A-Za-z][A-Za-z0-9]*")


def _parse_name(data: bytes, pos: int) -> Tuple[Name, int]:
    start = pos + 1  # skip '/'
    n = len(data)
    end = start
    while end < n and data[end] not in _WS_CHARS and data[end] not in _DELIM:
        end += 1
    raw = _NAME_ESC.sub(lambda m: bytes([int(m.group(1), 16)]), data[start:end])
    return Name(raw.decode("latin-1")), end


_STR_ESCAPES = {
    0x6E: b"\n", 0x72: b"\r", 0x74: b"\t", 0x62: b"\b", 0x66: b"\x0c",
    0x28: b"(", 0x29: b")", 0x5C: b"\\",
}


def _parse_string(data: bytes, pos: int) -> Tuple[bytes, int]:
    # pos at '('
    out = bytearray()
    depth = 1
    i = pos + 1
    n = len(data)
    while i < n:
        c = data[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            c2 = data[i]
            if c2 in _STR_ESCAPES:
                out += _STR_ESCAPES[c2]
                i += 1
            elif 0x30 <= c2 <= 0x37:  # octal
                oct_digits = bytearray([c2])
                i += 1
                while i < n and len(oct_digits) < 3 and 0x30 <= data[i] <= 0x37:
                    oct_digits.append(data[i])
                    i += 1
                out.append(int(oct_digits.decode(), 8) & 0xFF)
            elif c2 == 0x0D:  # line continuation \r[\n]
                i += 1
                if i < n and data[i] == 0x0A:
                    i += 1
            elif c2 == 0x0A:
                i += 1
            else:
                out.append(c2)
                i += 1
        elif c == 0x28:
            depth += 1
            out.append(c)
            i += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return bytes(out), i + 1
            out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    raise PdfParseError("unterminated string")


_HEX_CLEAN = re.compile(rb"[^0-9A-Fa-f]")


def _parse_hex_string(data: bytes, pos: int) -> Tuple[bytes, int]:
    end = data.find(b">", pos + 1)
    if end < 0:
        raise PdfParseError("unterminated hex string")
    h = _HEX_CLEAN.sub(b"", data[pos + 1 : end])
    if len(h) % 2:
        h += b"0"
    return bytes.fromhex(h.decode("ascii")), end + 1


def parse_value(data: bytes, pos: int):
    """Parse one PDF object value at pos → (value, new_pos).

    Keywords (true/false/null) become Python values; bare operator words
    (content streams) come back as Name-tagged ``("op", word)`` tuples only
    via :func:`_tokenize_content` — this function raises on unknown words.
    """
    pos = _skip_ws(data, pos)
    if pos >= len(data):
        raise PdfParseError("eof")
    c = data[pos]
    if c == 0x3C:  # '<'
        if data[pos : pos + 2] == b"<<":
            d: dict = {}
            pos += 2
            while True:
                pos = _skip_ws(data, pos)
                if data[pos : pos + 2] == b">>":
                    return d, pos + 2
                if data[pos] != 0x2F:
                    raise PdfParseError("dict key is not a name")
                key, pos = _parse_name(data, pos)
                val, pos = parse_value(data, pos)
                d[key] = val
        return _parse_hex_string(data, pos)
    if c == 0x5B:  # '['
        arr = []
        pos += 1
        while True:
            pos = _skip_ws(data, pos)
            if data[pos] == 0x5D:
                return arr, pos + 1
            val, pos = parse_value(data, pos)
            arr.append(val)
    if c == 0x28:  # '('
        return _parse_string(data, pos)
    if c == 0x2F:  # '/'
        return _parse_name(data, pos)
    m = _NUM_RE.match(data, pos)
    if m:
        tok = m.group()
        if b"." in tok:
            return float(tok), m.end()
        iv = int(tok)
        if iv >= 0 and not tok.startswith(b"+"):
            rm = _REF_RE.match(data, m.end())
            if rm:
                return Ref(iv, int(rm.group(1))), rm.end()
        return iv, m.end()
    kw = _KEYWORD_RE.match(data, pos)
    if kw:
        w = kw.group()
        if w == b"true":
            return True, kw.end()
        if w == b"false":
            return False, kw.end()
        if w == b"null":
            return None, kw.end()
    raise PdfParseError(f"unparseable value at {pos}: {data[pos:pos+20]!r}")


# --------------------------------------------------------------------------
# filters

def _png_unpredict(data: bytes, colors: int, bpc: int, columns: int) -> bytes:
    bpp = max(1, (colors * bpc + 7) // 8)
    rowlen = (columns * colors * bpc + 7) // 8
    out = bytearray()
    prev = bytearray(rowlen)
    i = 0
    n = len(data)
    while i + 1 <= n:
        ft = data[i]
        row = bytearray(data[i + 1 : i + 1 + rowlen])
        i += 1 + rowlen
        if ft == 1:  # Sub
            for j in range(bpp, len(row)):
                row[j] = (row[j] + row[j - bpp]) & 0xFF
        elif ft == 2:  # Up
            for j in range(len(row)):
                row[j] = (row[j] + prev[j]) & 0xFF
        elif ft == 3:  # Average
            for j in range(len(row)):
                left = row[j - bpp] if j >= bpp else 0
                row[j] = (row[j] + ((left + prev[j]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for j in range(len(row)):
                a = row[j - bpp] if j >= bpp else 0
                b = prev[j]
                cc = prev[j - bpp] if j >= bpp else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                row[j] = (row[j] + pr) & 0xFF
        elif ft != 0:
            raise PdfParseError(f"unknown PNG predictor row filter {ft}")
        out += row
        prev = row
    return bytes(out)


def _apply_filters(raw: bytes, d: dict, resolve) -> bytes:
    filters = resolve(d.get("Filter"))
    if filters is None:
        return raw
    if not isinstance(filters, list):
        filters = [filters]
    parms = resolve(d.get("DecodeParms") or d.get("DP"))
    if not isinstance(parms, list):
        parms = [parms] * len(filters)
    data = raw
    for f, p in zip(filters, parms):
        f = resolve(f)
        p = resolve(p) or {}
        if f == "FlateDecode" or f == "Fl":
            data = zlib.decompress(data)
            pred = resolve(p.get("Predictor", 1)) or 1
            if pred >= 10:
                data = _png_unpredict(
                    data,
                    resolve(p.get("Colors", 1)) or 1,
                    resolve(p.get("BitsPerComponent", 8)) or 8,
                    resolve(p.get("Columns", 1)) or 1,
                )
            elif pred != 1:
                raise PdfParseError(f"unsupported predictor {pred}")
        elif f in ("DCTDecode", "JPXDecode", "CCITTFaxDecode", "JBIG2Decode"):
            # image codecs — content never interpreted as operators
            return data
        else:
            raise PdfParseError(f"unsupported filter {f}")
    return data


# --------------------------------------------------------------------------
# document: object store via sequential scan (incremental-update friendly:
# the LAST definition of an object number in the file wins, matching the
# newest xref section; compressed objects come from ObjStm expansion)

_TRAILER_RE = re.compile(rb"trailer")
# "N G obj" read backwards from a literal "obj" followed by a non-word byte
_OBJ_REV_RE = re.compile(
    rb"jbo(?<![0-9A-Z_a-z]jbo)[\x00\t\n\x0c\r ]+(\d+)[\x00\t\n\x0c\r ]+(\d+)"
)


def _obj_headers(data: bytes) -> List[Tuple[int, int, int, int]]:
    """``(start, end, num, gen)`` of every ``N G obj`` header in file order:
    the spans of the forward ``(?<![0-9])(\\d+) ws+ (\\d+) ws+ obj\\b``, found
    from each literal ``obj`` on the reversed bytes, where ``rev[i:j]`` is
    ``data[n - j : n - i]`` and the groups are gen and num, each reversed."""
    n = len(data)
    return [
        (n - m.end(), n - m.start(), int(m[2][::-1]), int(m[1][::-1]))
        for m in _OBJ_REV_RE.finditer(data[::-1])
    ][::-1]


# parsed non-stream object bodies keyed on their bytes (module docstring)
_MEMO_SPAN = 2048
_MEMO_MAX_BYTES = 1 << 20
_memo: Dict[bytes, Tuple[object, int]] = {}  # body → (value, end offset)
_memo_bytes = 0


def _clear_memo() -> None:
    global _memo_bytes
    _memo.clear()
    _memo_bytes = 0


# PDF 32000-1 §7.6.3.3 password padding string (public spec constant)
_PW_PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


def _rc4(key: bytes, data: bytes) -> bytes:
    """Plain RC4 (public algorithm) — used only to open the standard
    security handler's empty-user-password files."""
    s = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + s[i] + key[i % klen]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for t, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[t] = c ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


def _std_file_key(
    password: bytes, o_entry: bytes, p: int, file_id: bytes, r: int, n: int
) -> bytes:
    """Algorithm 2: file encryption key from the (empty) user password."""
    padded = (password + _PW_PAD)[:32]
    h = hashlib.md5(
        padded + o_entry[:32] + (p & 0xFFFFFFFF).to_bytes(4, "little") + file_id
    ).digest()
    key = h[:n]
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key).digest()[:n]
    return key


def _check_user_password(key: bytes, u_entry: bytes, file_id: bytes, r: int) -> bool:
    """Algorithms 4 (R2) / 5 (R3): does ``key`` open the file — i.e. was
    it derived from the real (empty) user password?"""
    if r == 2:
        return _rc4(key, _PW_PAD) == u_entry[:32]
    x = _rc4(key, hashlib.md5(_PW_PAD + file_id).digest())
    for i in range(1, 20):
        x = _rc4(bytes(b ^ i for b in key), x)
    return x == u_entry[:16]


class PdfDocument:
    def __init__(self, data: bytes):
        if not is_pdf(data):
            raise PdfParseError("missing %PDF- header")
        self.data = data
        self.objs: Dict[int, object] = {}
        self._gens: Dict[int, int] = {}
        self._font_cache: Dict[int, "_Font"] = {}
        self._scan()
        self.trailers = self._parse_trailers()
        self._decrypt_if_needed()
        self._expand_object_streams()
        self.root = self._find_root()

    # -- object access ----------------------------------------------------
    def resolve(self, v, _depth: int = 0):
        while isinstance(v, Ref):
            if _depth > 32:
                raise PdfParseError("reference cycle")
            v = self.objs.get(v.num)
            _depth += 1
        return v

    def get(self, d: dict, key: str, default=None):
        return self.resolve(d.get(key, default))

    def stream_bytes(self, s: StreamObj) -> bytes:
        return _apply_filters(s.raw, s.dict, self.resolve)

    # -- scanning ----------------------------------------------------------
    def _scan(self) -> None:
        global _memo_bytes
        data = self.data
        covered = 0  # skip headers inside a previously-consumed stream body
        for start, body, num, gen in _obj_headers(data):
            if start < covered:
                continue
            self._gens[num] = gen
            end = data.find(b"endobj", body, body + _MEMO_SPAN + 6)
            key = data[body:end] if end >= 0 else None
            hit = _memo.get(key)
            if hit is not None:
                self.objs[num], covered = hit[0], body + hit[1]
                continue
            try:
                val, pos = parse_value(data, body)
            except PdfParseError:
                continue
            pos2 = _skip_ws(data, pos)
            if data[pos2 : pos2 + 6] == b"stream" and isinstance(val, dict):
                body_start = pos2 + 6
                if data[body_start : body_start + 2] == b"\r\n":
                    body_start += 2
                elif data[body_start : body_start + 1] in (b"\n", b"\r"):
                    body_start += 1
                raw, covered = self._stream_extent(val, body_start)
                val = StreamObj(val, raw)
            else:
                covered = pos
                if pos2 <= end:  # every byte read lies in key + "endobj"
                    if _memo_bytes + len(key) > _MEMO_MAX_BYTES:
                        _clear_memo()
                    _memo[key] = (val, pos - body)
                    _memo_bytes += len(key)
            self.objs[num] = val

    def _parse_trailers(self) -> List[dict]:
        out = []
        for m in _TRAILER_RE.finditer(self.data):
            try:
                out.append(parse_value(self.data, m.end())[0])
            except PdfParseError:
                pass
        return [d for d in out if isinstance(d, dict)]

    # -- encryption (standard security handler, RC4, empty user password) --
    def _encrypt_dict(self):
        """The /Encrypt dict + first file ID from the LAST trailer that
        carries one (classic ``trailer`` keyword or an XRef-stream dict)."""
        enc_ref, file_id = None, b""
        objs = (v.dict if isinstance(v, StreamObj) else v for v in self.objs.values())
        holders = [d for d in self.trailers if "Encrypt" in d] or [
            d for d in objs
            if isinstance(d, dict) and d.get("Type") == "XRef" and "Encrypt" in d
        ]
        for d in holders:
            enc_ref = d["Encrypt"]
            ids = d.get("ID")
            if isinstance(ids, list) and ids and isinstance(ids[0], bytes):
                file_id = ids[0]
        if enc_ref is None:
            return None, b""
        enc = self.resolve(enc_ref)
        if not isinstance(enc, dict):
            raise PdfParseError("unresolvable /Encrypt dictionary")
        return enc, file_id

    def _decrypt_if_needed(self) -> None:
        """Standard security handler (PDF 32000-1 §7.6.3), RC4 V1/V2,
        revision 2/3, EMPTY user password — the overwhelmingly common
        "encrypted but openable by anyone" crawl case (viewer-restriction
        PDFs). Derives the file key from /O + /P + /ID (Algorithm 2),
        verifies the empty user password against /U (Algorithms 4/5), then
        RC4-decrypts every stream in place with its per-object key
        (Algorithm 1) so the rest of the parser never knows the file was
        encrypted. AES (/V 4+ or /R 4+) and real-password files raise
        :class:`PdfParseError` → ``error=True``, the declared-gap path."""
        enc, file_id = self._encrypt_dict()
        if enc is None:
            return
        if self.resolve(enc.get("Filter")) != "Standard":
            raise PdfParseError("unsupported encryption filter")
        v = int(self.resolve(enc.get("V", 0)) or 0)
        r = int(self.resolve(enc.get("R", 0)) or 0)
        if v not in (1, 2) or r not in (2, 3):
            raise PdfParseError(f"unsupported encryption V={v} R={r} (AES?)")
        o_entry = self.resolve(enc.get("O"))
        u_entry = self.resolve(enc.get("U"))
        p = int(self.resolve(enc.get("P", -1)))
        if not isinstance(o_entry, bytes) or not isinstance(u_entry, bytes):
            raise PdfParseError("malformed /Encrypt dictionary")
        n = 5 if r == 2 else max(5, int(self.resolve(enc.get("Length", 40))) // 8)
        key = _std_file_key(b"", o_entry, p, file_id, r, n)
        if not _check_user_password(key, u_entry, file_id, r):
            raise PdfParseError("encrypted with a non-empty user password")
        enc_id = id(enc)
        for num, val in self.objs.items():
            if not isinstance(val, StreamObj):
                continue
            d = val.dict
            # XRef streams are never encrypted; skip the Encrypt dict too
            if d.get("Type") == "XRef" or id(d) == enc_id:
                continue
            gen = self._gens.get(num, 0)
            okey = hashlib.md5(
                key + num.to_bytes(3, "little") + gen.to_bytes(2, "little")
            ).digest()[: min(n + 5, 16)]
            val.raw = _rc4(okey, val.raw)

    def _stream_extent(self, d: dict, start: int) -> Tuple[bytes, int]:
        data = self.data
        length = d.get("Length")
        if isinstance(length, Ref):
            target = self.objs.get(length.num)
            length = target if isinstance(target, int) else None
        if isinstance(length, int) and length >= 0:
            end = start + length
            tail = _skip_ws(data, end)
            if data[tail : tail + 9] == b"endstream":
                return data[start:end], tail + 9
        # fall back to scanning for endstream (robust to wrong /Length)
        end = data.find(b"endstream", start)
        if end < 0:
            raise PdfParseError("unterminated stream")
        raw = data[start:end]
        if raw.endswith(b"\r\n"):
            raw = raw[:-2]
        elif raw.endswith(b"\n") or raw.endswith(b"\r"):
            raw = raw[:-1]
        return raw, end + 9

    def _expand_object_streams(self) -> None:
        for num in list(self.objs):
            s = self.objs[num]
            if not isinstance(s, StreamObj) or self.get(s.dict, "Type") != "ObjStm":
                continue
            try:
                body = self.stream_bytes(s)
                count = self.get(s.dict, "N")
                first = self.get(s.dict, "First")
                pos = 0
                pairs = []
                for _ in range(int(count)):
                    onum, pos = parse_value(body, pos)
                    off, pos = parse_value(body, pos)
                    pairs.append((int(onum), int(off)))
                for onum, off in pairs:
                    if onum in self.objs:
                        continue  # top-level (newer update) wins
                    try:
                        val, _ = parse_value(body, first + off)
                        self.objs[onum] = val
                    except PdfParseError:
                        pass
            except (PdfParseError, zlib.error, ValueError, TypeError):
                continue

    def _find_root(self) -> dict:
        # prefer the LAST trailer dict carrying /Root, else scan for Catalog
        root_ref = None
        for d in self.trailers:
            if "Root" in d:
                root_ref = d["Root"]
        if root_ref is not None:
            root = self.resolve(root_ref)
            if isinstance(root, dict):
                return root
        for v in self.objs.values():
            if isinstance(v, dict) and v.get("Type") == "Catalog":
                return v
        raise PdfParseError("no document catalog")

    # -- pages --------------------------------------------------------------
    _INHERITED = ("Resources", "MediaBox", "Rotate", "CropBox")

    def pages(self) -> List[dict]:
        pages_root = self.get(self.root, "Pages")
        if not isinstance(pages_root, dict):
            raise PdfParseError("no /Pages tree")
        out: List[dict] = []

        def walk(node: dict, inherited: dict, depth: int) -> None:
            if depth > 64:
                raise PdfParseError("pages tree too deep")
            attrs = dict(inherited)
            for k in self._INHERITED:
                if k in node:
                    attrs[k] = node[k]
            ntype = self.get(node, "Type")
            if ntype == "Page" or ("Kids" not in node and ntype != "Pages"):
                page = dict(node)
                for k, v in attrs.items():
                    page.setdefault(k, v)
                out.append(page)
                return
            for kid in self.get(node, "Kids") or []:
                kid = self.resolve(kid)
                if isinstance(kid, dict):
                    walk(kid, attrs, depth + 1)

        walk(pages_root, {}, 0)
        return out

    def content_bytes(self, page: dict) -> bytes:
        contents = self.get(page, "Contents")
        if contents is None:
            return b""
        if isinstance(contents, StreamObj):
            return self.stream_bytes(contents)
        if isinstance(contents, list):
            parts = []
            for c in contents:
                c = self.resolve(c)
                if isinstance(c, StreamObj):
                    parts.append(self.stream_bytes(c))
            return b"\n".join(parts)
        raise PdfParseError("bad /Contents")

    def font(self, ref) -> "_Font":
        key = ref.num if isinstance(ref, Ref) else id(ref)
        f = self._font_cache.get(key)
        if f is None:
            spec = self.resolve(ref)
            if not isinstance(spec, dict):
                raise PdfParseError("bad font object")
            f = _make_font(self, spec)
            self._font_cache[key] = f
        return f


# --------------------------------------------------------------------------
# fonts

# WinAnsiEncoding ≈ cp1252; PDF leaves the five cp1252 holes undefined.
_WINANSI = [None] * 256
for _i in range(256):
    try:
        _WINANSI[_i] = bytes([_i]).decode("cp1252")
    except UnicodeDecodeError:
        _WINANSI[_i] = None
_MACROMAN = [None] * 256
for _i in range(256):
    try:
        _MACROMAN[_i] = bytes([_i]).decode("mac-roman")
    except UnicodeDecodeError:  # pragma: no cover
        _MACROMAN[_i] = None

# Compact Adobe-Glyph-List subset: ASCII names + the punctuation/latin names
# LibreOffice/Word subsets actually emit in /Differences.
_AGL = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~", "quoteleft": "‘",
    "quoteright": "’", "quotedblleft": "“",
    "quotedblright": "”", "quotesinglbase": "‚",
    "quotedblbase": "„", "endash": "–", "emdash": "—",
    "bullet": "•", "ellipsis": "…", "guillemotleft": "«",
    "guillemotright": "»", "guilsinglleft": "‹",
    "guilsinglright": "›", "degree": "°", "plusminus": "±",
    "multiply": "×", "divide": "÷", "copyright": "©",
    "registered": "®", "trademark": "™", "section": "§",
    "paragraph": "¶", "dagger": "†", "daggerdbl": "‡",
    "cent": "¢", "sterling": "£", "yen": "¥",
    "Euro": "€", "florin": "ƒ", "fi": "ﬁ", "fl": "ﬂ",
    "oe": "œ", "OE": "Œ", "ae": "æ", "AE": "Æ",
    "oslash": "ø", "Oslash": "Ø", "germandbls": "ß",
    "dotlessi": "ı", "agrave": "à", "aacute": "á",
    "acircumflex": "â", "atilde": "ã", "adieresis": "ä",
    "aring": "å", "ccedilla": "ç", "egrave": "è",
    "eacute": "é", "ecircumflex": "ê", "edieresis": "ë",
    "igrave": "ì", "iacute": "í", "icircumflex": "î",
    "idieresis": "ï", "ntilde": "ñ", "ograve": "ò",
    "oacute": "ó", "ocircumflex": "ô", "otilde": "õ",
    "odieresis": "ö", "ugrave": "ù", "uacute": "ú",
    "ucircumflex": "û", "udieresis": "ü", "yacute": "ý",
    "ydieresis": "ÿ", "nbspace": " ",
}
for _ch in "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ":
    _AGL[_ch] = _ch


def _glyph_to_unicode(name: str) -> Optional[str]:
    u = _AGL.get(name)
    if u is not None:
        return u
    if name.startswith("uni") and len(name) >= 7:
        try:
            return chr(int(name[3:7], 16))
        except ValueError:
            return None
    if name.startswith("u") and 5 <= len(name) <= 7:
        try:
            return chr(int(name[1:], 16))
        except ValueError:
            return None
    return None


_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_HEXTOK_RE = re.compile(rb"<([0-9A-Fa-f]+)>")
_BFRANGE_ITEM = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*(<[0-9A-Fa-f]+>|\[(?:\s*<[0-9A-Fa-f]+>)+\s*\])"
)


def _utf16be(hexs: str) -> str:
    b = bytes.fromhex(hexs)
    try:
        return b.decode("utf-16-be")
    except UnicodeDecodeError:
        return "".join(chr(x) for x in b)


def _parse_tounicode(cmap_bytes: bytes):
    """ToUnicode CMap → (explicit dict, lazy bfranges).

    Increment-style ``bfrange`` entries are kept as ``(lo, hi, prefix,
    base)`` tuples and resolved per-cid with memoization — a full-space
    identity range like ``<0000> <FFFF> <0000>`` would otherwise expand
    65536 dict entries PER DOCUMENT (measured: 85% of parse time on
    generated PDFs)."""
    out: Dict[int, str] = {}
    ranges: List[Tuple[int, int, bytes, int]] = []
    for m in _BFCHAR_RE.finditer(cmap_bytes):
        toks = _HEXTOK_RE.findall(m.group(1))
        for i in range(0, len(toks) - 1, 2):
            cid = int(toks[i], 16)
            out[cid] = _utf16be(toks[i + 1].decode("ascii"))
    for m in _BFRANGE_RE.finditer(cmap_bytes):
        for item in _BFRANGE_ITEM.finditer(m.group(1)):
            lo = int(item.group(1), 16)
            hi = int(item.group(2), 16)
            dst = item.group(3)
            if dst.startswith(b"["):
                vals = _HEXTOK_RE.findall(dst)
                for k, v in enumerate(vals):
                    if lo + k <= hi:
                        out[lo + k] = _utf16be(v.decode("ascii"))
            else:
                base_hex = dst[1:-1].decode("ascii")
                base = bytes.fromhex(base_hex)
                # increment the last 16-bit code unit lazily
                ranges.append((lo, hi, base[:-2], int(base_hex[-4:], 16)))
    return out, ranges


class _Font:
    """Geometry + decode model of one font resource (pdsminer PDFFont image:
    widths are glyph-space units ×0.001, descent from the descriptor)."""

    __slots__ = (
        "fontname", "multibyte", "vertical", "widths", "default_width",
        "descent", "to_unicode", "tu_ranges", "encoding", "glyphs",
    )

    def __init__(self):
        self.fontname = "unknown"
        self.multibyte = False
        self.vertical = False
        self.widths: Dict[int, float] = {}
        self.default_width = 0.0
        self.descent = 0.0
        self.to_unicode: Optional[Dict[int, str]] = None
        self.tu_ranges: list = []
        self.encoding: Optional[List[Optional[str]]] = None
        # cid → (text, width × 0.001), filled by glyph() as codes are met
        self.glyphs: Dict[int, Tuple[str, float]] = {}

    def codes(self, s: bytes):
        """Character codes of one string operand: its bytes, or for
        Identity-H/V 2-byte big-endian codes (an odd tail byte is the high
        byte of a last code)."""
        if not self.multibyte:
            return s
        if len(s) & 1:
            s += b"\x00"
        return struct.unpack(">%dH" % (len(s) >> 1), s)

    def glyph(self, cid: int) -> Tuple[str, float]:
        """(text, width) of one code, memoized in :attr:`glyphs`."""
        g = (self._text(cid), self.widths.get(cid, self.default_width) * 0.001)
        self.glyphs[cid] = g
        return g

    def _text(self, cid: int) -> str:
        if self.to_unicode is not None:
            u = self.to_unicode.get(cid)
            if u is not None:
                return u
            for lo, hi, prefix, base in self.tu_ranges:
                if lo <= cid <= hi:
                    unit = base + cid - lo
                    if prefix:
                        return (prefix + unit.to_bytes(2, "big")).decode(
                            "utf-16-be", "replace"
                        )
                    if 0xD800 <= unit <= 0xDFFF:
                        return "�"
                    return chr(unit)
        if self.encoding is not None and 0 <= cid < 256:
            u = self.encoding[cid]
            if u is not None:
                return u
        return f"(cid:{cid})"


def _make_font(doc: PdfDocument, spec: dict) -> _Font:
    f = _Font()
    subtype = doc.get(spec, "Subtype")
    base = doc.get(spec, "BaseFont")
    if isinstance(base, str):
        f.fontname = str(base)

    tu = doc.get(spec, "ToUnicode")
    if isinstance(tu, StreamObj):
        try:
            f.to_unicode, f.tu_ranges = _parse_tounicode(doc.stream_bytes(tu))
        except (zlib.error, ValueError):
            f.to_unicode = None
            f.tu_ranges = []

    if subtype == "Type0":
        desc_fonts = doc.get(spec, "DescendantFonts") or []
        if not desc_fonts:
            raise PdfParseError("Type0 without DescendantFonts")
        cidfont = doc.resolve(desc_fonts[0])
        enc = doc.get(spec, "Encoding")
        if enc not in ("Identity-H", "Identity-V"):
            raise PdfParseError(f"unsupported CMap {enc!r}")
        f.multibyte = True
        f.vertical = enc == "Identity-V"
        f.default_width = float(doc.get(cidfont, "DW", 1000) or 1000)
        w = doc.get(cidfont, "W") or []
        i = 0
        while i < len(w):
            c = doc.resolve(w[i])
            nxt = doc.resolve(w[i + 1]) if i + 1 < len(w) else None
            if isinstance(nxt, list):
                for k, width in enumerate(nxt):
                    f.widths[int(c) + k] = float(doc.resolve(width))
                i += 2
            else:
                c2 = int(nxt)
                width = float(doc.resolve(w[i + 2]))
                for cid in range(int(c), c2 + 1):
                    f.widths[cid] = width
                i += 3
        descr = doc.get(cidfont, "FontDescriptor") or {}
        f.descent = float(doc.get(descr, "Descent", 0) or 0) * 0.001
        if f.fontname == "unknown":
            fn = doc.get(descr, "FontName")
            if isinstance(fn, str):
                f.fontname = str(fn)
        return f

    # simple fonts: Type1 / TrueType / Type3-lite
    first = doc.get(spec, "FirstChar", 0) or 0
    widths = doc.get(spec, "Widths")
    if isinstance(widths, list):
        for k, width in enumerate(widths):
            f.widths[int(first) + k] = float(doc.resolve(width) or 0)
    descr = doc.get(spec, "FontDescriptor") or {}
    f.descent = float(doc.get(descr, "Descent", 0) or 0) * 0.001
    f.default_width = float(doc.get(descr, "MissingWidth", 0) or 0)
    if f.fontname == "unknown":
        fn = doc.get(descr, "FontName")
        if isinstance(fn, str):
            f.fontname = str(fn)

    enc = doc.get(spec, "Encoding")
    table: List[Optional[str]] = list(_WINANSI)  # default ≈ Standard for text
    diffs = None
    if isinstance(enc, dict):
        basename = doc.get(enc, "BaseEncoding")
        if basename == "MacRomanEncoding":
            table = list(_MACROMAN)
        diffs = doc.get(enc, "Differences")
    elif enc == "MacRomanEncoding":
        table = list(_MACROMAN)
    if diffs:
        code = 0
        for item in diffs:
            item = doc.resolve(item)
            if isinstance(item, (int, float)):
                code = int(item)
            elif isinstance(item, str):
                if 0 <= code < 256:
                    table[code] = _glyph_to_unicode(str(item))
                code += 1
    f.encoding = table
    return f


# --------------------------------------------------------------------------
# content-stream interpreter (pdfminer render_string_horizontal semantics)

def _mult_matrix(m1, m0):
    a1, b1, c1, d1, e1, f1 = m1
    a0, b0, c0, d0, e0, f0 = m0
    return (
        a1 * a0 + b1 * c0,
        a1 * b0 + b1 * d0,
        c1 * a0 + d1 * c0,
        c1 * b0 + d1 * d0,
        e1 * a0 + f1 * c0 + e0,
        e1 * b0 + f1 * d0 + f0,
    )


_MATRIX_ID = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)

_OP_RE = re.compile(rb"[A-Za-z'\"][A-Za-z0-9*'\"]*")


def _tokenize_content(data: bytes):
    """Yield ('operand', value) / ('op', name) tokens of a content stream."""
    pos = 0
    n = len(data)
    while True:
        pos = _skip_ws(data, pos)
        if pos >= n:
            return
        c = data[pos]
        if c == 0x2F or c == 0x28 or c == 0x3C or c == 0x5B or (
            0x30 <= c <= 0x39
        ) or c in (0x2B, 0x2D, 0x2E):
            # parse_value handles names/strings/hex/arrays/dicts/numbers;
            # content streams contain no indirect refs, so a bare int
            # followed by "x y R" cannot occur (R is not an operator).
            val, pos = parse_value(data, pos)
            yield ("operand", val)
            continue
        m = _OP_RE.match(data, pos)
        if not m:
            # unknown byte — skip it defensively
            pos += 1
            continue
        op = m.group().decode("latin-1")
        pos = m.end()
        if op == "BI":
            # inline image: skip through EI
            e = data.find(b"EI", pos)
            while e > 0 and not (
                data[e - 1] in _WS_CHARS
                and (e + 2 >= n or data[e + 2] in _WS_CHARS or data[e + 2] in _DELIM)
            ):
                e = data.find(b"EI", e + 2)
            pos = n if e < 0 else e + 2
            continue
        yield ("op", op)


class _TextState:
    __slots__ = (
        "font", "fontsize", "charspace", "wordspace", "scaling", "leading",
        "rise", "matrix", "linematrix",
    )

    def __init__(self):
        self.font: Optional[_Font] = None
        self.fontsize = 0.0
        self.charspace = 0.0
        self.wordspace = 0.0
        self.scaling = 100.0
        self.leading = 0.0
        self.rise = 0.0
        self.matrix = _MATRIX_ID
        self.linematrix = (0.0, 0.0)

    def copy(self) -> "_TextState":
        c = _TextState.__new__(_TextState)
        for s in _TextState.__slots__:
            setattr(c, s, getattr(self, s))
        return c


# pdfminer LAParams of the reference (line_overlap=0.5, char_margin=2.05,
# word_margin=0.1; detect_vertical=False)
_LINE_OVERLAP = 0.5
_CHAR_MARGIN = 2.05
_WORD_MARGIN = 0.1


def _interpret_page(doc: PdfDocument, page: dict, ctm, page_num: int, lines: list) -> None:
    """Run one page's content stream and append its text lines to
    ``lines`` as ``(page_num, x0, y0, x1, y1, runs)``.

    pdfminer's ``group_objects`` (horizontal only) splits the page's glyph
    stream wherever two consecutive glyphs fail its pair test — its
    "pending first glyph" state is just a one-glyph line — so each glyph
    either extends the open line or closes it and opens the next, across
    string and BT/ET boundaries. The line bbox is folded with ``<``/``>``
    in glyph order, exactly as builtin ``min``/``max`` fold (NaN included).
    """
    content = doc.content_bytes(page)
    resources = doc.get(page, "Resources") or {}
    fonts_res = doc.get(resources, "Font") or {}

    ts = _TextState()
    gs_stack: List[tuple] = []
    args: List[object] = []
    # layout state carried across strings: the previous glyph's box and
    # size, the open line's bbox, its finished runs (None until the page's
    # first glyph) and the open run's (fontname, upright) and text parts
    px0 = py0 = px1 = py1 = pw = ph = 0.0
    lx0 = ly0 = lx1 = ly1 = 0.0
    runs: Optional[list] = None
    run_key: Optional[tuple] = None
    run_parts: List[str] = []

    def close_line() -> None:
        runs.append((*run_key, "".join(run_parts)))
        lines.append((page_num, lx0, ly0, lx1, ly1, runs))

    def render_string(seq) -> None:
        nonlocal px0, py0, px1, py1, pw, ph, lx0, ly0, lx1, ly1
        nonlocal runs, run_key, run_parts
        font = ts.font
        if font is None:
            return
        matrix = _mult_matrix(ts.matrix, ctm)
        fontsize = ts.fontsize
        scaling = ts.scaling * 0.01
        charspace = ts.charspace * scaling
        wordspace = 0.0 if font.multibyte else ts.wordspace * scaling
        rise = ts.rise
        dxscale = 0.001 * fontsize * scaling
        x, y = ts.linematrix
        needcharspace = False
        descent = font.descent * fontsize
        # hot loop: everything but x is constant per string — hoist the
        # translate/apply-matrix algebra out of the per-glyph work. Every
        # retained expression keeps the ORIGINAL association order
        # (x*a + y*c + e etc.), so geometry stays bit-identical to
        # pdfminer's render_string_horizontal / LTChar arithmetic.
        a, b, c, d, e, f = matrix
        upright = (0 < a * d * scaling) and (b * c <= 0)
        yc = y * c
        yd = y * d
        dr = descent + rise
        drf = descent + rise + fontsize
        cdr = c * dr
        ddr = d * dr
        cdrf = c * drf
        ddrf = d * drf
        glyphs = font.glyphs
        glyph = font.glyph
        codes = font.codes
        key = (font.fontname, upright)
        for obj in seq:
            if isinstance(obj, (int, float)):
                x -= obj * dxscale
                needcharspace = True
                continue
            if not isinstance(obj, bytes):
                continue
            for cid in codes(obj):
                if needcharspace:
                    x += charspace
                g = glyphs.get(cid)
                if g is None:
                    g = glyph(cid)
                adv = g[1] * fontsize * scaling
                ex = x * a + yc + e
                fy = x * b + yd + f
                p0x = a * 0.0 + cdr + ex
                p0y = b * 0.0 + ddr + fy
                p1x = a * adv + cdrf + ex
                p1y = b * adv + ddrf + fy
                x0, x1 = (p0x, p1x) if p0x <= p1x else (p1x, p0x)
                y0, y1 = (p0y, p1y) if p0y <= p1y else (p1y, p0y)
                w = x1 - x0
                h = y1 - y0
                # group_objects: vertical overlap > line_overlap × min
                # height, then horizontal distance < char_margin × max width
                same_line = False
                if runs is not None:
                    if y0 <= py1 and py0 <= y1:
                        va = abs(py0 - y1)
                        vb = abs(py1 - y0)
                        vo = vb if vb < va else va
                    else:
                        vo = 0.0
                    if vo > _LINE_OVERLAP * (h if h < ph else ph):
                        if x0 <= px1 and px0 <= x1:
                            hd = 0.0
                        else:
                            ha = abs(px0 - x1)
                            hb = abs(px1 - x0)
                            hd = hb if hb < ha else ha
                        same_line = hd < _CHAR_MARGIN * (w if w > pw else pw)
                if same_line:
                    if x0 < lx0:
                        lx0 = x0
                    if y0 < ly0:
                        ly0 = y0
                    if x1 > lx1:
                        lx1 = x1
                    if y1 > ly1:
                        ly1 = y1
                    # LTAnno space: it joins the run before it, since the
                    # style fold gives whitespace the previous char's style
                    if px1 < x0 - _WORD_MARGIN * (h if h > w else w):
                        run_parts.append(" ")
                    # key is one tuple per string, so an identity miss
                    # means the run began in an earlier string
                    if run_key is not key:
                        if run_key != key:
                            runs.append((*run_key, "".join(run_parts)))
                            run_parts = []
                        run_key = key
                    run_parts.append(g[0])
                else:
                    if runs is not None:
                        close_line()
                    lx0, ly0, lx1, ly1 = x0, y0, x1, y1
                    runs = []
                    run_key = key
                    run_parts = [g[0]]
                px0, py0, px1, py1, pw, ph = x0, y0, x1, y1, w, h
                x += adv
                if cid == 32 and wordspace:
                    x += wordspace
                needcharspace = True
        ts.linematrix = (x, y)

    for kind, val in _tokenize_content(content):
        if kind == "operand":
            args.append(val)
            continue
        op = val
        try:
            if op == "q":
                # pdfminer's get_current_state saves (ctm, textstate,
                # graphicstate) — restoring only the CTM left Tf/Tc/Tw
                # changes made inside q…Q live after the restore, shifting
                # glyph geometry vs the reference on real PDFs
                gs_stack.append((ctm, ts.copy()))
            elif op == "Q":
                if gs_stack:
                    ctm, ts = gs_stack.pop()
            elif op == "cm" and len(args) >= 6:
                ctm = _mult_matrix(tuple(float(v) for v in args[-6:]), ctm)
            elif op == "BT":
                ts.matrix = _MATRIX_ID
                ts.linematrix = (0.0, 0.0)
            elif op == "Tf" and len(args) >= 2:
                fname = args[-2]
                ts.fontsize = float(args[-1])
                fref = fonts_res.get(fname) if isinstance(fonts_res, dict) else None
                ts.font = doc.font(fref) if fref is not None else None
            elif op == "Td" and len(args) >= 2:
                ts.matrix = _mult_matrix(
                    (1, 0, 0, 1, float(args[-2]), float(args[-1])), ts.matrix
                )
                ts.linematrix = (0.0, 0.0)
            elif op == "TD" and len(args) >= 2:
                ts.leading = -float(args[-1])
                ts.matrix = _mult_matrix(
                    (1, 0, 0, 1, float(args[-2]), float(args[-1])), ts.matrix
                )
                ts.linematrix = (0.0, 0.0)
            elif op == "Tm" and len(args) >= 6:
                ts.matrix = tuple(float(v) for v in args[-6:])
                ts.linematrix = (0.0, 0.0)
            elif op == "T*":
                ts.matrix = _mult_matrix((1, 0, 0, 1, 0.0, -ts.leading), ts.matrix)
                ts.linematrix = (0.0, 0.0)
            elif op == "TL" and args:
                ts.leading = float(args[-1])
            elif op == "Tc" and args:
                ts.charspace = float(args[-1])
            elif op == "Tw" and args:
                ts.wordspace = float(args[-1])
            elif op == "Tz" and args:
                ts.scaling = float(args[-1])
            elif op == "Ts" and args:
                ts.rise = float(args[-1])
            elif op == "Tj" and args:
                render_string([args[-1]])
            elif op == "TJ" and args and isinstance(args[-1], list):
                render_string(args[-1])
            elif op == "'" and args:
                ts.matrix = _mult_matrix((1, 0, 0, 1, 0.0, -ts.leading), ts.matrix)
                ts.linematrix = (0.0, 0.0)
                render_string([args[-1]])
            elif op == '"' and len(args) >= 3:
                ts.wordspace = float(args[-3])
                ts.charspace = float(args[-2])
                ts.matrix = _mult_matrix((1, 0, 0, 1, 0.0, -ts.leading), ts.matrix)
                ts.linematrix = (0.0, 0.0)
                render_string([args[-1]])
            # Do (XObjects) intentionally ignored: LAParams.all_texts=False
            # keeps figure text out of page lines (reference default).
        except PdfParseError:
            # PdfParseError IS a ValueError — without this re-raise the
            # clause below ate e.g. Tf's "unsupported CMap" and the doc
            # was silently emitted EMPTY with error=False instead of the
            # documented error=True poison-pill
            raise
        except (TypeError, ValueError):
            pass
        args = []
    if runs is not None:
        close_line()


# --------------------------------------------------------------------------
# public API

def parse_pdf(data: bytes):
    """Parse PDF bytes → (pages, lines) in the synthetic-payload shape:

    pages : list of (page_num, width, height)
    lines : list of (page_num, x0, y0, x1, y1, runs) — absolute coords,
            origin bottom-left; runs = list of (fontname, upright, text).

    Raises PdfParseError on malformed/unsupported input. This is the
    poison-pill boundary (the reference maps any pdfminer PDFException to
    ``error=True``, pdfminer.py:130-135): a fuzzed/truncated/bit-flipped
    document must surface as PdfParseError, never as a raw
    IndexError/AttributeError/zlib.error escaping into the Spark task —
    so every structural failure below is re-raised as PdfParseError.
    """
    try:
        doc = PdfDocument(data)
        page_dicts = doc.pages()
    except PdfParseError:
        raise
    except Exception as exc:  # corrupt structure — poison-pill boundary
        raise PdfParseError(f"{type(exc).__name__}: {exc}") from exc
    if not page_dicts:
        raise PdfParseError("no pages")

    pages: List[Tuple[int, float, float]] = []
    lines: List[Tuple[int, float, float, float, float, list]] = []
    for page_num, page in enumerate(page_dicts):
        try:
            mb = doc.get(page, "MediaBox") or [0, 0, 612, 792]
            mb = [float(doc.resolve(v)) for v in mb]
            mx0, my0 = min(mb[0], mb[2]), min(mb[1], mb[3])
            mx1, my1 = max(mb[0], mb[2]), max(mb[1], mb[3])
            width, height = mx1 - mx0, my1 - my0
            rotate = int(doc.get(page, "Rotate", 0) or 0) % 360
            if rotate == 90:
                ctm = (0.0, -1.0, 1.0, 0.0, -my0, mx1)
                width, height = height, width
            elif rotate == 180:
                ctm = (-1.0, 0.0, 0.0, -1.0, mx1, my1)
            elif rotate == 270:
                ctm = (0.0, 1.0, -1.0, 0.0, my1, -mx0)
                width, height = height, width
            else:
                ctm = (1.0, 0.0, 0.0, 1.0, -mx0, -my0)
            pages.append((page_num, width, height))
            _interpret_page(doc, page, ctm, page_num, lines)
        except PdfParseError:
            raise
        except Exception as exc:  # corrupt page — poison-pill boundary
            raise PdfParseError(f"{type(exc).__name__}: {exc}") from exc
    return pages, lines
