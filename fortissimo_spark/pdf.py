"""Minimal PDF text extraction (the north-rule's "PDF/layout parse" leg).

Real, dependency-free parsing of the PDF constructs a text pipeline needs:

* object/stream scanning over the raw bytes (``stream``/``endstream``
  pairs with their owning dictionaries);
* real ``FlateDecode`` decompression (stdlib zlib);
* content-stream text operators: literal strings ``( ... )`` with escape
  sequences (``\\( \\) \\\\ \\n \\r \\t`` + octal) and nesting, hex strings
  ``<...>``, ``Tj`` / ``'`` show ops, ``TJ`` arrays, and the line-advance
  ops ``Td/TD/T*`` (mapped to newlines).

Structured-file support (the post-2005 producer layout): classic xref
tables AND cross-reference streams (PDF 1.5+, /W-packed entries, PNG
predictors 10-15 on FlateDecode via /DecodeParms), compressed object
streams (/Type /ObjStm, lazily expanded), the page tree with /Resources
inheritance, and /ToUnicode CMaps on Type0/CID fonts (codespace ranges,
bfchar + bfrange incl. array form and surrogate-pair targets) so CID-coded
text decodes to real Unicode. When the xref machinery is broken or absent
the extractor degrades to the raw stream scan (crawled corpora are
hostile), so every previously-supported document still extracts.

Out of scope (documented): encrypted PDFs, non-Flate filters (DCT/LZW),
glyph rendering/layout reflow — those need codec/font machinery
not present in this container; :func:`extract_pdf_text` raises
``ValueError`` on encrypted input and skips streams with unsupported
filters rather than guessing.

``build_pdf`` is the deterministic fixture generator (pages.py's role for
the PDF leg): a structurally valid single-page PDF whose text content is
exactly the input text, alternating literal/hex string ops and optionally
Flate-compressing the content stream — so the Spark-side extract kernel is
oracle-checkable against the ``documents`` table byte-for-byte.
"""

from __future__ import annotations

import re
import zlib
from typing import Iterator

__all__ = ["build_pdf", "extract_pdf_text", "make_pdf_extract_kernel"]


# --------------------------------------------------------------------------
# generator (fixture role)
# --------------------------------------------------------------------------

_LIT_ESCAPE = {ord("\\"): b"\\\\", ord("("): b"\\(", ord(")"): b"\\)",
               ord("\r"): b"\\r"}


def _literal_string(line: str) -> bytes:
    out = bytearray(b"(")
    for byte in line.encode("utf-8"):
        out += _LIT_ESCAPE.get(byte, bytes((byte,)))
    out += b")"
    return bytes(out)


def _hex_string(line: str) -> bytes:
    return b"<" + line.encode("utf-8").hex().encode("ascii") + b">"


def _cid_code_table(text: str) -> dict[str, int]:
    """Deterministic char -> 2-byte CID code assignment: distinct
    non-newline chars sorted by ordinal, codes from 1 — so consecutive
    ordinals get consecutive codes (bfrange-able runs)."""
    chars = sorted({c for c in text if c != "\n"})
    return {c: i + 1 for i, c in enumerate(chars)}


def _cid_string(line: str, codes: dict[str, int]) -> bytes:
    return (b"<" + b"".join(b"%04X" % codes[c] for c in line) + b">")


def _tounicode_cmap(codes: dict[str, int]) -> bytes:
    """ToUnicode CMap covering the code table: consecutive-ordinal runs
    become bfrange entries (single-target increment form), singletons and
    non-BMP chars (surrogate-pair targets) become bfchar entries — both
    real-world forms exercised. Chunked at 100 entries per block (spec
    limit)."""
    items = sorted(codes.items(), key=lambda kv: kv[1])
    ranges: list[tuple[int, int, int]] = []  # (code_lo, code_hi, ord_lo)
    chars: list[tuple[int, str]] = []
    i = 0
    while i < len(items):
        j = i
        o0, c0 = ord(items[i][0]), items[i][1]
        while (j + 1 < len(items)
               and ord(items[j + 1][0]) == o0 + (j + 1 - i)
               and items[j + 1][1] == c0 + (j + 1 - i)
               and ord(items[j + 1][0]) <= 0xFFFF):
            j += 1
        if j > i and o0 <= 0xFFFF:
            ranges.append((c0, items[j][1], o0))
            i = j + 1
        else:
            chars.append((c0, items[i][0]))
            i += 1

    def u16(ch: str) -> bytes:
        return (b"<" + ch.encode("utf-16-be").hex().upper().encode("ascii")
                + b">")

    out = [b"/CIDInit /ProcSet findresource begin",
           b"12 dict begin", b"begincmap",
           b"/CIDSystemInfo << /Registry (Adobe) /Ordering (UCS) "
           b"/Supplement 0 >> def",
           b"/CMapName /Adobe-Identity-UCS def", b"/CMapType 2 def",
           b"1 begincodespacerange", b"<0000> <FFFF>",
           b"endcodespacerange"]
    for k in range(0, len(ranges), 100):
        chunk = ranges[k:k + 100]
        out.append(b"%d beginbfrange" % len(chunk))
        out.extend(b"<%04X> <%04X> <%04X>" % r for r in chunk)
        out.append(b"endbfrange")
    for k in range(0, len(chars), 100):
        chunk = chars[k:k + 100]
        out.append(b"%d beginbfchar" % len(chunk))
        out.extend(b"<%04X> " % c + u16(ch) for c, ch in chunk)
        out.append(b"endbfchar")
    out += [b"endcmap",
            b"CMapName currentdict /CMap defineresource pop",
            b"end", b"end"]
    return b"\n".join(out)


def build_pdf(text: str, *, compress: bool = False, objstm: bool = False,
              cid: bool = False) -> bytes:
    """Structurally valid one-page PDF whose extracted text == ``text``.

    Lines alternate literal and hex string operators (both real PDF
    syntaxes); line breaks become ``T*`` ops. ``compress`` wraps the
    content stream in FlateDecode.

    ``cid``: the font becomes a Type0/Identity-H CID font; text is
    written as 2-byte CID codes whose meaning ONLY a /ToUnicode CMap
    restores (bfrange + bfchar, Flate-compressed stream) — the modern
    producer shape whose text is unreadable without CMap decoding.

    ``objstm``: non-stream objects are packed into a /Type /ObjStm
    container and the cross-reference is a PDF 1.5 xref STREAM (/W-packed
    entries, PNG Up predictor 12) with no ``trailer`` keyword — the
    dominant post-2005 file layout.
    """
    codes = _cid_code_table(text) if cid else None
    ops = [b"BT", b"/F1 11 Tf", b"12 TL", b"72 720 Td"]
    for i, line in enumerate(text.split("\n")):
        if i > 0:
            ops.append(b"T*")
        if cid:
            s = _cid_string(line, codes)
        else:
            s = _literal_string(line) if i % 2 == 0 else _hex_string(line)
        ops.append(s + b" Tj")
    ops.append(b"ET")
    content = b"\n".join(ops)

    filt = b""
    if compress:
        content = zlib.compress(content)
        filt = b" /Filter /FlateDecode"

    # object bodies by number; streams must stay top-level (ObjStm may
    # only hold non-stream objects)
    if cid:
        cmap = zlib.compress(_tounicode_cmap(codes))
        font = (b"<< /Type /Font /Subtype /Type0 /BaseFont /Fixture "
                b"/Encoding /Identity-H /DescendantFonts [6 0 R] "
                b"/ToUnicode 7 0 R >>")
        extra = {
            6: b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Fixture "
               b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
               b"/Supplement 0 >> >>",
            7: b"<< /Length " + str(len(cmap)).encode()
               + b" /Filter /FlateDecode >>\nstream\n" + cmap
               + b"\nendstream",
        }
    else:
        font = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
        extra = {}
    objects = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
           b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        4: b"<< /Length " + str(len(content)).encode() + filt
           + b" >>\nstream\n" + content + b"\nendstream",
        5: font,
        **extra,
    }
    buf = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n" if objstm
                    else b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")

    if not objstm:
        offsets = []
        nums = sorted(objects)
        for num in nums:
            offsets.append(len(buf))
            buf += f"{num} 0 obj\n".encode() + objects[num] + b"\nendobj\n"
        xref_at = len(buf)
        buf += f"xref\n0 {len(nums) + 1}\n".encode()
        buf += b"0000000000 65535 f \n"
        for off in offsets:
            buf += f"{off:010d} 00000 n \n".encode()
        buf += (b"trailer\n<< /Size " + str(len(nums) + 1).encode()
                + b" /Root 1 0 R >>\nstartxref\n" + str(xref_at).encode()
                + b"\n%%EOF\n")
        return bytes(buf)

    # --- PDF 1.5 layout: ObjStm for non-stream objects + xref stream ------
    stream_nums = [n for n in sorted(objects) if b"\nstream\n" in objects[n]]
    packed_nums = [n for n in sorted(objects) if n not in stream_nums]
    objstm_num = max(objects) + 1
    xref_num = objstm_num + 1

    # ObjStm content: "num off ..." header then the object bodies
    bodies = []
    off = 0
    header = []
    for n in packed_nums:
        body = objects[n] + b"\n"
        header.append(b"%d %d" % (n, off))
        bodies.append(body)
        off += len(body)
    stm_content = b" ".join(header) + b"\n"
    first = len(stm_content)
    stm_content += b"".join(bodies)
    stm_z = zlib.compress(stm_content)

    entries: dict[int, tuple[int, int, int]] = {0: (0, 0, 65535)}
    for n in stream_nums + [objstm_num, xref_num]:
        entries[n] = (1, 0, 0)  # offsets patched below
    for idx, n in enumerate(packed_nums):
        entries[n] = (2, objstm_num, idx)

    for n in stream_nums:
        entries[n] = (1, len(buf), 0)
        buf += f"{n} 0 obj\n".encode() + objects[n] + b"\nendobj\n"
    entries[objstm_num] = (1, len(buf), 0)
    buf += (f"{objstm_num} 0 obj\n".encode()
            + b"<< /Type /ObjStm /N " + str(len(packed_nums)).encode()
            + b" /First " + str(first).encode()
            + b" /Length " + str(len(stm_z)).encode()
            + b" /Filter /FlateDecode >>\nstream\n" + stm_z
            + b"\nendstream\nendobj\n")

    xref_at = len(buf)
    entries[xref_num] = (1, xref_at, 0)
    size = xref_num + 1
    # /W [1 4 2] (4-byte offsets: fixtures can exceed 64 KiB), PNG Up
    # predictor (12) over 7-byte rows — the layout real producers emit
    rows = []
    for n in range(size):
        t, f2, f3 = entries.get(n, (0, 0, 0))
        rows.append(bytes((t,)) + f2.to_bytes(4, "big")
                    + f3.to_bytes(2, "big"))
    enc = bytearray()
    prev = bytes(7)
    for r in rows:
        enc.append(2)  # Up
        enc += bytes((r[k] - prev[k]) & 0xFF for k in range(7))
        prev = r
    xdata = zlib.compress(bytes(enc))
    buf += (f"{xref_num} 0 obj\n".encode()
            + b"<< /Type /XRef /Size " + str(size).encode()
            + b" /Root 1 0 R /W [1 4 2] /Index [0 " + str(size).encode()
            + b"] /Filter /FlateDecode /DecodeParms << /Predictor 12 "
            b"/Columns 7 >> /Length " + str(len(xdata)).encode()
            + b" >>\nstream\n" + xdata + b"\nendstream\nendobj\n")
    buf += (b"startxref\n" + str(xref_at).encode() + b"\n%%EOF\n")
    return bytes(buf)


# --------------------------------------------------------------------------
# extractor
# --------------------------------------------------------------------------

_RE_STREAM = re.compile(rb"stream\r?\n")

_OCTAL = b"01234567"


# direct /Length only: the FULL number ((?![0-9]) forbids backtracking into
# the digit run, so '/Length 12 0 R' can't half-match as '1'), NOT followed
# by '<gen> R' (indirect ref)
_RE_LENGTH = re.compile(
    rb"/Length[ \t\r\n]+(\d+)(?![0-9])(?![ \t\r\n]+\d+[ \t\r\n]+R)")


def _iter_streams(payload: bytes) -> Iterator[tuple[bytes, bytes]]:
    """Yield (owning_dict_bytes, raw_stream_bytes) pairs.

    The stream's byte count comes from the dict's direct ``/Length`` when
    present — binary data may legitimately end in EOL bytes, so trimming
    by pattern would corrupt it (e.g. Flate data ending in 0x0D) — and the
    scan resumes past the /Length-delimited body, so binary data
    containing the letters ``endstream`` can't derail it. The EOL-strip
    heuristic only covers indirect ``/Length N 0 R`` dictionaries (whose
    value lives in another object)."""
    pos = 0
    n = len(payload)
    while True:
        m = _RE_STREAM.search(payload, pos)
        if not m:
            return
        # owning dictionary: back-scan to the nearest 'obj' keyword
        obj_at = payload.rfind(b"obj", 0, m.start())
        head = payload[obj_at:m.start()] if obj_at >= 0 else b""
        lm = _RE_LENGTH.search(head)
        if lm:
            body_end = min(m.end() + int(lm.group(1)), n)
            raw = payload[m.end():body_end]
            end = payload.find(b"endstream", body_end)
        else:
            end = payload.find(b"endstream", m.end())
            if end < 0:
                return
            raw = payload[m.end():end]
            if raw.endswith(b"\r\n"):
                raw = raw[:-2]
            elif raw.endswith(b"\n"):
                raw = raw[:-1]
        yield head, raw
        pos = (end + 9) if end >= 0 else n


def _parse_literal(data: bytes, i: int) -> tuple[bytes, int]:
    """Parse a ``(...)`` literal starting at ``i`` (at '('); returns
    (decoded bytes, index past ')')."""
    out = bytearray()
    depth = 1
    i += 1
    n = len(data)
    while i < n and depth:
        c = data[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = data[i]
            if e in b"nrtbf":
                out += {ord("n"): b"\n", ord("r"): b"\r", ord("t"): b"\t",
                        ord("b"): b"\b", ord("f"): b"\f"}[e]
                i += 1
            elif e in _OCTAL:
                oct_digits = bytearray()
                while i < n and data[i] in _OCTAL and len(oct_digits) < 3:
                    oct_digits.append(data[i])
                    i += 1
                out.append(int(oct_digits, 8) & 0xFF)
            elif e in b"\r\n":  # line continuation
                i += 1
                if e == 0x0D and i < n and data[i] == 0x0A:
                    i += 1
            else:
                out.append(e)
                i += 1
            continue
        if c == 0x28:  # (
            depth += 1
        elif c == 0x29:  # )
            depth -= 1
            if depth == 0:
                i += 1
                break
        out.append(c)
        i += 1
    return bytes(out), i


def _parse_hex(data: bytes, i: int) -> tuple[bytes, int]:
    end = data.find(b">", i)
    if end < 0:
        end = len(data)
    digits = re.sub(rb"[^0-9A-Fa-f]", b"", data[i + 1:end])
    if len(digits) % 2:
        digits += b"0"
    return bytes.fromhex(digits.decode("ascii")), end + 1


def _skip_dict(data: bytes, i: int) -> int:
    """Skip an inline ``<< ... >>`` dictionary starting at ``i`` (at the
    first '<'), including nested dicts and any strings inside (BDC/DP
    property lists like /ActualText carry strings that are NOT shown
    text). Returns the index past the closing '>>'."""
    n = len(data)
    depth = 1
    i += 2
    while i < n and depth:
        if data.startswith(b"<<", i):
            depth += 1
            i += 2
        elif data.startswith(b">>", i):
            depth -= 1
            i += 2
        elif data[i] == 0x28:  # ( literal string
            _, i = _parse_literal(data, i)
        elif data[i] == 0x3C:  # < hex string
            _, i = _parse_hex(data, i)
        else:
            i += 1
    return i


# PDF whitespace + delimiter bytes: an operator token must be bounded by
# these (or start/end of stream) — without the boundary check, a resource
# name like /Tj0 or /TD1 would spuriously match the text-show operators
_PDF_DELIMS = b"\x00\t\n\f\r ()<>[]{}/%"

_PDF_WS = b"\x00\t\n\x0c\r "


# --------------------------------------------------------------------------
# object model: value parser, xref chain, ObjStm, ToUnicode CMaps
# --------------------------------------------------------------------------

class _Name(str):
    """A PDF name token (/Foo), distinguishable from string values."""


class _Ref(tuple):
    """An indirect reference (objnum, gen)."""


class _Stream:
    """A stream object: its dictionary plus the raw (undecoded) bytes."""

    __slots__ = ("d", "raw")

    def __init__(self, d: dict, raw: bytes):
        self.d = d
        self.raw = raw

    def decoded(self, doc: "_PdfDoc | None" = None) -> bytes:
        return _decode_stream(self.d, self.raw, doc)


def _skip_pdf_ws(data: bytes, i: int) -> int:
    n = len(data)
    while i < n:
        c = data[i]
        if c in _PDF_WS:
            i += 1
        elif c == 0x25:  # % comment to EOL
            j = data.find(b"\n", i)
            i = n if j < 0 else j + 1
        else:
            break
    return i


_RE_NUMBER = re.compile(rb"[+-]?(?:\d+\.\d*|\.\d+|\d+)")
_RE_REF_TAIL = re.compile(rb"[\x00\t\n\x0c\r ]+(\d+)[\x00\t\n\x0c\r ]+R"
                          rb"(?![0-9A-Za-z])")
_RE_OBJ_HEAD = re.compile(rb"(\d+)[\x00\t\n\x0c\r ]+(\d+)"
                          rb"[\x00\t\n\x0c\r ]+obj")


def _parse_pdf_value(data: bytes, i: int, depth: int = 0):
    """Parse one PDF object value at ``i``; returns (value, next index).
    Values: dict, list, _Name, _Ref, bytes (strings), int/float, bool,
    None. Raises ValueError on malformed input."""
    if depth > 64:
        raise ValueError("object nesting too deep")
    i = _skip_pdf_ws(data, i)
    n = len(data)
    if i >= n:
        raise ValueError("EOF in object")
    c = data[i]
    if data.startswith(b"<<", i):
        d: dict = {}
        i += 2
        while True:
            i = _skip_pdf_ws(data, i)
            if data.startswith(b">>", i):
                return d, i + 2
            if i >= n:
                raise ValueError("EOF in dictionary")
            key, i = _parse_pdf_value(data, i, depth + 1)
            if not isinstance(key, _Name):
                raise ValueError("dictionary key is not a name")
            val, i = _parse_pdf_value(data, i, depth + 1)
            d[str(key)] = val
    if c == 0x3C:  # hex string
        return _parse_hex(data, i)
    if c == 0x28:  # literal string
        return _parse_literal(data, i)
    if c == 0x2F:  # name (with #xx escapes)
        j = i + 1
        while j < n and data[j] not in _PDF_DELIMS:
            j += 1
        raw = data[i + 1:j]
        if b"#" in raw:
            raw = re.sub(rb"#([0-9A-Fa-f]{2})",
                         lambda m: bytes((int(m.group(1), 16),)), raw)
        return _Name(raw.decode("latin-1")), j
    if c == 0x5B:  # array
        arr: list = []
        i += 1
        while True:
            i = _skip_pdf_ws(data, i)
            if i < n and data[i] == 0x5D:
                return arr, i + 1
            if i >= n:
                raise ValueError("EOF in array")
            v, i = _parse_pdf_value(data, i, depth + 1)
            arr.append(v)
    for kw, val in ((b"true", True), (b"false", False), (b"null", None)):
        if data.startswith(kw, i) and (i + len(kw) >= n
                                       or data[i + len(kw)] in _PDF_DELIMS):
            return val, i + len(kw)
    m = _RE_NUMBER.match(data, i)
    if m:
        tok = m.group()
        if b"." not in tok:
            m2 = _RE_REF_TAIL.match(data, m.end())
            if m2:  # "<int> <int> R" indirect reference
                return _Ref((int(tok), int(m2.group(1)))), m2.end()
            return int(tok), m.end()
        return float(tok), m.end()
    raise ValueError(f"unparseable PDF object at byte {i}")


def _png_unpredict(data: bytes, columns: int, colors: int = 1,
                   bpc: int = 8) -> bytes:
    """Reverse PNG row predictors 10-15 (each row: filter byte + bytes).
    xref streams from real producers almost always use Up (12)."""
    bpp = max(1, (colors * bpc + 7) // 8)
    rowlen = (columns * colors * bpc + 7) // 8
    if rowlen <= 0:
        raise ValueError("bad predictor columns")
    out = bytearray()
    prev = bytearray(rowlen)
    i = 0
    n = len(data)
    while i < n:
        ft = data[i]
        i += 1
        row = bytearray(data[i:i + rowlen])
        i += rowlen
        if len(row) < rowlen:
            row.extend(bytes(rowlen - len(row)))
        if ft == 1:  # Sub
            for x in range(bpp, rowlen):
                row[x] = (row[x] + row[x - bpp]) & 0xFF
        elif ft == 2:  # Up
            for x in range(rowlen):
                row[x] = (row[x] + prev[x]) & 0xFF
        elif ft == 3:  # Average
            for x in range(rowlen):
                left = row[x - bpp] if x >= bpp else 0
                row[x] = (row[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for x in range(rowlen):
                a = row[x - bpp] if x >= bpp else 0
                b = prev[x]
                cd = prev[x - bpp] if x >= bpp else 0
                p = a + b - cd
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cd)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc
                                                         else cd)
                row[x] = (row[x] + pred) & 0xFF
        elif ft != 0:
            raise ValueError(f"unknown PNG filter type {ft}")
        out += row
        prev = row
    return bytes(out)


def _decode_stream(d: dict, raw: bytes, doc: "_PdfDoc | None" = None) -> bytes:
    """Apply the stream's /Filter chain (FlateDecode only) + /DecodeParms
    predictors. Raises ValueError for unsupported filters."""
    def rv(v):
        return doc.resolve(v) if doc is not None else v

    filters = rv(d.get("Filter"))
    if filters is None:
        return raw
    if not isinstance(filters, list):
        filters = [filters]
    parms = rv(d.get("DecodeParms", d.get("DP")))
    if not isinstance(parms, list):
        parms = [parms] * len(filters)
    data = raw
    for filt, parm in zip(filters, parms):
        fname = str(rv(filt))
        if fname in ("FlateDecode", "Fl"):
            data = zlib.decompress(data)
        elif fname in ("ASCIIHexDecode", "AHx"):
            digits = re.sub(rb"[^0-9A-Fa-f]", b"",
                            data.split(b">", 1)[0])
            if len(digits) % 2:
                digits += b"0"
            data = bytes.fromhex(digits.decode("ascii"))
        else:
            raise ValueError(f"unsupported filter {fname}")
        parm = rv(parm)
        if isinstance(parm, dict):
            pred = int(rv(parm.get("Predictor", 1)) or 1)
            if pred >= 10:
                data = _png_unpredict(
                    data, int(rv(parm.get("Columns", 1)) or 1),
                    int(rv(parm.get("Colors", 1)) or 1),
                    int(rv(parm.get("BitsPerComponent", 8)) or 8))
            elif pred != 1:
                raise ValueError(f"unsupported predictor {pred}")
    return data


class _PdfDoc:
    """Cross-reference-driven object model: follows the startxref chain
    (classic tables, xref streams, hybrid /XRefStm), expands /Type
    /ObjStm members lazily, resolves indirect references with caching."""

    def __init__(self, payload: bytes):
        self.payload = payload
        # objnum -> ("off", byte offset) | ("stm", container objnum, idx)
        self.xref: dict[int, tuple] = {}
        self.trailer: dict = {}
        self._cache: dict[int, object] = {}
        self._objstm_cache: dict[int, tuple] = {}
        self._loading: set[int] = set()
        self._load_chain()

    # -- xref chain --------------------------------------------------------

    def _load_chain(self) -> None:
        data = self.payload
        sx = data.rfind(b"startxref")
        if sx < 0:
            raise ValueError("no startxref")
        m = re.search(rb"\d+", data[sx + 9:sx + 60])
        if not m:
            raise ValueError("bad startxref")
        pos = int(m.group())
        seen: set[int] = set()
        while pos is not None and pos not in seen and 0 <= pos < len(data):
            seen.add(pos)
            pos = self._load_section(pos)

    def _load_section(self, pos: int):
        data = self.payload
        i = _skip_pdf_ws(data, pos)
        if data.startswith(b"xref", i):
            return self._load_classic(i + 4)
        m = _RE_OBJ_HEAD.match(data, i)
        if not m:
            raise ValueError("no xref section at startxref target")
        d, j = _parse_pdf_value(data, m.end())
        if not isinstance(d, dict):
            raise ValueError("xref stream object is not a stream")
        raw, _ = self._stream_body(d, j, allow_indirect_length=False)
        self._load_xref_stream(d, _decode_stream(d, raw))
        for k, v in d.items():
            self.trailer.setdefault(k, v)
        prev = d.get("Prev")
        return int(prev) if isinstance(prev, (int, float)) else None

    def _load_classic(self, i: int):
        data = self.payload
        while True:
            i = _skip_pdf_ws(data, i)
            if data.startswith(b"trailer", i):
                tdict, _ = _parse_pdf_value(data, i + 7)
                if isinstance(tdict, dict):
                    # hybrid-reference file: the /XRefStm section carries
                    # the ObjStm entries the classic table marks free
                    xs = tdict.get("XRefStm")
                    if isinstance(xs, (int, float)):
                        try:
                            self._load_section(int(xs))
                        except ValueError:
                            pass
                    for k, v in tdict.items():
                        self.trailer.setdefault(k, v)
                    prev = tdict.get("Prev")
                    return (int(prev)
                            if isinstance(prev, (int, float)) else None)
                return None
            m = re.match(rb"(\d+)[ \t]+(\d+)", data[i:i + 40])
            if not m:
                return None  # tolerate: stop at garbage
            start, count = int(m.group(1)), int(m.group(2))
            i = _skip_pdf_ws(data, i + m.end())
            for k in range(count):
                ent = data[i:i + 20]
                em = re.match(rb"(\d{10})[ ](\d{5})[ ]([nf])", ent)
                if not em:
                    return None
                if em.group(3) == b"n":
                    self.xref.setdefault(start + k,
                                         ("off", int(em.group(1))))
                i += 20
                # some producers emit 19-byte lines (single EOL byte)
                if data[i - 1:i] not in (b"\n", b"\r", b" "):
                    i -= 1

    def _load_xref_stream(self, d: dict, content: bytes) -> None:
        w = d.get("W")
        if not (isinstance(w, list) and len(w) >= 3):
            raise ValueError("xref stream missing /W")
        w1, w2, w3 = (int(x) for x in w[:3])
        esz = w1 + w2 + w3
        if esz <= 0:
            raise ValueError("bad /W widths")
        size = d.get("Size")
        index = d.get("Index")
        if not isinstance(index, list) or len(index) % 2:
            index = [0, int(size) if isinstance(size, (int, float))
                     else len(content) // esz]
        pos = 0
        for s in range(0, len(index), 2):
            start, count = int(index[s]), int(index[s + 1])
            for k in range(count):
                ent = content[pos:pos + esz]
                pos += esz
                if len(ent) < esz:
                    return
                f1 = (int.from_bytes(ent[:w1], "big") if w1 else 1)
                f2 = int.from_bytes(ent[w1:w1 + w2], "big")
                f3 = int.from_bytes(ent[w1 + w2:esz], "big")
                num = start + k
                if f1 == 1:
                    self.xref.setdefault(num, ("off", f2))
                elif f1 == 2:
                    self.xref.setdefault(num, ("stm", f2, f3))

    # -- objects -----------------------------------------------------------

    def _stream_body(self, d: dict, after_dict: int, *,
                     allow_indirect_length: bool = True):
        """Raw stream bytes following a dict parsed up to ``after_dict``;
        returns (raw, end). Uses /Length (resolving an indirect value
        when permitted); falls back to an ``endstream`` scan."""
        data = self.payload
        i = _skip_pdf_ws(data, after_dict)
        if not data.startswith(b"stream", i):
            raise ValueError("no stream keyword after dictionary")
        i += 6
        if data.startswith(b"\r\n", i):
            i += 2
        elif data[i:i + 1] in (b"\n", b"\r"):
            i += 1
        length = d.get("Length")
        if isinstance(length, _Ref) and allow_indirect_length:
            length = self.resolve(length)
        if isinstance(length, (int, float)):
            end = min(i + int(length), len(data))
            return data[i:end], end
        end = data.find(b"endstream", i)
        if end < 0:
            raise ValueError("unterminated stream")
        raw = data[i:end]
        if raw.endswith(b"\r\n"):
            raw = raw[:-2]
        elif raw.endswith(b"\n"):
            raw = raw[:-1]
        return raw, end

    def obj(self, num: int):
        if num in self._cache:
            return self._cache[num]
        if num in self._loading:  # reference cycle (hostile input)
            return None
        ent = self.xref.get(num)
        if ent is None:
            return None
        self._loading.add(num)
        try:
            if ent[0] == "off":
                val = self._parse_at(ent[1])
            else:
                val = self._objstm_member(ent[1], ent[2])
        except ValueError:
            val = None
        finally:
            self._loading.discard(num)
        self._cache[num] = val
        return val

    def _parse_at(self, off: int):
        data = self.payload
        i = _skip_pdf_ws(data, off)
        m = _RE_OBJ_HEAD.match(data, i)
        if not m:
            raise ValueError("no object header at xref offset")
        val, j = _parse_pdf_value(data, m.end())
        if isinstance(val, dict):
            j2 = _skip_pdf_ws(data, j)
            if data.startswith(b"stream", j2):
                raw, _ = self._stream_body(val, j)
                return _Stream(val, raw)
        return val

    def _objstm_member(self, stm_num: int, idx: int):
        if stm_num not in self._objstm_cache:
            stm = self.obj(stm_num)
            if not isinstance(stm, _Stream):
                raise ValueError("ObjStm container is not a stream")
            content = stm.decoded(self)
            count = int(self.resolve(stm.d.get("N")) or 0)
            first = int(self.resolve(stm.d.get("First")) or 0)
            header = content[:first]
            nums = [int(x) for x in re.findall(rb"\d+", header)[:2 * count]]
            pairs = list(zip(nums[0::2], nums[1::2]))
            self._objstm_cache[stm_num] = (content, first, pairs)
        content, first, pairs = self._objstm_cache[stm_num]
        if idx >= len(pairs):
            raise ValueError("ObjStm index out of range")
        val, _ = _parse_pdf_value(content, first + pairs[idx][1])
        return val

    def resolve(self, v, depth: int = 0):
        while isinstance(v, _Ref) and depth < 32:
            v = self.obj(v[0])
            depth += 1
        return v


class _ToUnicodeCMap:
    """/ToUnicode CMap: codespace ranges + bfchar/bfrange mappings
    (single-target-with-increment and array forms; multi-unit UTF-16BE
    targets incl. surrogate pairs)."""

    def __init__(self, data: bytes):
        self.codespace: list[tuple[int, int, int]] = []  # (nbytes, lo, hi)
        self.single: dict[tuple[int, int], str] = {}
        self.ranges: list[tuple[int, int, int, bytes]] = []
        # hex strings may legally contain whitespace between digits
        hx = rb"<([0-9A-Fa-f\s]*)>"

        def digits(h: bytes) -> bytes:
            return re.sub(rb"\s", b"", h)

        for m in re.finditer(rb"begincodespacerange(.*?)endcodespacerange",
                             data, re.S):
            hexes = [digits(h) for h in re.findall(hx, m.group(1))]
            for lo, hi in zip(hexes[0::2], hexes[1::2]):
                self.codespace.append(((len(lo) + 1) // 2,
                                       int(lo, 16), int(hi, 16)))
        for m in re.finditer(rb"beginbfchar(.*?)endbfchar", data, re.S):
            hexes = [digits(h) for h in re.findall(hx, m.group(1))]
            for src, dst in zip(hexes[0::2], hexes[1::2]):
                self.single[((len(src) + 1) // 2, int(src, 16))] = \
                    self._utf16(dst)
        for m in re.finditer(rb"beginbfrange(.*?)endbfrange", data, re.S):
            body = m.group(1)
            i = 0
            pair = re.compile(rb"\s*" + hx + rb"\s*" + hx + rb"\s*")
            arr = re.compile(rb"\[((?:\s*" + hx + rb")*)\s*\]")
            one = re.compile(hx)
            while True:
                pm = pair.match(body, i)
                if not pm:
                    break
                lo_d, hi_d = digits(pm.group(1)), digits(pm.group(2))
                nb = (len(lo_d) + 1) // 2
                lo, hi = int(lo_d, 16), int(hi_d, 16)
                i = pm.end()
                am = arr.match(body, i)
                if am:  # array form: one target per code
                    dsts = re.findall(hx, am.group(1))
                    for k, dh in enumerate(dsts):
                        self.single[(nb, lo + k)] = self._utf16(digits(dh))
                    i = am.end()
                else:
                    dm = one.match(body, i)
                    if not dm:
                        break
                    d = digits(dm.group(1))
                    if len(d) % 2:
                        d += b"0"
                    self.ranges.append((nb, lo, hi,
                                        bytes.fromhex(d.decode("ascii"))))
                    i = dm.end()
        self._lens = sorted({nb for nb, _, _ in self.codespace}) or [2]

    @staticmethod
    def _utf16(hexdigits: bytes) -> str:
        h = hexdigits.decode("ascii")
        if len(h) % 2:
            h += "0"
        return bytes.fromhex(h).decode("utf-16-be", errors="replace")

    def _lookup(self, nb: int, code: int) -> str:
        v = self.single.get((nb, code))
        if v is not None:
            return v
        for rnb, lo, hi, dst in self.ranges:
            if rnb == nb and lo <= code <= hi:
                if len(dst) < 2:
                    return "�"
                # increment applies to the LAST UTF-16 code unit
                last = (int.from_bytes(dst[-2:], "big") + code - lo) & 0xFFFF
                return (dst[:-2] + last.to_bytes(2, "big")).decode(
                    "utf-16-be", errors="replace")
        return "�"

    def decode(self, s: bytes) -> str:
        out: list[str] = []
        i, n = 0, len(s)
        while i < n:
            hit = False
            for nb in self._lens:
                if i + nb > n:
                    continue
                code = int.from_bytes(s[i:i + nb], "big")
                if any(lo <= code <= hi for rnb, lo, hi in self.codespace
                       if rnb == nb):
                    out.append(self._lookup(nb, code))
                    i += nb
                    hit = True
                    break
            if not hit:  # outside every codespace: consume shortest unit
                nb = min(self._lens[0], n - i)
                out.append(self._lookup(nb,
                                        int.from_bytes(s[i:i + nb], "big")))
                i += nb
        return "".join(out)


def _is_op(data: bytes, i: int, tok: bytes) -> bool:
    """True when ``tok`` at ``i`` is a whole operator token (delimiter or
    boundary on both sides)."""
    if not data.startswith(tok, i):
        return False
    j = i + len(tok)
    return ((i == 0 or data[i - 1] in _PDF_DELIMS)
            and (j >= len(data) or data[j] in _PDF_DELIMS))


def _text_from_content(data: bytes, fonts: dict | None = None) -> list[bytes]:
    """Scan one content stream for text-showing operators (tokenized:
    names are consumed whole and operator matches require token
    boundaries, so identifiers containing operator bytes can't flush or
    inject text). ``fonts`` maps resource names to ToUnicode CMaps:
    ``Tf`` tracks the active font, and strings shown under a CMapped
    font decode CID codes to Unicode at show time."""
    parts: list[bytes] = []
    pending: list[bytes] = []  # strings awaiting their operator
    last_name = None           # most recent /Name token (Tf operand)
    cmap = None                # active font's ToUnicode CMap (or None)
    i = 0
    n = len(data)

    def show() -> None:
        if cmap is not None:
            parts.extend(cmap.decode(s).encode("utf-8") for s in pending)
        else:
            parts.extend(pending)
        pending.clear()

    while i < n:
        c = data[i]
        if c == 0x28:  # (
            s, i = _parse_literal(data, i)
            pending.append(s)
        elif data.startswith(b"<<", i):  # inline dict (BDC/DP props): skip
            i = _skip_dict(data, i)
        elif c == 0x3C:  # < hex string
            s, i = _parse_hex(data, i)
            pending.append(s)
        elif c == 0x5B:  # [ TJ array: strings inside collect as one run
            i += 1
        elif c == 0x2F:  # / name token: consume whole (e.g. /Tj0, /TD1)
            j = i + 1
            while j < n and data[j] not in _PDF_DELIMS:
                j += 1
            last_name = data[i + 1:j].decode("latin-1")
            i = j
        elif _is_op(data, i, b"Tf"):
            cmap = fonts.get(last_name) if fonts else None
            i += 2
        elif _is_op(data, i, b"Tj") or _is_op(data, i, b"TJ") \
                or _is_op(data, i, b"'") or _is_op(data, i, b'"'):
            if data[i] in b"'\"":
                parts.append(b"\n")
            show()
            i += 2 if data[i] in b"T" else 1
        elif _is_op(data, i, b"T*") or _is_op(data, i, b"TD") \
                or _is_op(data, i, b"Td"):
            # line advance: only meaningful once text exists
            if parts:
                parts.append(b"\n")
            i += 2
        else:
            i += 1
    return parts


def _collect_pages(doc: _PdfDoc) -> list[tuple[dict, dict | None]]:
    """Walk the /Root -> /Pages tree; returns (page dict, effective
    /Resources) pairs honoring Resources inheritance. Cycle-guarded."""
    root = doc.resolve(doc.trailer.get("Root"))
    if not isinstance(root, dict):
        return []
    pages: list[tuple[dict, dict | None]] = []
    seen: set[int] = set()
    # depth-first, kids in order; a stack, not a recursive closure, whose
    # self-reference would keep the whole document alive until a collection
    stack = [(root.get("Pages"), root.get("Resources"), 0)]
    while stack:
        node, inherited_res, depth = stack.pop()
        if depth > 64 or len(pages) > 10_000:
            continue
        if isinstance(node, _Ref):
            if node[0] in seen:
                continue
            seen.add(node[0])
        node = doc.resolve(node)
        if not isinstance(node, dict):
            continue
        res = node.get("Resources", inherited_res)
        kids = doc.resolve(node.get("Kids"))
        if isinstance(kids, list):
            stack.extend((kid, res, depth + 1) for kid in reversed(kids))
        elif str(node.get("Type")) == "Page" or "Contents" in node:
            pages.append((node, res))
    return pages


def _page_fonts(doc: _PdfDoc, res) -> dict:
    """Resource-name -> ToUnicode CMap for every font that carries one."""
    fonts: dict = {}
    res = doc.resolve(res)
    if not isinstance(res, dict):
        return fonts
    fdict = doc.resolve(res.get("Font"))
    if not isinstance(fdict, dict):
        return fonts
    for fname, fref in fdict.items():
        f = doc.resolve(fref)
        if isinstance(f, dict) and "ToUnicode" in f:
            tu = doc.resolve(f["ToUnicode"])
            if isinstance(tu, _Stream):
                try:
                    fonts[fname] = _ToUnicodeCMap(tu.decoded(doc))
                except (ValueError, zlib.error):
                    pass
    return fonts


def _page_content(doc: _PdfDoc, page: dict) -> bytes:
    cont = doc.resolve(page.get("Contents"))
    items = cont if isinstance(cont, list) else [cont]
    datas = []
    for it in items:
        st = doc.resolve(it)
        if isinstance(st, _Stream):
            try:
                datas.append(st.decoded(doc))
            except (ValueError, zlib.error):
                pass  # unsupported filter / corrupt: skip this stream
    return b"\n".join(datas)


def extract_pdf_text(payload: bytes) -> str:
    """Extract the text content of a PDF. Raises ``ValueError`` on
    encrypted documents; silently skips streams whose filters aren't
    FlateDecode/none (no codecs in this container).

    Primary path: the cross-reference object model (classic xref tables,
    xref streams, ObjStm) walking the page tree, with per-font ToUnicode
    CMap decoding. When the xref machinery is broken/absent (truncated or
    hostile crawl documents), degrades to the raw stream scan that needs
    no structure at all."""
    doc = None
    try:
        doc = _PdfDoc(payload)
    except (ValueError, zlib.error, RecursionError):
        doc = None
    if doc is not None:
        if "Encrypt" in doc.trailer:
            raise ValueError("encrypted PDF (unsupported)")
        try:
            pages = _collect_pages(doc)
        except (ValueError, zlib.error, RecursionError):
            pages = []
        if pages:
            parts: list[bytes] = []
            for page, res in pages:
                fonts = _page_fonts(doc, res)
                parts.extend(_text_from_content(_page_content(doc, page),
                                                fonts))
            return b"".join(parts).decode("utf-8", errors="replace")

    # ---- raw-scan fallback (no usable xref) -------------------------------
    # encryption sniff scoped to the trailer dictionary (the only place
    # /Encrypt is structural) — document TEXT may legally contain the
    # literal bytes '/Encrypt', which must not trigger a false refusal.
    # PDF 1.5+ cross-reference-stream files have NO 'trailer' keyword (the
    # trailer dict lives in the xref stream object), so in that case follow
    # startxref to the object and sniff its dictionary head instead.
    tpos = payload.rfind(b"trailer")
    if tpos >= 0:
        if b"/Encrypt" in payload[tpos:tpos + 2048]:
            raise ValueError("encrypted PDF (unsupported)")
    else:
        sx = payload.rfind(b"startxref")
        if sx >= 0:
            m = re.search(rb"\d+", payload[sx + 9:sx + 40])
            if m and int(m.group()) < len(payload):
                window = payload[int(m.group()):int(m.group()) + 2048]
                send = window.find(b"stream")
                if b"/Encrypt" in (window[:send] if send >= 0 else window):
                    raise ValueError("encrypted PDF (unsupported)")
    parts = []
    for head, raw in _iter_streams(payload):
        if b"/FlateDecode" in head:
            try:
                raw = zlib.decompress(raw)
            except zlib.error:
                continue
        elif b"/Filter" in head:
            continue  # unsupported filter (DCT/LZW/...)
        if b"BT" not in raw:
            continue
        parts.extend(_text_from_content(raw))
    return b"".join(parts).decode("utf-8", errors="replace")


# --------------------------------------------------------------------------
# Spark surface
# --------------------------------------------------------------------------

def _pdf_row(raw) -> list[tuple]:
    """(text, n_bytes, error) of one document: an undecodable document
    (encrypted, corrupt) degrades to a NULL text with the error recorded,
    never a failed task (crawled corpora always contain hostile ones)."""
    raw = bytes(raw or b"")
    try:
        text, err = extract_pdf_text(raw), None
    except Exception as e:  # noqa: BLE001 - per-row degradation
        text, err = None, f"{type(e).__name__}: {e}"
    return [(text, len(raw), err)]


def make_pdf_extract_kernel():
    """mapInPandas kernel: (doc_id, pdf binary) batches ->
    (doc_id, text, n_bytes, error) — the PDF leg of the extraction
    pipeline, one row per document (see ``_pdf_row``)."""
    from pyspark.sql.types import (IntegerType, LongType, StringType,
                                   StructField, StructType)

    from .batches import row_kernel
    schema = StructType([StructField("doc_id", LongType()),
                         StructField("text", StringType()),
                         StructField("n_bytes", IntegerType()),
                         StructField("error", StringType())])
    return row_kernel(schema, _pdf_row, ("pdf",), ("doc_id",))
