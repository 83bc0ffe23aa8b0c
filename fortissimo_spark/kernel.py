"""Arrow-batched parse/extract kernels for ``mapInPandas``.

Design (SURVEY.md §4.2): the JVM hands the Python worker Arrow record
batches; per document, the byte→str decode, markup scans, and entity decode
all run in C (codecs, ``str.find``, ``re``), and the Python-level state
machine steps only over markup boundaries (O(#tags), ~3-5% of bytes). No
per-character Python anywhere.

Page-kernel contract: every kernel that parses pages (the 15 here, graph's
outlinks, robots' sitemap/feed/feed-discovery kernels) is built by
``_page_kernel`` from an output schema and a per-page row function.
``_page_kernel`` is a thin adapter on the row-kernel loop
(``batches.row_kernel``, whose module docstring holds the batch contract,
the GC pause, the zip-finder drop and the integer-column rule): it reads a
``None`` payload as ``b""``, runs one decode front end (``decode_parse``,
below), and carries the key column and any ``warc_ts``/``lang`` from the
input page onto each of its output rows.  A kernel is its row function
plus its schema.

The extract kernel takes one native call per page: its row
(``_extract_page``) decodes the page, normalizes its line breaks as the
parse does and hands the text to the core's ``page()``, which scans it,
repairs its tables, counts its elements, extracts it by density and
counts its lines and tokens in C, building no ``DocBuilder``,
``ParseResult``, ``ExtractResult`` or record.  ``page()`` takes the same
charset retry hook as ``parse()`` (``_charset_retry``): when the hook
stops the scan, the row calls ``page()`` once more on the re-decoded text,
as ``decode_parse`` parses it again.  The only page left to the Python
path (``decode_parse`` + ``extract``, which ``process_document`` always
takes) is one with a token the core hands off.
``tests/test_extract_page.py`` holds the one call to ``process_document``
field for field.

Encoding policy (mirrors the reference CLI's retry loop, cli.ts:32-56, done
in-kernel in a single pass):

1. byte-level BOM / null-pattern sniff (html-parser.ts:306-324 equivalent,
   but on raw bytes — strictly better than sniffing a mis-decoded string);
2. UTF-8 strict attempt, falling back to a ``<meta charset>`` prefix scan,
   then UTF-8 with replacement;
3. while parsing, if the document *declares* a different charset that we
   can decode, and the re-decoded text differs, the parse stops at the end
   of the declaring ``<meta>`` (parse's ``on_charset`` hook, the reference's
   ``encoding`` callback, leaves ``ParseResult.stopped`` set) and the
   re-decoded text is parsed once (max 2 tries, like the CLI).  A page
   whose encoding came from its bytes (a BOM or null-byte pattern) is
   parsed once, and its meta charset is only reported.

Every page kernel sees the same decoded text for a page, so signals from
different kernels over one page agree.
"""

from __future__ import annotations

import codecs
import hashlib
import json
import re
from functools import lru_cache

from pyspark.sql.types import (
    BooleanType, IntegerType, LongType, StringType, StructField, StructType,
    TimestampType,
)

from .batches import row_kernel
from .chars import unescape_entities
from .dom import (
    CDATA, ELEMENT, N_ATTR_NAMES, N_ATTR_VALUES, N_CHILDREN, N_CLOSURE,
    N_CONTENT, N_KIND, N_PARENT, N_POSS_ENT, N_SRC_END, N_SRC_START,
    N_SYNTHETIC, N_TAG_LC, TEXT,
)
from .extract import (
    _MAX_LINK_DENSITY, _MIN_BLOCK_CHARS, BOOST_TAGS, DROP_TAGS, INLINE_TAGS,
    extract,
)
from .parser import _native, _normalize_eols, parse
from .schema import EXTRACT_SCHEMA, NODES_SCHEMA

__all__ = ["decode_page_bytes", "process_document", "make_extract_kernel",
           "make_nodes_kernel"]

_RE_META_CHARSET = re.compile(
    rb"""<meta[^>]+charset[ \t\n\f\r]*=[ \t\n\f\r]*["']?([\w-]+)""", re.I)

# token_count contract: the number of \S+ runs.  str.split() splits on
# exactly the same whitespace class (verified: re's \s and str.isspace
# agree on every codepoint), and is ~4x faster than findall; the native
# core's token_count counts the same runs without building the list.
_token_count = (_native.token_count if _native is not None
                else lambda text: len(text.split()))

# the extract kernel's one-call row (None: every page takes decode_parse
# and extract)
_NATIVE_PAGE = _native.page if _native is not None else None


@lru_cache(maxsize=512)
def _codec_name(name: str) -> str | None:
    try:
        return codecs.lookup(name).name
    except (LookupError, TypeError):
        return None


# the bytes a BOM or null-byte pattern can start with
_PATTERN_FIRST_BYTES = frozenset(b"\x00\xef\xfe\xff")


def detect_bom_encoding(raw: bytes) -> str | None:
    """Byte-level equivalent of checkEncoding (html-parser.ts:306-324)."""
    # every pattern below starts with one of _PATTERN_FIRST_BYTES or has
    # a 0x00 second byte
    if len(raw) > 1 and raw[0] not in _PATTERN_FIRST_BYTES and raw[1]:
        return None
    if raw[:3] == b"\xef\xbb\xbf":
        return "utf-8-sig"
    if raw[:4] == b"\x00\x00\xfe\xff":
        return "utf-32-be"
    if raw[:4] == b"\xff\xfe\x00\x00":
        return "utf-32-le"
    if len(raw) >= 8:
        if raw[0] == 0 and raw[1] == 0 and raw[2] == 0 and raw[3] != 0 and \
                raw[4] == 0 and raw[5] == 0 and raw[6] == 0 and raw[7] != 0:
            return "utf-32-be"
        if raw[0] != 0 and raw[1] == 0 and raw[2] == 0 and raw[3] == 0 and \
                raw[4] != 0 and raw[5] == 0 and raw[6] == 0 and raw[7] == 0:
            return "utf-32-le"
    if raw[:2] == b"\xfe\xff":
        return "utf-16-be"
    if raw[:2] == b"\xff\xfe":
        return "utf-16-le"
    if len(raw) >= 4:
        if raw[0] == 0 and raw[1] != 0 and raw[2] == 0 and raw[3] != 0:
            return "utf-16-be"
        if raw[0] != 0 and raw[1] == 0 and raw[2] != 0 and raw[3] == 0:
            return "utf-16-le"
    return None


def decode_page_bytes(raw: bytes) -> tuple[str, str, bool]:
    """Decode page bytes -> (text, used_codec_name, pattern_detected)."""
    bom = detect_bom_encoding(raw)
    if bom:
        try:
            return raw.decode(bom, errors="replace").lstrip("﻿"), bom, True
        except LookupError:  # pragma: no cover
            pass
    try:
        return raw.decode("utf-8"), "utf-8", False
    except UnicodeDecodeError:
        m = _RE_META_CHARSET.search(raw[:2048])
        if m:
            name = _codec_name(m.group(1).decode("ascii", errors="replace"))
            if name and name not in ("utf-8",):
                try:
                    return raw.decode(name, errors="replace"), name, False
                except LookupError:  # pragma: no cover
                    pass
        return raw.decode("utf-8", errors="replace"), "utf-8", False


def _charset_retry(raw: bytes, text: str, used: str):
    """The charset retry of ``raw``, decoded as ``text`` with ``used``:
    returns ``(on_charset, retry)``, the hook that ``parse()`` and
    ``page()`` take, and a list it fills with ``[declared, retext]`` when
    the declared charset is a codec other than ``used`` that decodes
    ``raw`` to another text (the hook then answers true and the scan
    stops after the declaring tag)."""
    retry = []

    def on_charset(declared: str) -> bool:
        codec = _codec_name(declared)
        if not codec or codec == _codec_name(used):
            return False
        try:
            retext = raw.decode(codec, errors="replace")
        except LookupError:  # a codec that is not a text encoding (base64)
            return False
        if retext == text:
            return False
        retry[:] = declared, retext
        return True

    return on_charset, retry


def decode_parse(raw: bytes):
    """Shared decode -> parse -> (maybe re-decode retry) front end:
    returns (result, used_encoding, declared_charset, retried).

    The first parse stops at the meta tag that declares a charset needing
    a retry (``on_charset``, see the module docstring), so a retried page
    is parsed once and a bit, not twice."""
    text, used, pattern_detected = decode_page_bytes(raw)
    on_charset, retry = _charset_retry(raw, text, used)
    # a byte-pattern detection is authoritative over a (stale) meta charset
    result = parse(text, positions=False,
                   on_charset=None if pattern_detected else on_charset)
    if not result.stopped:
        return result, used, result.charset, False
    # single in-kernel retry, like the reference CLI (cli.ts:32-56)
    declared, retext = retry
    return (parse(retext, positions=False), _codec_name(declared), declared,
            True)


# input columns a page kernel copies onto every output row of the page
_CARRIED = ("warc_ts", "lang")


def _page_kernel(schema: StructType, rows, key: str = "url",
                 payload: str = "html"):
    """The page-kernel adapter (see the module docstring).  ``rows(raw,
    parsed)`` gets one page's bytes and its ``decode_parse`` result and
    returns an iterable of row tuples: the schema's fields in schema
    order, without ``key`` and the carried columns."""
    def page(raw):
        raw = bytes(raw) if raw is not None else b""
        return rows(raw, decode_parse(raw))

    return _row_kernel(schema, page, key, payload)


def _row_kernel(schema: StructType, page, key: str, payload: str):
    """``row_kernel`` over the ``payload`` column, carrying ``key`` and
    the ``_CARRIED`` columns."""
    return row_kernel(schema, page, (payload,),
                      [n for n in schema.fieldNames()
                       if n == key or n in _CARRIED])


def _struct(**fields) -> StructType:
    return StructType([StructField(n, t) for n, t in fields.items()])


_S, _I, _L, _B = StringType(), IntegerType(), LongType(), BooleanType()

# the per-document fields of process_document and the extract kernel
_DOC_FIELDS = tuple(n for n in EXTRACT_SCHEMA.fieldNames()
                    if n != "url" and n not in _CARRIED)


def _document_fields(raw: bytes, parsed, strip: str,
                     verify_roundtrip: bool) -> tuple:
    """The _DOC_FIELDS values of one page, in EXTRACT_SCHEMA order."""
    result, used, declared, retried = parsed
    ext = extract(result.dom, strip)
    text = ext.text
    return (text, ext.starts, ext.ends,
            used, declared, retried, result.errors, result.unclosed_tags,
            result.implicitly_closed_tags, ext.node_count,
            ext.text_node_count, result.characters, result.lines,
            len(text), _token_count(text), len(raw),
            result.to_string() == result.text if verify_roundtrip else None)


def process_document(raw: bytes, strip: str = "density", *,
                     verify_roundtrip: bool = False) -> dict:
    """Full per-document pipeline: decode -> parse -> (maybe re-decode) -> extract."""
    parsed = decode_parse(raw)
    doc = dict(zip(_DOC_FIELDS,
                   _document_fields(raw, parsed, strip, verify_roundtrip)))
    doc["_result"] = parsed[0]
    return doc


def _extract_page(raw: bytes, strip: str, verify_roundtrip: bool) -> tuple:
    """The extract kernel's row for one page: ``process_document``'s
    _DOC_FIELDS values, in EXTRACT_SCHEMA order.

    With ``strip="density"`` and no round-trip check the decoded page goes
    to the native core's ``page()`` (read from ``_NATIVE_PAGE`` on every
    call), which parses and extracts it in one call and builds no
    ``DocBuilder``, result object or record; a page whose charset hook
    stopped the scan takes a second call on the re-decoded text.  A page
    with a token the core hands off and every other mode take
    ``decode_parse`` and ``extract``, as ``process_document`` does."""
    native = (_NATIVE_PAGE if strip == "density" and not verify_roundtrip
              else None)
    if native is not None:
        text, used, pattern_detected = decode_page_bytes(raw)
        on_charset, retry = _charset_retry(raw, text, used)
        got = native(_normalize_eols(text),
                     None if pattern_detected else on_charset, DROP_TAGS,
                     INLINE_TAGS, BOOST_TAGS, _MIN_BLOCK_CHARS,
                     _MAX_LINK_DENSITY, unescape_entities)
        retried = bool(retry)
        if retried:
            # decode_parse's second parse
            declared, text = retry
            used = _codec_name(declared)
            got = native(_normalize_eols(text), None, DROP_TAGS, INLINE_TAGS,
                         BOOST_TAGS, _MIN_BLOCK_CHARS, _MAX_LINK_DENSITY,
                         unescape_entities)
        if got is not None:
            (out, starts, ends, charset, errors, unclosed, implicitly, nodes,
             text_nodes, lines, tokens) = got
            return (out, starts, ends, used,
                    declared if retried else charset, retried, errors,
                    unclosed, implicitly, nodes, text_nodes, len(text), lines,
                    len(out), tokens, len(raw), None)
    return _document_fields(raw, decode_parse(raw), strip, verify_roundtrip)


def make_extract_kernel(strip: str = "density", verify_roundtrip: bool = False):
    """Build a mapInPandas kernel: pages batches -> EXTRACT_SCHEMA batches
    (one ``_extract_page`` row per page)."""
    def page(raw):
        return (_extract_page(bytes(raw) if raw is not None else b"", strip,
                              verify_roundtrip),)

    return _row_kernel(EXTRACT_SCHEMA, page, "url", "html")


def make_format_kernel(format_options: dict | None = None):
    """mapInPandas kernel: pages batches -> (url, formatted_html) — the
    document-parallel pretty-printer (formatter.ts's role at corpus scale)."""
    from .formatter import FormatOptions, format_html

    def rows(raw, parsed):
        b = parsed[0].dom
        format_html(b, FormatOptions(**(format_options or {})))
        return ((b.serialize(0),),)

    return _page_kernel(_struct(url=_S, formatted_html=_S), rows)


def make_stylize_kernel(style_options: dict | None = None):
    """mapInPandas kernel: pages batches -> (url, stylized_html) — the
    syntax-highlighting serializer, document-parallel."""
    from .stylizer import StyleOptions, stylize_html

    def rows(raw, parsed):
        options = StyleOptions(**(style_options or {}))
        return ((stylize_html(parsed[0].dom, 0, options),),)

    return _page_kernel(_struct(url=_S, stylized_html=_S), rows)


def make_events_kernel():
    """mapInPandas kernel: pages batches -> per-document SAX event stats
    (url, n_events, n_text_events, n_tag_events, reconstituted_ok) — the
    document-parallel form of the reference's callback API (events.py);
    ``reconstituted_ok`` asserts the byte-identity contract per page."""
    from .events import parse_events

    def rows(raw, parsed):
        result = parsed[0]
        n = n_text = n_tag = 0
        parts = []
        for ev in parse_events(result):
            n += 1
            if ev.kind == "text":
                n_text += 1
            elif ev.kind == "start-tag-start":
                n_tag += 1
            parts.append(ev.src)
        return ((n, n_text, n_tag, "".join(parts) == result.text),)

    return _page_kernel(
        _struct(url=_S, n_events=_L, n_text_events=_L, n_tag_events=_L,
                reconstituted_ok=_B), rows)


def make_selector_kernel():
    """mapInPandas kernel: pages batches -> per-document selector stats
    (url, title_text, n_links, n_main_paragraphs) — the distributed form of
    the querySelector/textContent surface (dom.ts:436-499 parity ops)."""

    def rows(raw, parsed):
        b = parsed[0].dom
        title = b.query_selector(0, "title")
        main = b.query_selector(0, "main")
        return ((b.text_content(title) if title is not None else None,
                 len(b.query_selector_all(0, "a")),
                 len(b.query_selector_all(main, "p"))
                 if main is not None else 0),)

    return _page_kernel(
        _struct(url=_S, title_text=_S, n_links=_I, n_main_paragraphs=_I),
        rows)


def _attrs_ci(builder, node: int) -> dict[str, str]:
    """First-occurrence-wins, case-insensitive attribute map — crawler
    metadata semantics; the DOM's exact-case get_attr (valuesLookup
    parity, dom.ts:226) is deliberately NOT reused here."""
    nd = builder.nodes[node]
    out: dict[str, str] = {}
    for an, av in zip(nd[N_ATTR_NAMES], nd[N_ATTR_VALUES]):
        a = an.lower()
        if a not in out:
            out[a] = av or ""
    return out


def _robots_from_dom(b) -> tuple[bool, bool, int]:
    """(noindex, nofollow, n_robots_meta) from one parsed DOM."""
    tokens: set[str] = set()
    n_meta = 0
    for m in b.query_selector_all(0, "meta"):
        at = _attrs_ci(b, m)
        name = at.get("name", "").strip().lower()
        if name in ("robots", "googlebot"):
            n_meta += 1
            tokens |= {t.strip().lower()
                       for t in at.get("content", "").split(",")}
    return ("noindex" in tokens or "none" in tokens,
            "nofollow" in tokens or "none" in tokens, n_meta)


def _meta_from_dom(b) -> tuple:
    """(title_text, first_h1, canonical, description, og_title) from one
    DOM."""
    title = b.query_selector(0, "title")
    h1 = b.query_selector(0, "h1")
    canonical = description = og_title = None
    for ln in b.query_selector_all(0, "link"):
        at = _attrs_ci(b, ln)
        rel = at.get("rel", "").strip().lower().split()
        if "canonical" in rel and canonical is None:
            canonical = at.get("href")
    for m in b.query_selector_all(0, "meta"):
        at = _attrs_ci(b, m)
        name = at.get("name", "").strip().lower()
        prop = at.get("property", "").strip().lower()
        if name == "description" and description is None:
            description = at.get("content", "")
        elif prop == "og:title" and og_title is None:
            og_title = at.get("content", "")
    return (b.text_content(title) if title is not None else None,
            b.text_content(h1) if h1 is not None else None,
            canonical, description, og_title)


_META_SCHEMA = _struct(url=_S, title_text=_S, first_h1=_S, canonical=_S,
                       description=_S, og_title=_S)
_ANALYSIS_SCHEMA = _struct(
    url=_S, warc_ts=TimestampType(), text=_S, text_len=_L, token_count=_L,
    errors=_L, noindex=_B, nofollow=_B, title_text=_S, first_h1=_S,
    canonical=_S, description=_S, og_title=_S, n_links=_I)


def make_analysis_kernel(strip: str = "density"):
    """ONE-PASS page analysis: decode + parse ONCE per page, then emit
    every per-page signal the curation pipeline wants — extracted text
    + token count, meta-robots compliance flags, head metadata, and the
    outlink count. Running the single-purpose kernels separately parses
    each page once PER OPERATOR; at 10^12 documents the parse is the
    dominant cost, so a pipeline consuming several signals should take
    this kernel and project."""

    def rows(raw, parsed):
        result = parsed[0]
        b = result.dom
        text = extract(b, strip).text
        noindex, nofollow, _ = _robots_from_dom(b)
        return ((text, len(text), _token_count(text), result.errors,
                 noindex, nofollow, *_meta_from_dom(b),
                 len(b.query_selector_all(0, "a"))),)

    return _page_kernel(_ANALYSIS_SCHEMA, rows)


def page_analysis(pages, strip: str = "density") -> "DataFrame":
    """One decode+parse per page -> every per-page signal (see
    make_analysis_kernel)."""
    cols = ["url", "html"] + (["warc_ts"] if "warc_ts" in pages.columns
                              else [])
    return (pages.select(*cols)
            .mapInPandas(make_analysis_kernel(strip), _ANALYSIS_SCHEMA))


def make_page_meta_kernel():
    """mapInPandas kernel: pages batches -> structured head metadata
    (title, first h1, rel=canonical href, meta description, og:title) —
    the per-page metadata record a crawl index stores next to the
    extracted text. Missing fields are NULL."""
    return _page_kernel(_META_SCHEMA,
                        lambda raw, parsed: (_meta_from_dom(parsed[0].dom),))


def page_metadata(pages) -> "DataFrame":
    """(url, title_text, first_h1, canonical, description, og_title) for
    every page — the crawl-index metadata record."""
    return (pages.select("url", "html")
            .mapInPandas(make_page_meta_kernel(), _META_SCHEMA))


_RE_SPAN = re.compile(r"[\t\n\f\r ]*\+?([0-9]+)")
# the HTML standard's clamps for a cell's spans
_MAX_COLSPAN, _MAX_ROWSPAN = 1_000, 65_534


def _tables_from_dom(b) -> list[tuple]:
    """All table cells of one parsed DOM, in document order:
    (table_idx, caption, row_idx, col_idx, is_header, rowspan, colspan,
    cell). Rows/cells attach to their NEAREST enclosing table/tr (the
    first caption wins), so nested tables don't double-count, and the
    DOM's table repair (synthetic tr for stray cells, dom.py:458) means
    even missing-markup tables come out row-shaped. Cell text is
    whitespace-collapsed text_content. Spans follow the HTML rules for
    non-negative integers ('3abc' is 3, '2.5' is 2); no digits or below 1
    reads 1, and above the HTML limit (colspan 1,000, rowspan 65,534)
    reads the limit, however many digits (browser behavior)."""
    nodes = b.nodes

    def span(v, limit: int) -> int:
        m = _RE_SPAN.match(v) if v else None
        if m is None:
            return 1
        digits = m.group(1).lstrip("0")
        if len(digits) > 9:  # above either limit, and int() may refuse it
            return limit
        return min(max(int(digits or 0), 1), limit)

    # a pre-order walk carrying the innermost table and tr (its cell list);
    # tables[0] takes the rows and captions outside any table, and is dropped
    tables: list[list] = [[None, []]]  # [caption, rows]; a row is its cells
    stack = [(0, 0, [])]
    while stack:
        node, t, r = stack.pop()
        nd = nodes[node]
        children = nd[N_CHILDREN]
        if children is None:  # a leaf
            continue
        tag = nd[N_TAG_LC]
        if tag == "table":
            t = len(tables)
            tables.append([None, []])
        elif tag == "caption" and tables[t][0] is None:
            tables[t][0] = " ".join(b.text_content(node).split())
        elif tag == "tr":
            r = []
            tables[t][1].append(r)
        elif tag == "td" or tag == "th":
            r.append(node)
        stack += [(c, t, r) for c in reversed(children)]
    out: list[tuple] = []
    for t_i, (caption, rows) in enumerate(tables[1:]):
        for r_i, cells in enumerate(rows):
            for c_i, c in enumerate(sorted(cells)):
                at = _attrs_ci(b, c)
                out.append((t_i, caption, r_i, c_i,
                            nodes[c][N_TAG_LC] == "th",
                            span(at.get("rowspan"), _MAX_ROWSPAN),
                            span(at.get("colspan"), _MAX_COLSPAN),
                            " ".join(b.text_content(c).split())))
    return out


_TABLES_SCHEMA = _struct(url=_S, table_idx=_I, caption=_S, row_idx=_I,
                         col_idx=_I, is_header=_B, rowspan=_I, colspan=_I,
                         cell=_S)


def make_tables_kernel():
    """mapInPandas kernel: pages batches -> one row per table CELL
    (structured-table extraction — the training-data path that turns
    web tables into relational records)."""
    return _page_kernel(_TABLES_SCHEMA,
                        lambda raw, parsed: _tables_from_dom(parsed[0].dom))


def extract_tables(pages) -> "DataFrame":
    """(url, table_idx, caption, row_idx, col_idx, is_header, rowspan,
    colspan, cell) for every table cell on every page — HTML tables as
    relational records, through the same forgiving parse (+ table
    repair) as the text extraction. Pure map over pages: no shuffle;
    output fan-out is bounded by page size."""
    return (pages.select("url", "html")
            .mapInPandas(make_tables_kernel(), _TABLES_SCHEMA))


_HEADING_TAGS = frozenset(["h1", "h2", "h3", "h4", "h5", "h6"])
_SECTION_SKIP_TAGS = frozenset(["script", "style", "template", "head",
                                "title", "noscript"])


def _sections_from_dom(b) -> list[tuple]:
    """Heading-outline segmentation of one parsed DOM: document-order
    (section_idx, level, heading, text) rows — section 0 is the
    preamble before any heading (level 0, NULL heading; emitted only
    when it has text), and each h1-h6 opens a new section holding the
    whitespace-collapsed text up to the next heading. Text inside
    script/style/head containers is excluded; node indices are parse
    order, so one linear scan with a parent-chain class check per
    text/heading node gives document order without re-walking
    subtrees."""
    nodes = b.nodes

    def blocked(node: int, *, in_heading_ok: bool) -> bool:
        p = nodes[node][N_PARENT]
        while p >= 0:
            nd = nodes[p]
            if nd[N_KIND] == ELEMENT:
                t = nd[N_TAG_LC]
                if t in _SECTION_SKIP_TAGS:
                    return True
                if not in_heading_ok and t in _HEADING_TAGS:
                    return True
            p = nd[N_PARENT]
        return False

    sections: list[dict] = [{"level": 0, "heading": None, "parts": []}]
    for i in range(1, len(nodes)):
        nd = nodes[i]
        k = nd[N_KIND]
        if k == ELEMENT and nd[N_TAG_LC] in _HEADING_TAGS:
            if blocked(i, in_heading_ok=False):
                continue
            sections.append({
                "level": int(nd[N_TAG_LC][1]),
                "heading": " ".join(b.text_content(i).split()),
                "parts": []})
        elif k == TEXT or k == CDATA:
            if blocked(i, in_heading_ok=False):
                continue
            c = nd[N_CONTENT]
            if k == TEXT and nd[N_POSS_ENT] and "&" in c:
                c = unescape_entities(c)
            sections[-1]["parts"].append(c)
    out = []
    idx = 0
    for s in sections:
        # parts join on a space: adjacent minified blocks (</p><p>) must
        # not weld words; the collapse then normalizes all whitespace
        text = " ".join(" ".join(s["parts"]).split())
        if s["level"] == 0 and not text:
            continue
        out.append((idx, s["level"], s["heading"], text))
        idx += 1
    return out


_SECTIONS_SCHEMA = _struct(url=_S, section_idx=_I, level=_I, heading=_S,
                           sec_text=_S)


def make_sections_kernel():
    """mapInPandas kernel: pages batches -> one row per heading
    SECTION (semantic chunking for training data: split at the
    document's own outline instead of fixed token windows)."""
    return _page_kernel(_SECTIONS_SCHEMA,
                        lambda raw, parsed: _sections_from_dom(parsed[0].dom))


def extract_sections(pages) -> "DataFrame":
    """(url, section_idx, level, heading, sec_text) — the page's
    heading outline with per-section running text, through the same
    forgiving parse as extraction. Pure map over pages: no shuffle."""
    return (pages.select("url", "html")
            .mapInPandas(make_sections_kernel(), _SECTIONS_SCHEMA))


def _template_signature(b) -> tuple[str, int]:
    """(tag-sequence md5, n_elements) for one parsed DOM: the structural
    fingerprint of the page with ALL content ignored — two pages from
    the same site template hash identically however much their text
    differs. Sequence = lowercase tag names of non-synthetic elements
    in parse (document) order, comma-joined; synthetic repair nodes are
    excluded so a missing-markup variant of the same template still
    matches its well-formed siblings."""
    tags = []
    nodes = b.nodes
    for i in range(1, len(nodes)):
        nd = nodes[i]
        if nd[N_KIND] == ELEMENT and not nd[N_SYNTHETIC]:
            tags.append(nd[N_TAG_LC])
    seq = ",".join(tags)
    return hashlib.md5(seq.encode()).hexdigest(), len(tags)


_TEMPLATE_SCHEMA = _struct(url=_S, template_hash=_S, n_elements=_I)


def make_template_kernel():
    """mapInPandas kernel: pages batches -> (url, template_hash,
    n_elements) — the per-page half of template detection (group by
    (host, template_hash) downstream to find a site's templates and
    their page counts)."""
    return _page_kernel(
        _TEMPLATE_SCHEMA,
        lambda raw, parsed: (_template_signature(parsed[0].dom),))


def template_fingerprints(pages) -> "DataFrame":
    """(url, template_hash, n_elements) per page — content-blind
    structural fingerprints. Template detection is then one partial-agg
    groupBy on (host, template_hash): a host's dominant hash IS its
    page template, and pages outside it are the candidates for special
    extraction handling. Pure map, no shuffle here."""
    return (pages.select("url", "html")
            .mapInPandas(make_template_kernel(), _TEMPLATE_SCHEMA))


_MICRODATA_URL_TAGS = {"a": "href", "link": "href", "area": "href",
                       "img": "src", "audio": "src", "video": "src",
                       "source": "src", "iframe": "src", "embed": "src"}


def _scoped_props(b, scope: str, prop_attr: str, ref: str, type_of,
                  content_anywhere: bool) -> list[tuple]:
    """(scope_idx, scope_type, prop, value, is_ref) rows of one parsed
    DOM for a scope/property vocabulary (microdata, RDFa lite). Scopes
    are the elements with a ``scope`` attribute, in document order,
    typed by ``type_of(nodes, attrs, node)``; each ``prop_attr`` element
    attaches to its NEAREST scope ancestor, and its value is, in order:
    a reference ``ref`` + index when it opens a scope itself, the
    ``content`` attribute (of any element with ``content_anywhere``,
    else of meta), ``datetime`` for time, the url attribute for
    a/link/img/..., else whitespace-collapsed textContent. A scope with
    no props still emits one (prop NULL) row so type censuses see it;
    props outside any scope are dropped."""
    nodes = b.nodes
    attrs: dict[int, dict[str, str]] = {}
    items: list[int] = []
    item_of: dict[int, int] = {}
    for i in range(1, len(nodes)):
        if nodes[i][N_KIND] == ELEMENT:
            at = attrs[i] = _attrs_ci(b, i)
            if scope in at:
                item_of[i] = len(items)
                items.append(i)
    types = [type_of(nodes, attrs, node) for node in items]
    rows: list[tuple] = []
    has_prop = set()
    for i, at in attrs.items():
        prop = at.get(prop_attr)
        if prop is None:
            continue
        nd = nodes[i]
        p = nd[N_PARENT]
        while p >= 0 and p not in item_of:
            p = nodes[p][N_PARENT]
        if p < 0:
            continue
        owner = item_of[p]
        tag = nd[N_TAG_LC]
        if i in item_of:
            value, is_ref = f"{ref}{item_of[i]}", True
        elif ("content" in at) if content_anywhere else tag == "meta":
            value, is_ref = at.get("content", ""), False
        elif tag == "time" and "datetime" in at:
            value, is_ref = at["datetime"], False
        elif tag in _MICRODATA_URL_TAGS:
            value, is_ref = at.get(_MICRODATA_URL_TAGS[tag], ""), False
        else:
            value, is_ref = " ".join(b.text_content(i).split()), False
        rows.append((owner, types[owner], prop.strip(), value, is_ref))
        has_prop.add(owner)
    for idx in range(len(items)):
        if idx not in has_prop:
            rows.append((idx, types[idx], None, None, False))
    rows.sort(key=lambda r: (r[0], r[2] or "", r[3] or ""))
    return rows


def _microdata_from_dom(b) -> list[tuple]:
    """schema.org MICRODATA rows from one parsed DOM — the second
    structured-data channel next to JSON-LD (structured_data):
    (item_idx, item_type, prop, value, is_item_ref). Items are
    elements with ``itemscope``, typed by ``itemtype``; ``itemprop``
    elements are their props, a nested item is referenced as '#itemN',
    and per the HTML microdata spec ``content`` is the value only for
    meta (see _scoped_props)."""
    return _scoped_props(b, "itemscope", "itemprop", "#item",
                         lambda nodes, attrs, node: attrs[node].get("itemtype"),
                         False)


def _rdfa_type(nodes, attrs, node: int):
    """``node``'s typeof, a bare term resolved against the nearest
    ``vocab`` ancestor-or-self (vocab || typeof); a prefixed or absolute
    typeof is kept verbatim; None when empty."""
    t = attrs[node].get("typeof", "").strip()
    if not t:
        return None
    if ":" in t or t.startswith("http"):
        return t
    p = node
    while p > 0:  # the root holds no attributes
        v = attrs[p].get("vocab")
        if v is not None:
            return v.strip() + t
        p = nodes[p][N_PARENT]
    return t


def _rdfa_from_dom(b) -> list[tuple]:
    """RDFa-LITE rows from one parsed DOM — the third structured-data
    channel (JSON-LD, microdata, RDFa): (res_idx, res_type, prop,
    value, is_res_ref). Resources are elements with ``typeof``, typed
    by _rdfa_type; ``property`` elements are their props with the
    microdata value rules, except that a ``content`` attribute wins on
    any element; nested resources are referenced as '#resN' (see
    _scoped_props). Properties outside any resource drop
    (document-level properties are out of the lite profile's common
    crawl use)."""
    return _scoped_props(b, "typeof", "property", "#res", _rdfa_type, True)


def extract_rdfa(pages) -> "DataFrame":
    """(url, res_idx, res_type, prop, value, is_res_ref) for every
    RDFa-lite property on every page — same contract shape as
    extract_microdata. Pure map over pages, no shuffle."""
    schema = _struct(url=_S, res_idx=_I, res_type=_S, prop=_S, value=_S,
                     is_res_ref=_B)
    kernel = _page_kernel(schema,
                          lambda raw, parsed: _rdfa_from_dom(parsed[0].dom))
    return pages.select("url", "html").mapInPandas(kernel, schema)


def extract_microdata(pages) -> "DataFrame":
    """(url, item_idx, item_type, prop, value, is_item_ref) for every
    microdata property on every page — the itemscope/itemprop channel
    of structured-data extraction, through the same forgiving parse.
    Pure map over pages, no shuffle."""
    schema = _struct(url=_S, item_idx=_I, item_type=_S, prop=_S, value=_S,
                     is_item_ref=_B)
    kernel = _page_kernel(
        schema, lambda raw, parsed: _microdata_from_dom(parsed[0].dom))
    return pages.select("url", "html").mapInPandas(kernel, schema)


_ROBOTS_SCHEMA = _struct(url=_S, noindex=_B, nofollow=_B, n_robots_meta=_I)


def make_robots_kernel():
    """mapInPandas kernel: pages batches -> per-document crawl-compliance
    flags — ``<meta name="robots"|"googlebot" content="...">`` directives
    parsed with the engine's own forgiving DOM (case-insensitive names,
    comma-separated token split, ``none`` = ``noindex,nofollow``). A
    corpus pipeline must honor these before publication; pages without
    directives report False/False with n_robots_meta = 0."""
    return _page_kernel(_ROBOTS_SCHEMA,
                        lambda raw, parsed: (_robots_from_dom(parsed[0].dom),))


def robots_flags(pages) -> "DataFrame":
    """(url, noindex, nofollow, n_robots_meta) for every page — the
    meta-robots census; filter ``~noindex`` before corpus publication."""
    return (pages.select("url", "html")
            .mapInPandas(make_robots_kernel(), _ROBOTS_SCHEMA))


def make_nodes_kernel():
    """Build a mapInPandas kernel: pages batches -> NODES_SCHEMA batches
    (flat per-node export for node-level corpus analytics)."""

    def rows(raw, parsed):
        b = parsed[0].dom
        nodes = b.nodes
        depth_of = {0: -1}
        for node in b.doc_order():
            nd = nodes[node]
            p = nd[N_PARENT]
            d = depth_of.get(p, 0) + 1
            depth_of[node] = d
            names = nd[N_ATTR_NAMES]
            c = nd[N_CONTENT]
            yield (node, nd[N_KIND], nd[N_TAG_LC], p if p != 0 else -1,
                   nd[N_CLOSURE], nd[N_SYNTHETIC], d,
                   len(names) if names else 0, len(c) if c else 0,
                   nd[N_SRC_START], nd[N_SRC_END])

    return _page_kernel(NODES_SCHEMA, rows)


def _json_ld_rows(raw, parsed):
    """(block_idx, ld_type, ld_name, parse_ok) per JSON-LD entity of one
    page (see make_structured_data_kernel)."""
    b = parsed[0].dom
    idx = 0
    for s in b.query_selector_all(0, "script"):
        stype = _attrs_ci(b, s).get("type", "")
        if stype.strip().lower() != "application/ld+json":
            continue
        try:
            data = json.loads(b.text_content(s))
        except (ValueError, RecursionError):
            yield (idx, None, None, False)
            idx += 1
            continue
        if isinstance(data, dict) and isinstance(data.get("@graph"), list):
            objs = data["@graph"]
        elif isinstance(data, list):
            objs = data
        else:
            objs = [data]
        emitted = False
        for obj in objs:
            if not isinstance(obj, dict):
                continue
            t = obj.get("@type")
            if isinstance(t, list):
                t = t[0] if t else None
            name = obj.get("name")
            yield (idx, t if isinstance(t, str) else None,
                   name if isinstance(name, str) else None, True)
            emitted = True
        if not emitted:  # block parsed but held no entity
            yield (idx, None, None, True)
        idx += 1


_STRUCTURED_DATA_SCHEMA = _struct(url=_S, block_idx=_I, ld_type=_S,
                                  ld_name=_S, parse_ok=_B)


def make_structured_data_kernel():
    """mapInPandas kernel: pages -> one row per JSON-LD entity
    (``<script type="application/ld+json">`` blocks — the structured
    data search engines and KG pipelines consume). Handles @graph
    containers, top-level arrays, list-valued @type (first wins);
    malformed JSON yields one parse_ok=false row so the census still
    counts the block."""
    return _page_kernel(_STRUCTURED_DATA_SCHEMA, _json_ld_rows)


def structured_data(pages) -> "DataFrame":
    """One row per JSON-LD entity per page (see
    make_structured_data_kernel). Map-side only."""
    return (pages.select("url", "html")
            .mapInPandas(make_structured_data_kernel(),
                         _STRUCTURED_DATA_SCHEMA))
