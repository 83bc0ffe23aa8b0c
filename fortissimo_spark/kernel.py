"""Arrow-batched parse/extract kernels for ``mapInPandas``.

Design (SURVEY.md §4.2): the JVM hands the Python worker Arrow record
batches; per document, the byte→str decode, markup scans, and entity decode
all run in C (codecs, ``str.find``, ``re``), and the Python-level state
machine steps only over markup boundaries (O(#tags), ~3-5% of bytes). No
per-character Python anywhere.

Encoding policy (mirrors the reference CLI's retry loop, cli.ts:32-56, done
in-kernel in a single pass):

1. byte-level BOM / null-pattern sniff (html-parser.ts:306-324 equivalent,
   but on raw bytes — strictly better than sniffing a mis-decoded string);
2. UTF-8 strict attempt, falling back to a ``<meta charset>`` prefix scan,
   then UTF-8 with replacement;
3. after parsing, if the document *declares* a different charset that we can
   decode, re-decode + re-parse once (max 2 tries, like the CLI).

Garbage collection: every kernel that parses pages runs under
``gc_paused``, which disables Python's cyclic collector while the kernel
builds one output batch and restores the caller's GC state before the
batch is yielded (or an exception propagates).  A DOM is a flat list of
per-node lists whose parent/child links are integer indices, so it holds
no reference cycles and refcounting frees it as soon as the document is
done.  Its 7 tracked containers per node would otherwise set off ~3,000
generation-0 and 24 full collections per 600 malformed ~12 KB pages, all
finding nothing.  The collector is paused for at most one Arrow batch, so
a cycle made elsewhere waits at most one batch longer to be collected.
"""

from __future__ import annotations

import codecs
import gc
import re
from functools import lru_cache, wraps
from typing import Iterable, Iterator

import pandas as pd

from .dom import ELEMENT, N_ATTR_NAMES, N_ATTR_VALUES, N_KIND, N_PARENT, \
    N_TAG_LC
from .extract import extract
from .parser import parse

__all__ = ["decode_page_bytes", "process_document", "make_extract_kernel",
           "make_nodes_kernel", "gc_paused"]

_RE_META_CHARSET = re.compile(
    rb"""<meta[^>]+charset[ \t\n\f\r]*=[ \t\n\f\r]*["']?([\w-]+)""", re.I)

# token_count contract: the number of \S+ runs.  str.split() splits on
# exactly the same whitespace class (verified: re's \s and str.isspace
# agree on every codepoint), and is ~4x faster than findall.


def gc_paused(kernel):
    """Wrap a mapInPandas kernel so the cyclic collector is off while it
    builds each output batch (see the module docstring).  The caller's GC
    state is restored before every yield and on any exception."""

    @wraps(kernel)
    def paused(batches):
        out = kernel(batches)
        while True:
            enabled = gc.isenabled()
            gc.disable()
            try:
                pdf = next(out, None)
            finally:
                if enabled:
                    gc.enable()
            if pdf is None:
                return
            yield pdf

    return paused


@lru_cache(maxsize=512)
def _codec_name(name: str) -> str | None:
    try:
        return codecs.lookup(name).name
    except (LookupError, TypeError):
        return None


def detect_bom_encoding(raw: bytes) -> str | None:
    """Byte-level equivalent of checkEncoding (html-parser.ts:306-324)."""
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


def decode_parse(raw: bytes):
    """Shared decode -> parse -> (maybe re-decode retry) front end:
    returns (result, used_encoding, declared_charset, retried)."""
    text_src, used, pattern_detected = decode_page_bytes(raw)
    result = parse(text_src, positions=False)
    retried = False

    declared = result.charset
    # a byte-pattern detection is authoritative over a (stale) meta charset
    if declared and not pattern_detected:
        declared_codec = _codec_name(declared)
        if declared_codec and declared_codec != _codec_name(used):
            # single in-kernel retry, like the reference CLI (cli.ts:32-56)
            try:
                retext = raw.decode(declared_codec, errors="replace")
            except LookupError:  # pragma: no cover
                retext = None
            if retext is not None and retext != text_src:
                used = declared_codec
                result = parse(retext, positions=False)
                retried = True
    return result, used, declared, retried


def process_document(raw: bytes, strip: str = "density", *,
                     verify_roundtrip: bool = False) -> dict:
    """Full per-document pipeline: decode -> parse -> (maybe re-decode) -> extract."""
    result, used, declared, retried = decode_parse(raw)

    ext = extract(result.dom, strip)
    roundtrip_ok = None
    if verify_roundtrip:
        roundtrip_ok = result.to_string() == result.text

    return {
        "text": ext.text,
        "span_starts": [s for s, _ in ext.spans],
        "span_ends": [e for _, e in ext.spans],
        "used_encoding": used,
        "declared_charset": declared,
        "encoding_retried": retried,
        "errors": result.errors,
        "unclosed": result.unclosed_tags,
        "implicitly_closed": result.implicitly_closed_tags,
        "node_count": ext.node_count,
        "text_node_count": ext.text_node_count,
        "characters": result.characters,
        "lines": result.lines,
        "text_len": len(ext.text),
        "token_count": len(ext.text.split()),
        "html_bytes": len(raw),
        "roundtrip_ok": roundtrip_ok,
        "_result": result,
    }


def make_extract_kernel(strip: str = "density", verify_roundtrip: bool = False):
    """Build a mapInPandas kernel: pages batches -> EXTRACT_SCHEMA batches."""

    @gc_paused
    def kernel(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            # per-column lists appended in one pass (same fields, same order
            # as process_document, minus the per-doc dict round-trip)
            texts = []; sp_starts = []; sp_ends = []; useds = []; decls = []
            retrs = []; errs = []; uncls = []; impls = []; ncnts = []
            tcnts = []; chars = []; lines = []; tlens = []; toks = []
            hbytes = []; rts = []
            for raw in pdf["html"].tolist():
                raw = bytes(raw) if raw is not None else b""
                result, used, declared, retried = decode_parse(raw)
                ext = extract(result.dom, strip)
                text = ext.text
                texts.append(text)
                sp_starts.append([s for s, _ in ext.spans])
                sp_ends.append([e for _, e in ext.spans])
                useds.append(used)
                decls.append(declared)
                retrs.append(retried)
                errs.append(result.errors)
                uncls.append(result.unclosed_tags)
                impls.append(result.implicitly_closed_tags)
                ncnts.append(ext.node_count)
                tcnts.append(ext.text_node_count)
                chars.append(result.characters)
                lines.append(result.lines)
                tlens.append(len(text))
                toks.append(len(text.split()))
                hbytes.append(len(raw))
                rts.append(result.to_string() == result.text
                           if verify_roundtrip else None)
            yield pd.DataFrame({
                "url": pdf["url"].values,
                "warc_ts": pdf["warc_ts"].values,
                "lang": pdf["lang"].values,
                "text": texts, "span_starts": sp_starts, "span_ends": sp_ends,
                "used_encoding": useds, "declared_charset": decls,
                "encoding_retried": retrs, "errors": errs, "unclosed": uncls,
                "implicitly_closed": impls, "node_count": ncnts,
                "text_node_count": tcnts, "characters": chars, "lines": lines,
                "text_len": tlens, "token_count": toks, "html_bytes": hbytes,
                "roundtrip_ok": rts,
            })

    return kernel


def make_format_kernel(format_options: dict | None = None):
    """mapInPandas kernel: pages batches -> (url, formatted_html) — the
    document-parallel pretty-printer (formatter.ts's role at corpus scale)."""

    @gc_paused
    def kernel(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .formatter import FormatOptions, format_html
        for pdf in batches:
            if len(pdf) == 0:
                continue
            urls, outs = [], []
            for url, raw in zip(pdf["url"].tolist(), pdf["html"].tolist()):
                text_src, _, _ = decode_page_bytes(bytes(raw or b""))
                result = parse(text_src, positions=False)
                format_html(result.dom, FormatOptions(**(format_options or {})))
                urls.append(url)
                outs.append(result.dom.serialize(0))
            yield pd.DataFrame({"url": urls, "formatted_html": outs})

    return kernel


def make_stylize_kernel(style_options: dict | None = None):
    """mapInPandas kernel: pages batches -> (url, stylized_html) — the
    syntax-highlighting serializer, document-parallel."""

    @gc_paused
    def kernel(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .stylizer import StyleOptions, stylize_html
        for pdf in batches:
            if len(pdf) == 0:
                continue
            urls, outs = [], []
            for url, raw in zip(pdf["url"].tolist(), pdf["html"].tolist()):
                text_src, _, _ = decode_page_bytes(bytes(raw or b""))
                result = parse(text_src, positions=False)
                urls.append(url)
                outs.append(stylize_html(result.dom, 0,
                                         StyleOptions(**(style_options or {}))))
            yield pd.DataFrame({"url": urls, "stylized_html": outs})

    return kernel


def make_events_kernel():
    """mapInPandas kernel: pages batches -> per-document SAX event stats
    (url, n_events, n_text_events, n_tag_events, reconstituted_ok) — the
    document-parallel form of the reference's callback API (events.py);
    ``reconstituted_ok`` asserts the byte-identity contract per page."""

    @gc_paused
    def kernel(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .events import parse_events
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = {k: [] for k in ("url", "n_events", "n_text_events",
                                    "n_tag_events", "reconstituted_ok")}
            for url, raw in zip(pdf["url"].tolist(), pdf["html"].tolist()):
                text_src, _, _ = decode_page_bytes(bytes(raw or b""))
                result = parse(text_src, positions=False)
                n = n_text = n_tag = 0
                parts = []
                for ev in parse_events(result):
                    n += 1
                    if ev.kind == "text":
                        n_text += 1
                    elif ev.kind == "start-tag-start":
                        n_tag += 1
                    parts.append(ev.src)
                rows["url"].append(url)
                rows["n_events"].append(n)
                rows["n_text_events"].append(n_text)
                rows["n_tag_events"].append(n_tag)
                rows["reconstituted_ok"].append("".join(parts) == result.text)
            yield pd.DataFrame(rows)

    return kernel


def make_selector_kernel():
    """mapInPandas kernel: pages batches -> per-document selector stats
    (url, title_text, n_links, n_main_paragraphs) — the distributed form of
    the querySelector/textContent surface (dom.ts:436-499 parity ops)."""

    @gc_paused
    def kernel(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = {k: [] for k in ("url", "title_text", "n_links",
                                    "n_main_paragraphs")}
            for url, raw in zip(pdf["url"].tolist(), pdf["html"].tolist()):
                text_src, _, _ = decode_page_bytes(bytes(raw or b""))
                b = parse(text_src, positions=False).dom
                title = b.query_selector(0, "title")
                main = b.query_selector(0, "main")
                rows["url"].append(url)
                rows["title_text"].append(
                    b.text_content(title) if title is not None else None)
                rows["n_links"].append(len(b.query_selector_all(0, "a")))
                rows["n_main_paragraphs"].append(
                    len(b.query_selector_all(main, "p"))
                    if main is not None else 0)
            yield pd.DataFrame(rows)

    return kernel


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


def _meta_from_dom(b) -> dict:
    """title/first_h1/canonical/description/og_title from one DOM."""
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
    return {
        "title_text": b.text_content(title) if title is not None else None,
        "first_h1": b.text_content(h1) if h1 is not None else None,
        "canonical": canonical, "description": description,
        "og_title": og_title,
    }


def make_analysis_kernel(strip: str = "density"):
    """ONE-PASS page analysis: decode + parse ONCE per page, then emit
    every per-page signal the curation pipeline wants — extracted text
    + token count, meta-robots compliance flags, head metadata, and the
    outlink count. Running the single-purpose kernels separately parses
    each page once PER OPERATOR; at 10^12 documents the parse is the
    dominant cost, so a pipeline consuming several signals should take
    this kernel and project."""

    @gc_paused
    def kernel(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = {k: [] for k in (
                "url", "warc_ts", "text", "text_len", "token_count",
                "errors", "noindex", "nofollow", "title_text", "first_h1",
                "canonical", "description", "og_title", "n_links")}
            rows["warc_ts"] = pdf["warc_ts"].tolist() \
                if "warc_ts" in pdf.columns else [None] * len(pdf)
            for url, raw in zip(pdf["url"].tolist(), pdf["html"].tolist()):
                result, _, _, _ = decode_parse(bytes(raw or b""))
                b = result.dom
                ext = extract(b, strip)
                noindex, nofollow, _ = _robots_from_dom(b)
                meta = _meta_from_dom(b)
                rows["url"].append(url)
                rows["text"].append(ext.text)
                rows["text_len"].append(len(ext.text))
                rows["token_count"].append(len(ext.text.split()))
                rows["errors"].append(result.errors)
                rows["noindex"].append(noindex)
                rows["nofollow"].append(nofollow)
                for k, v in meta.items():
                    rows[k].append(v)
                rows["n_links"].append(len(b.query_selector_all(0, "a")))
            yield pd.DataFrame(rows)

    return kernel


def page_analysis(pages, strip: str = "density") -> "DataFrame":
    """One decode+parse per page -> every per-page signal (see
    make_analysis_kernel)."""
    from pyspark.sql.types import (
        BooleanType, IntegerType, LongType, StringType, StructField,
        StructType,
    )
    from pyspark.sql.types import TimestampType
    schema = StructType([
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("text", StringType()),
        StructField("text_len", LongType()),
        StructField("token_count", LongType()),
        StructField("errors", LongType()),
        StructField("noindex", BooleanType()),
        StructField("nofollow", BooleanType()),
        StructField("title_text", StringType()),
        StructField("first_h1", StringType()),
        StructField("canonical", StringType()),
        StructField("description", StringType()),
        StructField("og_title", StringType()),
        StructField("n_links", IntegerType()),
    ])
    cols = ["url", "html"] + (["warc_ts"] if "warc_ts" in pages.columns
                              else [])
    return (pages.select(*cols)
            .mapInPandas(make_analysis_kernel(strip), schema))


def make_page_meta_kernel():
    """mapInPandas kernel: pages batches -> structured head metadata
    (title, first h1, rel=canonical href, meta description, og:title) —
    the per-page metadata record a crawl index stores next to the
    extracted text. Missing fields are NULL."""

    @gc_paused
    def kernel(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = {k: [] for k in ("url", "title_text", "first_h1",
                                    "canonical", "description", "og_title")}
            for url, raw in zip(pdf["url"].tolist(), pdf["html"].tolist()):
                text_src, _, _ = decode_page_bytes(bytes(raw or b""))
                b = parse(text_src, positions=False).dom
                rows["url"].append(url)
                for k, v in _meta_from_dom(b).items():
                    rows[k].append(v)
            yield pd.DataFrame(rows)

    return kernel


def page_metadata(pages) -> "DataFrame":
    """(url, title_text, first_h1, canonical, description, og_title) for
    every page — the crawl-index metadata record."""
    from pyspark.sql.types import StringType, StructField, StructType
    schema = StructType([StructField(c, StringType()) for c in
                         ("url", "title_text", "first_h1", "canonical",
                          "description", "og_title")])
    return (pages.select("url", "html")
            .mapInPandas(make_page_meta_kernel(), schema))


def _tables_from_dom(b) -> list[tuple]:
    """All table cells of one parsed DOM, in document order:
    (table_idx, caption, row_idx, col_idx, is_header, rowspan, colspan,
    cell). Rows/cells attach to their NEAREST enclosing table/tr, so
    nested tables don't double-count, and the DOM's table repair
    (synthetic tr for stray cells, dom.py:458) means even
    missing-markup tables come out row-shaped. Cell text is
    whitespace-collapsed text_content; non-numeric or sub-1 spans
    normalize to 1 (browser behavior)."""
    nodes = b.nodes

    def nearest(node: int, tag: str) -> int:
        p = nodes[node][N_PARENT]
        while p >= 0:
            nd = nodes[p]
            if nd[N_KIND] == ELEMENT and nd[N_TAG_LC] == tag:
                return p
            p = nd[N_PARENT]
        return -1

    def span(v) -> int:
        try:
            n = int(str(v).strip())
        except (TypeError, ValueError):
            return 1
        return n if n >= 1 else 1

    out: list[tuple] = []
    for t_i, t in enumerate(b.query_selector_all(0, "table")):
        caption = None
        for c in b.query_selector_all(t, "caption"):
            if nearest(c, "table") == t:
                caption = " ".join(b.text_content(c).split())
                break
        rows = [r for r in b.query_selector_all(t, "tr")
                if nearest(r, "table") == t]
        for r_i, r in enumerate(rows):
            cells = sorted(
                c for tag in ("td", "th")
                for c in b.query_selector_all(r, tag)
                if nearest(c, "tr") == r)
            for c_i, c in enumerate(cells):
                at = _attrs_ci(b, c)
                out.append((t_i, caption, r_i, c_i,
                            nodes[c][N_TAG_LC] == "th",
                            span(at.get("rowspan")),
                            span(at.get("colspan")),
                            " ".join(b.text_content(c).split())))
    return out


def make_tables_kernel():
    """mapInPandas kernel: pages batches -> one row per table CELL
    (structured-table extraction — the training-data path that turns
    web tables into relational records)."""

    @gc_paused
    def kernel(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ("url", "table_idx", "caption", "row_idx", "col_idx",
                "is_header", "rowspan", "colspan", "cell")
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = {k: [] for k in cols}
            for url, raw in zip(pdf["url"].tolist(), pdf["html"].tolist()):
                text_src, _, _ = decode_page_bytes(bytes(raw or b""))
                b = parse(text_src, positions=False).dom
                for rec in _tables_from_dom(b):
                    rows["url"].append(url)
                    for k, v in zip(cols[1:], rec):
                        rows[k].append(v)
            yield pd.DataFrame(rows)

    return kernel


def extract_tables(pages) -> "DataFrame":
    """(url, table_idx, caption, row_idx, col_idx, is_header, rowspan,
    colspan, cell) for every table cell on every page — HTML tables as
    relational records, through the same forgiving parse (+ table
    repair) as the text extraction. Pure map over pages: no shuffle;
    output fan-out is bounded by page size."""
    from pyspark.sql.types import (BooleanType, IntegerType, StringType,
                                   StructField, StructType)
    schema = StructType([
        StructField("url", StringType()),
        StructField("table_idx", IntegerType()),
        StructField("caption", StringType()),
        StructField("row_idx", IntegerType()),
        StructField("col_idx", IntegerType()),
        StructField("is_header", BooleanType()),
        StructField("rowspan", IntegerType()),
        StructField("colspan", IntegerType()),
        StructField("cell", StringType()),
    ])
    return (pages.select("url", "html")
            .mapInPandas(make_tables_kernel(), schema))


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
    from .chars import unescape_entities
    from .dom import CDATA, N_CONTENT, N_POSS_ENT, TEXT as TEXT_NODE
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
        elif k == TEXT_NODE or k == CDATA:
            if blocked(i, in_heading_ok=False):
                continue
            c = nd[N_CONTENT]
            if k == TEXT_NODE and nd[N_POSS_ENT] and "&" in c:
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


def make_sections_kernel():
    """mapInPandas kernel: pages batches -> one row per heading
    SECTION (semantic chunking for training data: split at the
    document's own outline instead of fixed token windows)."""

    @gc_paused
    def kernel(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ("url", "section_idx", "level", "heading", "sec_text")
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = {k: [] for k in cols}
            for url, raw in zip(pdf["url"].tolist(), pdf["html"].tolist()):
                text_src, _, _ = decode_page_bytes(bytes(raw or b""))
                b = parse(text_src, positions=False).dom
                for rec in _sections_from_dom(b):
                    rows["url"].append(url)
                    for k, v in zip(cols[1:], rec):
                        rows[k].append(v)
            yield pd.DataFrame(rows)

    return kernel


def extract_sections(pages) -> "DataFrame":
    """(url, section_idx, level, heading, sec_text) — the page's
    heading outline with per-section running text, through the same
    forgiving parse as extraction. Pure map over pages: no shuffle."""
    from pyspark.sql.types import (IntegerType, StringType, StructField,
                                   StructType)
    schema = StructType([
        StructField("url", StringType()),
        StructField("section_idx", IntegerType()),
        StructField("level", IntegerType()),
        StructField("heading", StringType()),
        StructField("sec_text", StringType()),
    ])
    return (pages.select("url", "html")
            .mapInPandas(make_sections_kernel(), schema))


def _template_signature(b) -> tuple[str, int]:
    """(tag-sequence md5, n_elements) for one parsed DOM: the structural
    fingerprint of the page with ALL content ignored — two pages from
    the same site template hash identically however much their text
    differs. Sequence = lowercase tag names of non-synthetic elements
    in parse (document) order, comma-joined; synthetic repair nodes are
    excluded so a missing-markup variant of the same template still
    matches its well-formed siblings."""
    import hashlib

    from .dom import N_SYNTHETIC
    tags = []
    nodes = b.nodes
    for i in range(1, len(nodes)):
        nd = nodes[i]
        if nd[N_KIND] == ELEMENT and not nd[N_SYNTHETIC]:
            tags.append(nd[N_TAG_LC])
    seq = ",".join(tags)
    return hashlib.md5(seq.encode()).hexdigest(), len(tags)


def make_template_kernel():
    """mapInPandas kernel: pages batches -> (url, template_hash,
    n_elements) — the per-page half of template detection (group by
    (host, template_hash) downstream to find a site's templates and
    their page counts)."""

    @gc_paused
    def kernel(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ("url", "template_hash", "n_elements")
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows: dict[str, list] = {k: [] for k in cols}
            for url, raw in zip(pdf["url"].tolist(), pdf["html"].tolist()):
                text_src, _, _ = decode_page_bytes(bytes(raw or b""))
                b = parse(text_src, positions=False).dom
                th, n = _template_signature(b)
                rows["url"].append(url)
                rows["template_hash"].append(th)
                rows["n_elements"].append(n)
            out = pd.DataFrame(rows, columns=cols)
            out["n_elements"] = out["n_elements"].astype("Int32")
            yield out

    return kernel


def template_fingerprints(pages) -> "DataFrame":
    """(url, template_hash, n_elements) per page — content-blind
    structural fingerprints. Template detection is then one partial-agg
    groupBy on (host, template_hash): a host's dominant hash IS its
    page template, and pages outside it are the candidates for special
    extraction handling. Pure map, no shuffle here."""
    from pyspark.sql.types import (IntegerType, StringType, StructField,
                                   StructType)
    schema = StructType([
        StructField("url", StringType()),
        StructField("template_hash", StringType()),
        StructField("n_elements", IntegerType()),
    ])
    return (pages.select("url", "html")
            .mapInPandas(make_template_kernel(), schema))


_MICRODATA_URL_TAGS = {"a": "href", "link": "href", "area": "href",
                       "img": "src", "audio": "src", "video": "src",
                       "source": "src", "iframe": "src", "embed": "src"}


def _microdata_from_dom(b) -> list[tuple]:
    """schema.org MICRODATA rows from one parsed DOM — the second
    structured-data channel next to JSON-LD (structured_data):
    (item_idx, item_type, prop, value, is_item_ref). Items are
    elements with ``itemscope`` in document order; each ``itemprop``
    element attaches to its NEAREST itemscope ancestor; per the HTML
    microdata spec the value is the ``content`` attribute for meta,
    the url attribute for a/link/img/..., ``datetime`` for time, a
    nested item reference '#itemN' when the prop element itself opens
    an itemscope, else whitespace-collapsed textContent. Items with no
    props still emit one (prop NULL) row so type censuses see them;
    itemprops outside any itemscope are dropped (spec: no item)."""
    nodes = b.nodes
    items: list[int] = []
    item_of: dict[int, int] = {}
    rows: list[tuple] = []
    for i in range(1, len(nodes)):
        nd = nodes[i]
        if nd[N_KIND] != ELEMENT:
            continue
        at = _attrs_ci(b, i)
        if "itemscope" in at:
            item_of[i] = len(items)
            items.append(i)
    has_prop = set()
    for i in range(1, len(nodes)):
        nd = nodes[i]
        if nd[N_KIND] != ELEMENT:
            continue
        at = _attrs_ci(b, i)
        prop = at.get("itemprop")
        if prop is None:
            continue
        p = nd[N_PARENT]
        owner = None
        while p >= 0:
            if p in item_of:
                owner = item_of[p]
                break
            p = nodes[p][N_PARENT]
        if owner is None:
            continue
        tag = nd[N_TAG_LC]
        if i in item_of:
            value, ref = f"#item{item_of[i]}", True
        elif tag == "meta":
            value, ref = at.get("content", ""), False
        elif tag == "time" and "datetime" in at:
            value, ref = at["datetime"], False
        elif tag in _MICRODATA_URL_TAGS:
            value, ref = at.get(_MICRODATA_URL_TAGS[tag], ""), False
        else:
            value, ref = " ".join(b.text_content(i).split()), False
        otype = _attrs_ci(b, items[owner]).get("itemtype")
        rows.append((owner, otype, prop.strip(), value, ref))
        has_prop.add(owner)
    for idx, node in enumerate(items):
        if idx not in has_prop:
            rows.append((idx, _attrs_ci(b, node).get("itemtype"),
                         None, None, False))
    rows.sort(key=lambda r: (r[0], r[2] or "", r[3] or ""))
    return rows


def _rdfa_from_dom(b) -> list[tuple]:
    """RDFa-LITE rows from one parsed DOM — the third structured-data
    channel (JSON-LD, microdata, RDFa): (res_idx, res_type, prop,
    value, is_res_ref). Resources are elements with ``typeof`` in
    document order, their type resolved against the nearest ``vocab``
    ancestor-or-self (vocab || typeof for terms without a colon/scheme;
    prefixed or absolute typeof kept verbatim); each ``property``
    element attaches to its nearest typeof ancestor with the microdata
    value rules (content attr > url attr > datetime > collapsed
    textContent), nested resources referenced as '#resN'. Propless
    resources emit a census row; properties outside any resource drop
    (document-level properties are out of the lite profile's common
    crawl use)."""
    nodes = b.nodes
    items: list[int] = []
    item_of: dict[int, int] = {}
    for i in range(1, len(nodes)):
        nd = nodes[i]
        if nd[N_KIND] == ELEMENT and "typeof" in _attrs_ci(b, i):
            item_of[i] = len(items)
            items.append(i)

    def vocab_for(node: int) -> str:
        p = node
        while p >= 0:
            nd = nodes[p]
            if nd[N_KIND] == ELEMENT:
                v = _attrs_ci(b, p).get("vocab")
                if v is not None:
                    return v.strip()
            p = nd[N_PARENT]
        return ""

    def type_of(node: int):
        t = _attrs_ci(b, node).get("typeof", "").strip()
        if not t:
            return None
        if ":" in t or t.startswith("http"):
            return t
        return vocab_for(node) + t

    rows: list[tuple] = []
    has_prop = set()
    for i in range(1, len(nodes)):
        nd = nodes[i]
        if nd[N_KIND] != ELEMENT:
            continue
        at = _attrs_ci(b, i)
        prop = at.get("property")
        if prop is None:
            continue
        p = nd[N_PARENT]
        owner = None
        while p >= 0:
            if p in item_of:
                owner = item_of[p]
                break
            p = nodes[p][N_PARENT]
        if owner is None:
            continue
        tag = nd[N_TAG_LC]
        if i in item_of:
            value, ref = f"#res{item_of[i]}", True
        elif "content" in at:
            value, ref = at["content"], False
        elif tag == "time" and "datetime" in at:
            value, ref = at["datetime"], False
        elif tag in _MICRODATA_URL_TAGS:
            value, ref = at.get(_MICRODATA_URL_TAGS[tag], ""), False
        else:
            value, ref = " ".join(b.text_content(i).split()), False
        rows.append((owner, type_of(items[owner]), prop.strip(),
                     value, ref))
        has_prop.add(owner)
    for idx, node in enumerate(items):
        if idx not in has_prop:
            rows.append((idx, type_of(node), None, None, False))
    rows.sort(key=lambda r: (r[0], r[2] or "", r[3] or ""))
    return rows


def extract_rdfa(pages) -> "DataFrame":
    """(url, res_idx, res_type, prop, value, is_res_ref) for every
    RDFa-lite property on every page — same contract shape as
    extract_microdata. Pure map over pages, no shuffle."""
    from pyspark.sql.types import (BooleanType, IntegerType, StringType,
                                   StructField, StructType)
    schema = StructType([
        StructField("url", StringType()),
        StructField("res_idx", IntegerType()),
        StructField("res_type", StringType()),
        StructField("prop", StringType()),
        StructField("value", StringType()),
        StructField("is_res_ref", BooleanType()),
    ])

    @gc_paused
    def kernel(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ("url", "res_idx", "res_type", "prop", "value",
                "is_res_ref")
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = {k: [] for k in cols}
            for url, raw in zip(pdf["url"].tolist(), pdf["html"].tolist()):
                text_src, _, _ = decode_page_bytes(bytes(raw or b""))
                bb = parse(text_src, positions=False).dom
                for rec in _rdfa_from_dom(bb):
                    rows["url"].append(url)
                    for k, v in zip(cols[1:], rec):
                        rows[k].append(v)
            out = pd.DataFrame(rows, columns=cols)
            out["res_idx"] = out["res_idx"].astype("Int32")
            yield out

    return (pages.select("url", "html")
            .mapInPandas(kernel, schema))


def extract_microdata(pages) -> "DataFrame":
    """(url, item_idx, item_type, prop, value, is_item_ref) for every
    microdata property on every page — the itemscope/itemprop channel
    of structured-data extraction, through the same forgiving parse.
    Pure map over pages, no shuffle."""
    from pyspark.sql.types import (BooleanType, IntegerType, StringType,
                                   StructField, StructType)
    schema = StructType([
        StructField("url", StringType()),
        StructField("item_idx", IntegerType()),
        StructField("item_type", StringType()),
        StructField("prop", StringType()),
        StructField("value", StringType()),
        StructField("is_item_ref", BooleanType()),
    ])

    @gc_paused
    def kernel(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ("url", "item_idx", "item_type", "prop", "value",
                "is_item_ref")
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = {k: [] for k in cols}
            for url, raw in zip(pdf["url"].tolist(), pdf["html"].tolist()):
                text_src, _, _ = decode_page_bytes(bytes(raw or b""))
                bb = parse(text_src, positions=False).dom
                for rec in _microdata_from_dom(bb):
                    rows["url"].append(url)
                    for k, v in zip(cols[1:], rec):
                        rows[k].append(v)
            out = pd.DataFrame(rows, columns=cols)
            out["item_idx"] = out["item_idx"].astype("Int32")
            yield out

    return (pages.select("url", "html")
            .mapInPandas(kernel, schema))


def make_robots_kernel():
    """mapInPandas kernel: pages batches -> per-document crawl-compliance
    flags — ``<meta name="robots"|"googlebot" content="...">`` directives
    parsed with the engine's own forgiving DOM (case-insensitive names,
    comma-separated token split, ``none`` = ``noindex,nofollow``). A
    corpus pipeline must honor these before publication; pages without
    directives report False/False with n_robots_meta = 0."""

    @gc_paused
    def kernel(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = {k: [] for k in ("url", "noindex", "nofollow",
                                    "n_robots_meta")}
            for url, raw in zip(pdf["url"].tolist(), pdf["html"].tolist()):
                text_src, _, _ = decode_page_bytes(bytes(raw or b""))
                b = parse(text_src, positions=False).dom
                noindex, nofollow, n_meta = _robots_from_dom(b)
                rows["url"].append(url)
                rows["noindex"].append(noindex)
                rows["nofollow"].append(nofollow)
                rows["n_robots_meta"].append(n_meta)
            yield pd.DataFrame(rows)

    return kernel


def robots_flags(pages) -> "DataFrame":
    """(url, noindex, nofollow, n_robots_meta) for every page — the
    meta-robots census; filter ``~noindex`` before corpus publication."""
    from pyspark.sql.types import (
        BooleanType, IntegerType, StringType, StructField, StructType,
    )
    schema = StructType([StructField("url", StringType()),
                         StructField("noindex", BooleanType()),
                         StructField("nofollow", BooleanType()),
                         StructField("n_robots_meta", IntegerType())])
    return (pages.select("url", "html")
            .mapInPandas(make_robots_kernel(), schema))


def make_nodes_kernel():
    """Build a mapInPandas kernel: pages batches -> NODES_SCHEMA batches
    (flat per-node export for node-level corpus analytics)."""

    @gc_paused
    def kernel(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = {k: [] for k in ("url", "node_idx", "kind", "tag", "parent",
                                    "closure", "synthetic", "depth", "n_attrs",
                                    "text_len", "src_start", "src_end")}
            for url, raw in zip(pdf["url"].tolist(), pdf["html"].tolist()):
                text_src, _, _ = decode_page_bytes(bytes(raw or b""))
                b = parse(text_src, positions=False).dom
                order = b.doc_order()
                depth_of = {0: -1}
                for node in order:
                    p = b.parent[node]
                    d = depth_of.get(p, 0) + 1
                    depth_of[node] = d
                    rows["url"].append(url)
                    rows["node_idx"].append(node)
                    rows["kind"].append(b.kind[node])
                    rows["tag"].append(b.tag_lc[node])
                    rows["parent"].append(p if p != 0 else -1)
                    rows["closure"].append(b.closure[node])
                    rows["synthetic"].append(b.synthetic[node])
                    rows["depth"].append(d)
                    names = b.attr_names[node]
                    rows["n_attrs"].append(len(names) if names else 0)
                    c = b.content[node]
                    rows["text_len"].append(len(c) if c else 0)
                    rows["src_start"].append(b.src_start[node])
                    rows["src_end"].append(b.src_end[node])
            yield pd.DataFrame(rows)

    return kernel


def make_structured_data_kernel():
    """mapInPandas kernel: pages -> one row per JSON-LD entity
    (``<script type="application/ld+json">`` blocks — the structured
    data search engines and KG pipelines consume). Handles @graph
    containers, top-level arrays, list-valued @type (first wins);
    malformed JSON yields one parse_ok=false row so the census still
    counts the block."""
    import json

    @gc_paused
    def kernel(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = {k: [] for k in ("url", "block_idx", "ld_type",
                                    "ld_name", "parse_ok")}

            def emit(url, idx, t, name, ok):
                rows["url"].append(url)
                rows["block_idx"].append(idx)
                rows["ld_type"].append(t)
                rows["ld_name"].append(name)
                rows["parse_ok"].append(ok)

            for url, raw in zip(pdf["url"].tolist(), pdf["html"].tolist()):
                result, _, _, _ = decode_parse(bytes(raw or b""))
                b = result.dom
                idx = 0
                for s in b.query_selector_all(0, "script"):
                    stype = _attrs_ci(b, s).get("type", "")
                    if stype.strip().lower() != "application/ld+json":
                        continue
                    payload = b.text_content(s)
                    try:
                        data = json.loads(payload)
                    except (ValueError, RecursionError):
                        emit(url, idx, None, None, False)
                        idx += 1
                        continue
                    if isinstance(data, dict) and isinstance(
                            data.get("@graph"), list):
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
                        emit(url, idx,
                             t if isinstance(t, str) else None,
                             name if isinstance(name, str) else None,
                             True)
                        emitted = True
                    if not emitted:  # block parsed but held no entity
                        emit(url, idx, None, None, True)
                    idx += 1
            yield pd.DataFrame(rows)

    return kernel


def structured_data(pages) -> "DataFrame":
    """One row per JSON-LD entity per page (see
    make_structured_data_kernel). Map-side only."""
    from pyspark.sql.types import (
        BooleanType, IntegerType, StringType, StructField, StructType,
    )
    schema = StructType([
        StructField("url", StringType()),
        StructField("block_idx", IntegerType()),
        StructField("ld_type", StringType()),
        StructField("ld_name", StringType()),
        StructField("parse_ok", BooleanType()),
    ])
    return (pages.select("url", "html")
            .mapInPandas(make_structured_data_kernel(), schema))
