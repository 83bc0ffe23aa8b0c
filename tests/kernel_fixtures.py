"""Every kernel on the row-kernel loop, built through its public
constructor or wrapper and run in-process without Spark, plus the input
batches to run it on.  Shared by the kernel tests and
``bench/parity_dump.py``; it reaches the kernels only through their
public wrappers, so a checkout of earlier code runs it too."""

import glob
import gzip
import io
import os
import wave
from types import SimpleNamespace
from typing import NamedTuple

import pandas as pd
from pyspark.sql.types import (
    BooleanType, IntegerType, LongType, StringType, StructField, StructType,
)

from fortissimo_spark import graph, io_tables, kernel, modality, robots, warc
from fortissimo_spark.pdf import build_pdf, make_pdf_extract_kernel
from fortissimo_spark.schema import EXTRACT_SCHEMA, NODES_SCHEMA

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# --- page payloads ---------------------------------------------------------

# UTF-8 bytes that declare windows-1252: decode_parse re-decodes them
CHARSET_PAGE = ("<meta charset=windows-1252><title>café</title>"
                "<table><tr><td>naïve</td></table>").encode("utf-8")
RICH_PAGE = (
    b"<html><head><title>T</title><meta name=robots content=noindex>"
    b"<meta name=description content=d><link rel=canonical href=/c>"
    b"<link rel=alternate type='application/rss+xml' href=/f title=F>"
    b"<script type='application/ld+json'>[{\"@type\": \"Thing\", "
    b"\"name\": \"n\"}, 3]</script><script type='application/ld+json'>"
    b"{bad</script></head><body><h1>H</h1><p>intro</p><main><p>m</p>"
    b"</main><h2>Two</h2><table><caption>C</caption><tr><th>a<td "
    b"colspan=2>b</table><a href=/x rel=nofollow>x</a><a>no href</a>"
    b"<div itemscope itemtype=T><span itemprop=p>v</span>"
    b"<div itemprop=q itemscope></div></div><div itemscope></div>"
    b"<div vocab='https://schema.org/' typeof=Person><span property=name>"
    b"Z</span></div></body></html>")
SITEMAP = (b"<urlset><url><loc>http://a/1</loc><lastmod>2024-01-02</lastmod>"
           b"<priority>0.5</priority></url></urlset>"
           b"<sm:sitemapindex><sm:sitemap><sm:loc>http://a/s.xml</sm:loc>"
           b"</sm:sitemap></sm:sitemapindex>")
RSS = (b"<rss><channel><item><title>T</title><link>http://a/i</link>"
       b"<pubDate>Tue, 02 Jan 2024 10:00:00 GMT</pubDate></item>"
       b"<item><title>U</title><pubDate>garbage</pubDate></item></channel>"
       b"</rss>")
ATOM = (b"<feed><entry><title>E</title><link href='http://a/e'/>"
        b"<updated>2024-01-03T00:00:00Z</updated></entry></feed>")
# a page on which every multi-row page kernel emits zero rows
NO_ROWS_PAGE = b"<p>plain text, no tables, links or structured data</p>"
PAGES = [RICH_PAGE, SITEMAP, RSS, ATOM, CHARSET_PAGE, None]

# --- media, PDF, WARC/WET and document payloads -----------------------------

GARBAGE = b"\x00\xffno known container here\x89PNG\r\n" * 8


def ppm(width, height):
    """A binary PPM with a diagonal gradient."""
    raster = bytes((x * 255 // width + y * 255 // height) // 2
                   for y in range(height) for x in range(width)
                   for _ in range(3))
    return f"P6 {width} {height} 255\n".encode() + raster


def wav(amps):
    """8-bit mono 8 kHz PCM: 16 samples of +-a around mid-scale per a."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(bytes(128 + (a if i % 2 == 0 else -a)
                            for a in amps for i in range(16)))
    return buf.getvalue()


def _box(fourcc, body):
    return (8 + len(body)).to_bytes(4, "big") + fourcc + body


def mp4(width, height, duration_ms):
    """An ISO-BMFF header: ftyp, then a moov holding an mvhd (1 kHz
    timescale) and one trak with a tkhd."""
    mvhd = _box(b"mvhd", bytes(12) + (1000).to_bytes(4, "big")
                + duration_ms.to_bytes(4, "big") + bytes(80))
    tkhd = _box(b"tkhd", bytes(76) + (width << 16).to_bytes(4, "big")
                + (height << 16).to_bytes(4, "big"))
    return (_box(b"ftyp", b"isom" + bytes(4) + b"isom")
            + _box(b"moov", mvhd + _box(b"trak", tkhd)))


def _data_files():
    out = []
    for path in sorted(glob.glob(os.path.join(DATA, "*"))):
        with open(path, "rb") as f:
            out.append(f.read())
    return out


MEDIA = _data_files() + [
    ppm(9, 8), ppm(40, 30), wav([i * 37 % 101 + 1 for i in range(65)]),
    wav([60] * 8), mp4(64, 48, 3200), GARBAGE, b"", None]

PDFS = [build_pdf("fine"), build_pdf("Flate\nzwei Zeilen ä", compress=True),
        build_pdf("object streams", objstm=True), build_pdf("cid", cid=True),
        build_pdf("secret").replace(b"/Root", b"/Encrypt 9 0 R /Root"),
        GARBAGE, b"", None]

_RECORDS = [
    {"url": "http://w.test/a", "date": "2024-01-01T00:00:01Z",
     "body": b"<p>first page</p>"},
    {"url": "http://w.test/b", "date": "2024-01-02T03:04:05.123456Z",
     "body": b"<meta charset=windows-1252><p>caf\xe9</p>"},
    {"url": "http://w.test/gone", "date": "2024-01-01T00:00:02Z",
     "body": b"missing", "status": 404},
    {"url": "http://w.test/img", "date": "2024-01-01T00:00:03Z",
     "body": b"\x89PNG", "content_type": "image/png"},
    {"url": "http://w.test/a", "date": "2024-01-01T00:00:04Z",
     "kind": "request"},
    {"url": "http://w.test/bad-date", "date": "yesterday",
     "body": b"<p>skipped record</p>"},
]
_WARC_GZ = warc.build_warc(_RECORDS, compress=True)
WARCS = [warc.build_warc(_RECORDS), _WARC_GZ, _WARC_GZ[:-7], GARBAGE, b"",
         None]


def wet(records):
    """WET bytes: one conversion record per (url, date, text)."""
    out = [b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 0\r\n\r\n"
           b"\r\n\r\n"]
    for url, date, text in records:
        block = text.encode("utf-8")
        out.append(("WARC/1.0\r\nWARC-Type: conversion\r\n"
                    f"WARC-Target-URI: {url}\r\nWARC-Date: {date}\r\n"
                    "Content-Type: text/plain\r\n"
                    f"Content-Length: {len(block)}\r\n\r\n").encode()
                   + block + b"\r\n\r\n")
    return b"".join(out)


_WET = wet([("http://w.test/a", "2024-01-01T00:00:01Z", "first text"),
            ("http://w.test/b", "2024-01-02T00:00:00Z", "zweiter Text ä"),
            ("http://w.test/c", "not a date", "skipped")])
WETS = [_WET, gzip.compress(_WET, mtime=0), GARBAGE, b"", None]

DOC_TEXTS = [f"Document {i} opens with <b>markup</b> & entities.\n\n"
             f"Its second paragraph {'runs on ' * (i % 5)}here."
             for i in range(24)] + [""]

# --- the kernels -------------------------------------------------------------


class LoopKernel(NamedTuple):
    fn: object            # the mapInPandas function
    schema: StructType    # its declared output schema
    cols: list            # the input columns its wrapper selects
    key: object           # a page kernel's key column, else None
    payload: str          # the input column a None payload is tried in
    empty: object         # what a None payload must read like
    fixtures: list        # payloads for one conformance batch
    plain: object         # a payload alone in a batch: no rows from a
                          # multi-row kernel, a degraded row from others


class _Captured(Exception):
    pass


class _Frame:
    """Just enough of a Spark session and DataFrame for a kernel wrapper
    to make its mapInPandas call, which is captured instead of run."""

    def __init__(self, columns):
        self.columns = self.selected = list(columns)

    @property
    def read(self):
        return self

    def format(self, _):
        return self

    def load(self, _):
        return self

    def parquet(self, _):
        return self

    def repartition(self, *_):
        return self

    def filter(self, _):
        return self

    def select(self, *cols):
        self.selected = list(cols)
        return self

    def mapInPandas(self, fn, schema):
        raise _Captured(fn, schema, self.selected)


class _Column:
    """Stands in for the Column expression a wrapper filters on."""

    def __eq__(self, other):
        return self


def _captured(wrapper, *args, **kwargs):
    """(kernel, schema, input columns) of the mapInPandas call a wrapper
    makes; ``modality.F`` needs a live Spark context, so it is stubbed
    while the wrapper builds its (never evaluated) filter."""
    spark_f, modality.F = modality.F, SimpleNamespace(col=lambda _: _Column())
    try:
        wrapper(*args, **kwargs)
    except _Captured as c:
        return c.args
    finally:
        modality.F = spark_f
    raise AssertionError(f"{wrapper.__name__} made no mapInPandas call")


S, L, I, B = StringType(), LongType(), IntegerType(), BooleanType()
PAGE_COLS = ["url", "warc_ts", "html", "lang"]
MEDIA_COLS = ["media_id", "kind", "payload", "mime", "width", "height",
              "duration_ms"]
PDF_SCHEMA = StructType([StructField("doc_id", L), StructField("text", S),
                         StructField("n_bytes", I),
                         StructField("error", S)])
# the kernels that can yield no rows for an input row
MULTI_ROW_KERNELS = ("tables", "rdfa", "microdata", "structured_data",
                     "outlinks", "discover_feeds", "sitemaps", "feeds",
                     "warc", "wet", "sample_frames")


def _struct(*fields):
    return StructType([StructField(n, t) for n, t in fields])


def page_kernels():
    """All 19 page kernels, by name."""
    out = {}

    def add(name, fn, schema, cols, key="url", payload="html"):
        out[name] = LoopKernel(fn, schema, cols, key, payload, b"", PAGES,
                               NO_ROWS_PAGE)

    for name, fn, schema in (
            ("extract", kernel.make_extract_kernel("density", True),
             EXTRACT_SCHEMA),
            ("format", kernel.make_format_kernel({"indent": 2}),
             _struct(("url", S), ("formatted_html", S))),
            ("stylize", kernel.make_stylize_kernel(),
             _struct(("url", S), ("stylized_html", S))),
            ("events", kernel.make_events_kernel(),
             _struct(("url", S), ("n_events", L), ("n_text_events", L),
                     ("n_tag_events", L), ("reconstituted_ok", B))),
            ("selector", kernel.make_selector_kernel(),
             _struct(("url", S), ("title_text", S), ("n_links", I),
                     ("n_main_paragraphs", I))),
            ("nodes", kernel.make_nodes_kernel(), NODES_SCHEMA)):
        add(name, fn, schema, PAGE_COLS)
    for name, wrapper in (
            ("analysis", kernel.page_analysis),
            ("page_meta", kernel.page_metadata),
            ("tables", kernel.extract_tables),
            ("sections", kernel.extract_sections),
            ("template", kernel.template_fingerprints),
            ("rdfa", kernel.extract_rdfa),
            ("microdata", kernel.extract_microdata),
            ("robots", kernel.robots_flags),
            ("structured_data", kernel.structured_data),
            ("outlinks", graph.extract_outlinks),
            ("discover_feeds", robots.discover_feeds)):
        add(name, *_captured(wrapper, _Frame(PAGE_COLS)))
    for name, wrapper, key in (("sitemaps", robots.parse_sitemaps,
                                "sitemap_url"),
                               ("feeds", robots.parse_feeds, "feed_url")):
        add(name, *_captured(wrapper, _Frame([key, "xml"])), key, "xml")
    return out


def folded_kernels():
    """The ten media, PDF, WARC/WET and page-generation kernels, by name."""
    def media(fn, schema, cols=("media_id", "payload")):
        return LoopKernel(fn, schema, list(cols), None, "payload", b"",
                          MEDIA, GARBAGE)

    return {
        "pages": LoopKernel(*_captured(io_tables.build_pages,
                                       _Frame(["doc_id", "text", "lang"]),
                                       "sf", num_partitions=1),
                            None, "text", "", DOC_TEXTS, ""),
        "warc": LoopKernel(*_captured(warc.read_warcs, _Frame(["content"]),
                                      "*.warc"),
                           None, "content", b"", WARCS, GARBAGE),
        "wet": LoopKernel(*_captured(warc.read_wets, _Frame(["content"]),
                                     "*.wet"),
                          None, "content", b"", WETS, GARBAGE),
        "pdf": LoopKernel(make_pdf_extract_kernel(), PDF_SCHEMA,
                          ["doc_id", "pdf"], None, "pdf", b"", PDFS, GARBAGE),
        "audio_features": media(modality.make_audio_feature_kernel(),
                                modality.AUDIO_FEATURES_SCHEMA),
        "image_features": media(modality.make_image_feature_kernel(),
                                modality.IMAGE_FEATURES_SCHEMA),
        "sample_frames": media(*_captured(modality.sample_frames,
                                          _Frame(MEDIA_COLS), every_ms=400)),
        "media_metadata": media(*_captured(modality.media_metadata,
                                           _Frame(MEDIA_COLS))),
        "image_dhash": media(*_captured(modality.with_image_dhash,
                                        _Frame(MEDIA_COLS))),
        "audio_fingerprint": media(*_captured(modality.with_audio_fingerprint,
                                              _Frame(MEDIA_COLS))),
    }


def loop_kernels():
    """Every kernel on the row-kernel loop, by name."""
    return {**page_kernels(), **folded_kernels()}


def batch(k, payloads, urls=None):
    """An input batch for ``k`` with ``payloads`` in its payload column.
    The other input columns get fixed values; ids do not fit 32 bits, and
    ``duration_ms`` is NULL on even rows (a float column, as Spark hands
    a nullable integer column to pandas)."""
    n = len(payloads)
    ids = [(1 << 33) + i for i in range(n)]
    values = {"warc_ts": pd.to_datetime(["2024-01-01"] * n),
              "lang": ["en"] * n, "media_id": ids, "doc_id": ids,
              "duration_ms": [None if i % 2 == 0 else 2500
                              for i in range(n)],
              k.payload: list(payloads)}
    if k.key is not None:
        values[k.key] = urls or [f"http://example.com/{i}" for i in range(n)]
    return pd.DataFrame({c: values[c] for c in k.cols})


def run(k, payloads, urls=None):
    """The frames ``k`` yields for one batch of ``payloads``."""
    return list(k.fn(iter([batch(k, payloads, urls)])))
