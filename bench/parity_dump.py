#!/usr/bin/env python3
"""Full-fidelity parity snapshot for the parse/extract hot path and
every page kernel.

dump mode:  python bench/parity_dump.py dump /tmp/parity_ref.pkl [ndocs]
check mode: python bench/parity_dump.py check /tmp/parity_ref.pkl [ndocs]

Covers: every EXTRACT field, the serialized round-trip, and a per-node
structural snapshot (all 24 fields minus line/col in positions=False mode),
plus a positions=True line/col sample — over corpus docs AND adversarial
fixtures.  Then every page kernel (the 15 in kernel.py, graph's outlinks,
robots' sitemap/feed/feed-discovery) runs in-process, without Spark, over
the fixtures, CHARSET_PAGES, XML_FIXTURES and the first KERNEL_DOCS corpus
docs; each output frame is snapshotted as its column list plus its rows
after the Arrow conversion Spark applies (``to_arrow_schema`` of the
kernel's output schema).  A check prints the label of every mismatching
snapshot.

The adversarial fixtures live in ``tests/parser_fixtures.py`` (shared with
the fast-path differential test).  The script imports ``fortissimo_spark``
from the checkout it sits in, so a parent-code reference is made by copying
this file and ``tests/parser_fixtures.py`` into a parent checkout (with
``.bench_scratch`` linked in for the corpus half) and running dump there.
"""
import glob
import os
import pickle
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
from pyspark.sql.pandas.types import to_arrow_schema  # noqa: E402
from pyspark.sql.types import (  # noqa: E402
    BooleanType, LongType, IntegerType, StringType, StructField, StructType,
)

from fortissimo_spark import graph, kernel, robots  # noqa: E402
from fortissimo_spark.kernel import process_document, decode_page_bytes  # noqa: E402
from fortissimo_spark.parser import parse  # noqa: E402
from fortissimo_spark.schema import EXTRACT_SCHEMA, NODES_SCHEMA  # noqa: E402
from tests.parser_fixtures import FIXTURES  # noqa: E402

MODE = sys.argv[1]
PATH = sys.argv[2]
NDOCS = int(sys.argv[3]) if len(sys.argv) > 3 else 20000

# UTF-8 bytes declaring windows-1252: decode_parse re-decodes them as
# cp1252, so every kernel on that front end sees the same (mojibake) text
CHARSET_PAGES = [
    "<meta charset=windows-1252><title>café</title>"
    "<table><tr><td>naïve</td></table>",
    "<html><head><meta charset='windows-1252'><title>Crème</title>"
    "<meta name=robots content='noindex, nofollow'>"
    "<meta name=description content='déjà vu'>"
    "<link rel=canonical href='/é'>"
    "<link rel=alternate type='application/rss+xml' href='/flüx' title='Flüx'>"
    "<script type='application/ld+json'>{\"@type\": \"Café\", "
    "\"name\": \"Bäckerei\"}</script></head>"
    "<body><h1>Über</h1><p>prélude</p><h2>Zwei</h2>"
    "<a href='/naïve' rel=nofollow>lién</a>"
    "<div itemscope itemtype='https://schema.org/Thing'>"
    "<span itemprop=name>Ärger</span></div>"
    "<div vocab='https://schema.org/' typeof=Person>"
    "<span property=name>Zoë</span></div></body></html>",
    "<meta charset=windows-1252><rss><channel><item><title>Thé</title>"
    "<link>http://x/é</link><pubDate>Mon, 01 Jan 2024 00:00:00 GMT</pubDate>"
    "</item></channel></rss>",
    "<meta charset=windows-1252><urlset><url><loc>http://x/é</loc>"
    "<lastmod>2024-01-01</lastmod><priority>0.5</priority></url></urlset>",
]

# sitemap / feed payloads for the XML kernels
XML_FIXTURES = [
    "<?xml version='1.0'?><urlset><url><loc>http://a/1</loc>"
    "<lastmod>2024-01-02</lastmod><changefreq>daily</changefreq>"
    "<priority>0.8</priority></url><url><loc></loc></url>"
    "<url><loc>http://a/2</loc></url></urlset>",
    "<sm:sitemapindex><sm:sitemap><sm:loc>http://a/s1.xml</sm:loc>"
    "</sm:sitemap></sm:sitemapindex>",
    "<rss><channel><item><title>T</title><link>http://a/i</link>"
    "<pubDate>Tue, 02 Jan 2024 10:00:00 GMT</pubDate></item>"
    "<item><title>U</title><pubDate>garbage</pubDate></item></channel></rss>",
    "<feed><entry><title>E</title><link href='http://a/e'/>"
    "<updated>2024-01-03T00:00:00Z</updated></entry></feed>",
    "<not-a-feed/>",
]

KERNEL_DOCS = 1000
BATCH = 100


def _struct(*names_types):
    return StructType([StructField(n, t) for n, t in names_types])


class _Captured(Exception):
    """Raised by _Frame.mapInPandas: carries the kernel, its output schema
    and the input columns the wrapper selected."""


class _Frame:
    """Just enough of a Spark DataFrame for a kernel wrapper to build its
    mapInPandas call, which is captured instead of run."""

    def __init__(self, columns):
        self.columns = list(columns)
        self.selected = self.columns

    def select(self, *cols):
        self.selected = list(cols)
        return self

    def mapInPandas(self, fn, schema):
        raise _Captured(fn, schema, self.selected)


def _captured(wrapper, columns):
    try:
        wrapper(_Frame(columns))
    except _Captured as c:
        return c.args
    raise AssertionError(f"{wrapper.__name__} made no mapInPandas call")


PAGE_COLS = ["url", "warc_ts", "html", "lang"]
S, L, I, B = StringType(), LongType(), IntegerType(), BooleanType()


def page_kernels():
    """(name, kernel, output schema, input columns, key, payload) for all
    19 page kernels, built through their public constructors."""
    direct = [
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
        ("nodes", kernel.make_nodes_kernel(), NODES_SCHEMA),
    ]
    out = [(n, k, s, PAGE_COLS, "url", "html") for n, k, s in direct]
    for wrapper in (kernel.page_analysis, kernel.page_metadata,
                    kernel.extract_tables, kernel.extract_sections,
                    kernel.template_fingerprints, kernel.extract_rdfa,
                    kernel.extract_microdata, kernel.robots_flags,
                    kernel.structured_data, graph.extract_outlinks,
                    robots.discover_feeds):
        fn, schema, cols = _captured(wrapper, PAGE_COLS)
        out.append((wrapper.__name__, fn, schema, cols, "url", "html"))
    for wrapper, key in ((robots.parse_sitemaps, "sitemap_url"),
                         (robots.parse_feeds, "feed_url")):
        fn, schema, cols = _captured(wrapper, [key, "xml"])
        out.append((wrapper.__name__, fn, schema, cols, key, "xml"))
    return out


def frame_snapshot(df, schema) -> tuple:
    try:
        table = pa.Table.from_pandas(df, schema=to_arrow_schema(schema),
                                     preserve_index=False, safe=True)
    except (pa.ArrowException, ValueError, TypeError) as e:
        # a frame Spark could not ship either: snapshot the failure
        return (tuple(df.columns), ("arrow conversion failed",
                                    type(e).__name__))
    return (tuple(df.columns), tuple(tuple(r.values())
                                     for r in table.to_pylist()))


def kernel_inputs(n):
    """(label, frame) input groups: url/warc_ts/html/lang pages."""
    def frame(label, raws, urls=None):
        m = len(raws)
        return (label, pd.DataFrame({
            "url": urls or [f"http://fixture.test/{label}/{i}"
                            for i in range(m)],
            "warc_ts": pd.to_datetime(["2024-01-01"] * m),
            "html": raws,
            "lang": ["en"] * m,
        }))

    groups = [frame("fixtures", [fx.encode("utf-8") for fx in FIXTURES]
                    + [None]),
              frame("charset", [p.encode("utf-8") for p in CHARSET_PAGES]),
              frame("xml", [p.encode("utf-8") for p in XML_FIXTURES])]
    docs = corpus_pages(n)
    for i in range(0, len(docs), BATCH):
        part = docs[i:i + BATCH]
        groups.append(frame(f"corpus[{i}:{i + len(part)}]",
                            [d["html"] for d in part],
                            [d["url"] for d in part]))
    return groups


def kernel_snapshots(n):
    snaps = []
    groups = kernel_inputs(n)
    for name, fn, schema, cols, key, payload in page_kernels():
        for label, pages in groups:
            batch = pages.rename(columns={"url": key, "html": payload})
            batch = batch[[c for c in cols if c in batch.columns]]
            frames = list(fn(iter([batch])))
            snaps.append((f"kernel {name} / {label}",
                          tuple(frame_snapshot(df, schema) for df in frames)))
    return snaps


def doc_snapshot(raw: bytes) -> tuple:
    d = process_document(raw, "density")
    res = d.pop("_result")
    b = res.dom
    nodes = tuple(
        (nd[0], nd[1], nd[2], nd[3], nd[5], nd[6], nd[7], nd[8], nd[11],
         tuple(nd[14] or ()), tuple(nd[15] or ()), tuple(nd[16] or ()),
         tuple(nd[17] or ()), tuple(nd[18] or ()), nd[19], nd[20], nd[21],
         nd[22], nd[23])
        for nd in b.nodes)
    ser = res.to_string()
    return (tuple(sorted(d.items(), key=lambda kv: kv[0])), ser, nodes)


def pos_snapshot(text: str) -> tuple:
    r = parse(text, positions=True)
    b = r.dom
    return (r.errors, r.lines, r.unclosed_tags, r.implicitly_closed_tags,
            tuple((nd[9], nd[10], nd[12], nd[13]) for nd in b.nodes))


def corpus_pages(n):
    rows = []
    for f in sorted(glob.glob(os.path.join(
            ROOT, ".bench_scratch/pages_sf0.1_x20/*.parquet"))):
        rows.extend(pq.read_table(f, columns=["url", "html"]).to_pylist())
        if len(rows) >= n:
            break
    return rows[:n]


def corpus_raws(n):
    return [d["html"] for d in corpus_pages(n)]


def build(n):
    snaps = []
    for i, fx in enumerate(FIXTURES):
        snaps.append((f"fixture {i} doc", doc_snapshot(fx.encode("utf-8"))))
        snaps.append((f"fixture {i} positions", pos_snapshot(fx)))
    for i, raw in enumerate(corpus_raws(n)):
        snaps.append((f"corpus {i} doc", doc_snapshot(bytes(raw or b""))))
    # positions=True over a corpus subset
    for i, raw in enumerate(corpus_raws(min(n, 2000))):
        text, _, _ = decode_page_bytes(bytes(raw or b""))
        snaps.append((f"corpus {i} positions", pos_snapshot(text)))
    return snaps + kernel_snapshots(min(n, KERNEL_DOCS))


if MODE == "dump":
    with open(PATH, "wb") as fh:
        pickle.dump(build(NDOCS), fh)
    print(f"dumped {NDOCS} corpus docs + {len(FIXTURES)} fixtures")
elif MODE == "check":
    with open(PATH, "rb") as fh:
        ref = pickle.load(fh)
    cur = build(NDOCS)
    assert [k for k, _ in ref] == [k for k, _ in cur], (len(ref), len(cur))
    bad = 0
    for (label, a), (_, b) in zip(ref, cur):
        if a != b:
            bad += 1
            print(f"MISMATCH at {label}")
            if bad <= 3:
                for j, (x, y) in enumerate(zip(a, b)):
                    if x != y:
                        print(f"  part {j}:\n   ref={str(x)[:500]}\n   cur={str(y)[:500]}")
    print("PARITY OK" if bad == 0 else f"PARITY FAILED: {bad} mismatches")
    sys.exit(1 if bad else 0)
