"""Every page kernel in-process (no Spark): the shared charset front end,
and output frames that conform to the kernel's declared schema."""

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BooleanType, IntegerType, LongType, StringType, StructField, StructType,
)

from fortissimo_spark import graph, kernel, robots
from fortissimo_spark.schema import EXTRACT_SCHEMA, NODES_SCHEMA

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
# a page on which every multi-row kernel emits zero rows
NO_ROWS_PAGE = b"<p>plain text, no tables, links or structured data</p>"

S, L, I, B = StringType(), LongType(), IntegerType(), BooleanType()


def _struct(*fields):
    return StructType([StructField(n, t) for n, t in fields])


class _Captured(Exception):
    pass


class _Frame:
    """Just enough of a Spark DataFrame for a kernel wrapper to make its
    mapInPandas call, which is captured instead of run."""

    def __init__(self, columns):
        self.columns = columns
        self.selected = columns

    def select(self, *cols):
        self.selected = list(cols)
        return self

    def mapInPandas(self, fn, schema):
        raise _Captured(fn, schema, self.selected)


def _wrapped(wrapper, key="url", payload="html"):
    """The (kernel, schema, input columns, key, payload) a wrapper ships."""
    def build():
        cols = [key, "warc_ts", payload, "lang"] if key == "url" \
            else [key, payload]
        with pytest.raises(_Captured) as c:
            wrapper(_Frame(cols))
        return (*c.value.args, key, payload)
    return build


def _direct(make, schema):
    return lambda: (make(), schema, ["url", "warc_ts", "html", "lang"],
                    "url", "html")


# all 19 page kernels, through their public constructors
KERNELS = {
    "extract": _direct(kernel.make_extract_kernel, EXTRACT_SCHEMA),
    "format": _direct(kernel.make_format_kernel,
                      _struct(("url", S), ("formatted_html", S))),
    "stylize": _direct(kernel.make_stylize_kernel,
                       _struct(("url", S), ("stylized_html", S))),
    "events": _direct(kernel.make_events_kernel,
                      _struct(("url", S), ("n_events", L),
                              ("n_text_events", L), ("n_tag_events", L),
                              ("reconstituted_ok", B))),
    "selector": _direct(kernel.make_selector_kernel,
                        _struct(("url", S), ("title_text", S),
                                ("n_links", I), ("n_main_paragraphs", I))),
    "nodes": _direct(kernel.make_nodes_kernel, NODES_SCHEMA),
    "analysis": _wrapped(kernel.page_analysis),
    "page_meta": _wrapped(kernel.page_metadata),
    "tables": _wrapped(kernel.extract_tables),
    "sections": _wrapped(kernel.extract_sections),
    "template": _wrapped(kernel.template_fingerprints),
    "rdfa": _wrapped(kernel.extract_rdfa),
    "microdata": _wrapped(kernel.extract_microdata),
    "robots": _wrapped(kernel.robots_flags),
    "structured_data": _wrapped(kernel.structured_data),
    "outlinks": _wrapped(graph.extract_outlinks),
    "discover_feeds": _wrapped(robots.discover_feeds),
    "sitemaps": _wrapped(robots.parse_sitemaps, "sitemap_url", "xml"),
    "feeds": _wrapped(robots.parse_feeds, "feed_url", "xml"),
}


def _batch(payloads, cols, key="url", payload="html"):
    n = len(payloads)
    full = {key: [f"http://example.com/{i}" for i in range(n)],
            "warc_ts": pd.to_datetime(["2024-01-01"] * n),
            payload: payloads,
            "lang": ["en"] * n}
    return pd.DataFrame({c: full[c] for c in cols})


def _run(k, payloads, cols, key="url", payload="html"):
    return list(k(iter([_batch(payloads, cols, key, payload)])))


def _one(k, payloads, cols, key="url", payload="html"):
    (out,) = _run(k, payloads, cols, key, payload)
    return out


def test_all_page_kernels_listed():
    assert len(KERNELS) == 19


@pytest.mark.parametrize("name", sorted(KERNELS))
def test_empty_batch_yields_nothing(name):
    k, _, cols, key, payload = KERNELS[name]()
    assert _run(k, [], cols, key, payload) == []


@pytest.mark.parametrize("name", sorted(KERNELS))
def test_none_payload_reads_as_empty_bytes(name):
    k, _, cols, key, payload = KERNELS[name]()
    pd.testing.assert_frame_equal(_one(k, [None], cols, key, payload),
                                  _one(k, [b""], cols, key, payload))


@pytest.mark.parametrize("name", sorted(KERNELS))
def test_frames_conform_to_schema(name):
    k, schema, cols, key, payload = KERNELS[name]()
    pages = [RICH_PAGE, SITEMAP, RSS, ATOM, CHARSET_PAGE, None]
    full = _one(k, pages, cols, key, payload)
    empty = _one(k, [NO_ROWS_PAGE], cols, key, payload)
    assert len(full) > 0
    for out in (full, empty):
        assert list(out.columns) == schema.fieldNames()
        pa.Table.from_pandas(out, schema=to_arrow_schema(schema),
                             preserve_index=False, safe=True)


def test_multi_row_kernels_emit_zero_rows_on_a_plain_page():
    # the conformance test above covers an empty output frame only if the
    # plain page really yields none from each multi-row kernel
    for name in ("tables", "rdfa", "microdata", "structured_data",
                 "outlinks", "discover_feeds", "sitemaps", "feeds"):
        k, _, cols, key, payload = KERNELS[name]()
        assert len(_one(k, [NO_ROWS_PAGE], cols, key, payload)) == 0, name


def test_kernels_agree_on_declared_charset():
    cols = ["url", "warc_ts", "html", "lang"]

    def cp1252(s):
        return s.encode("utf-8").decode("cp1252")
    meta = _one(kernel.make_page_meta_kernel(), [CHARSET_PAGE], cols)
    analysis = _one(kernel.make_analysis_kernel(), [CHARSET_PAGE], cols)
    tables = _one(kernel.make_tables_kernel(), [CHARSET_PAGE], cols)
    flags = _one(kernel.make_robots_kernel(), [CHARSET_PAGE], cols)
    assert meta["title_text"][0] == analysis["title_text"][0] \
        == cp1252("café") == "cafÃ©"
    assert tables["cell"].tolist() == [cp1252("naïve")]
    assert (flags[["noindex", "nofollow"]].values.tolist()
            == analysis[["noindex", "nofollow"]].values.tolist())
