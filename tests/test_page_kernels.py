"""Every kernel on the row-kernel loop in-process (no Spark): the loop's
batch contract over all 29, the page kernels' shared charset front end,
and integer columns that keep every 64-bit value."""

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import LongType, StringType, StructField, StructType

from fortissimo_spark import kernel
from fortissimo_spark.parser import parse
from tests.kernel_fixtures import (
    CHARSET_PAGE, MULTI_ROW_KERNELS, loop_kernels, page_kernels, run,
)

KERNELS = loop_kernels()


def _one(k, payloads, cols):
    (out,) = k(iter([pd.DataFrame({
        "url": [f"http://example.com/{i}" for i in range(len(payloads))],
        "warc_ts": pd.to_datetime(["2024-01-01"] * len(payloads)),
        "html": payloads, "lang": ["en"] * len(payloads)})[cols]]))
    return out


def _one_frame(k, payloads):
    (out,) = run(k, payloads)
    return out


def test_all_page_kernels_listed():
    assert len(page_kernels()) == 19
    assert len(KERNELS) == 29  # plus the ten folded kernels


@pytest.mark.parametrize("name", sorted(KERNELS))
def test_empty_batch_yields_nothing(name):
    assert run(KERNELS[name], []) == []


@pytest.mark.parametrize("name", sorted(KERNELS))
def test_none_payload_reads_as_empty_bytes(name):
    k = KERNELS[name]
    pd.testing.assert_frame_equal(_one_frame(k, [None]),
                                  _one_frame(k, [k.empty]))


@pytest.mark.parametrize("name", sorted(KERNELS))
def test_frames_conform_to_schema(name):
    k = KERNELS[name]
    full = _one_frame(k, k.fixtures)
    assert len(full) > 0
    for out in (full, _one_frame(k, [k.plain])):
        assert list(out.columns) == k.schema.fieldNames()
        pa.Table.from_pandas(out, schema=to_arrow_schema(k.schema),
                             preserve_index=False, safe=True)


def test_multi_row_kernels_emit_zero_rows_on_a_plain_page():
    # the conformance test above covers an empty output frame only if the
    # plain payload (a plain page, garbage for an archive or for a video
    # without a duration) really yields none from each multi-row kernel
    for name in MULTI_ROW_KERNELS:
        assert len(_one_frame(KERNELS[name], [KERNELS[name].plain])) == 0, \
            name


def test_long_column_with_null_keeps_64_bit_values():
    # a list column holding None is float64, which rounds 2^62+1 to 2^62
    # and passes Arrow's safe=True check; the loop builds Int64 instead
    schema = StructType([StructField("url", StringType()),
                         StructField("value", LongType())])
    big = (1 << 62) + 1
    k = kernel._page_kernel(schema,
                            lambda raw, parsed: [(big if raw else None,)])
    out = _one(k, [b"<p>x</p>", None], ["url", "html"])
    table = pa.Table.from_pandas(out, schema=to_arrow_schema(schema),
                                 preserve_index=False, safe=True)
    assert table.column("value").to_pylist() == [big, None]


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


@pytest.mark.parametrize("value,span", [
    ("3abc", 3), ("2.5", 2), ("1_0", 1), ("\u0663", 1), ("+2", 2),
    (" 4 ", 4), (" 4", 4), ("0", 1), ("-1", 1), ("x", 1),
    ("999", 999), ("1000", 1000), ("1001", 1001), ("65534", 65534),
    ("65535", 65535),
    pytest.param("0" * 5000 + "7", 7, id="leading-zeros-beyond-int-converts"),
    pytest.param("1" * 5000, 10 ** 5000, id="more-digits-than-int-converts")])
def test_table_spans_parse_as_html_non_negative_integers(value, span):
    # ASCII whitespace, an optional '+', then the leading ASCII digits (the
    # HTML rules a browser applies); no digits or a value below 1 reads 1,
    # and a span above the HTML limit (colspan 1,000, rowspan 65,534) reads
    # the limit, whatever its length
    html = f'<table><tr><td rowspan="{value}" colspan="{value}">c</td></table>'
    ((*_, rowspan, colspan, cell),) = kernel._tables_from_dom(parse(html).dom)
    assert (rowspan, colspan, cell) == (min(span, 65_534), min(span, 1_000),
                                        "c")


@pytest.mark.parametrize("html,rows", [
    ("<caption>lost</caption><tr><td>lost</td></tr>"
     "<table><caption>one</caption><caption>two</caption>"
     "<tr><th>h</th><td>a<table><tr><td>in</td></tr></table>b</td></tr>"
     "<tr><td>c</td></tr></table>",
     [(0, "one", 0, 0, True, "h"), (0, "one", 0, 1, False, "ainb"),
      (0, "one", 1, 0, False, "c"), (1, None, 0, 0, False, "in")]),
    ("<table><tr><td>x<div><table><td>y</td></table></div><td>z</table>",
     [(0, None, 0, 0, False, "xy"), (0, None, 0, 1, False, "z"),
      (1, None, 0, 0, False, "y")])])
def test_table_cells_attach_to_the_nearest_table_and_row(html, rows):
    # tables numbered in document order, the first caption wins, a nested
    # table's cells count only there, and a caption or row outside any
    # table is dropped
    got = kernel._tables_from_dom(parse(html).dom)
    assert [r[:5] + r[7:] for r in got] == rows


def test_oversized_table_span_passes_the_arrow_cast():
    # a span above int32 used to fail the Arrow conversion, and with it the
    # task: the clamp keeps every span inside the IntegerType columns
    page = b"<table><tr><td colspan=99999999999>x</td></tr></table>"
    schema = kernel._TABLES_SCHEMA
    out = _one(kernel.make_tables_kernel(), [page], ["url", "html"])
    table = pa.Table.from_pandas(out, schema=to_arrow_schema(schema),
                                 preserve_index=False, safe=True)
    assert table.select(["rowspan", "colspan", "cell"]).to_pylist() == [
        {"rowspan": 1, "colspan": 1_000, "cell": "x"}]
