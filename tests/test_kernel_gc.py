"""The extract kernel against process_document, and the cyclic-GC pause
every kernel on the row-kernel loop runs under (batches.gc_paused; no
Spark needed)."""

import contextlib
import gc

import pandas as pd
import pytest

from fortissimo_spark.kernel import make_extract_kernel, process_document
from fortissimo_spark.schema import EXTRACT_SCHEMA
from tests.kernel_fixtures import batch, folded_kernels

FIELDS = [f.name for f in EXTRACT_SCHEMA.fields
          if f.name not in ("url", "warc_ts", "lang")]

# UTF-8 bytes that declare windows-1252: decode_parse re-decodes and
# re-parses once
RETRY_PAGE = ('<html><head><meta charset="windows-1252"></head>'
              '<body><p>café crème brûlée, déjà vu</p></body></html>'
              ).encode("utf-8")
BOM_PAGE = b"\xef\xbb\xbf<html><body><p>text after a byte order mark</p>"

# every tree-repair path of DocBuilder plus the tokenizer's special modes
ADVERSARIAL = [
    b"<p><b>bold <i>both</b> italic</i> tail</p><b><i><u>x</b>y</u>z",
    b"<ul><li>one<li>two<li>three</ul><p>a<p>b<div>c</div>",
    b"<table><tr><td>a<td>b<tr><td>c</table>",
    b"</div></span>text</p></li></td></table></b>",
    b"<table><td>stray cell</td><th>head</th></table>x<table>tx<td>y",
    b"<dl><dt>t<dd>d<dt>u</dl><select><option>a<option>b</select>",
    b"<script>if (a<b) x('</p>');</script><style>p>b{}</style>"
    b"<textarea>&amp;<b></textarea>",
    b"<svg><![CDATA[x<y]]><g><![CDATA[unterminated",
    b"<div><span><a href='x'>" * 50 + b"</p>" * 60,
    b'<a b="x"c="y">quote-adjacent</a><a b=\'x\'c=\'y\'>',
    RETRY_PAGE,
    BOM_PAGE,
]


@contextlib.contextmanager
def _gc(enabled):
    """The caller's GC state for the block, restored after it."""
    was = gc.isenabled()
    (gc.enable if enabled else gc.disable)()
    try:
        yield
    finally:
        (gc.enable if was else gc.disable)()


def _batch(htmls):
    n = len(htmls)
    return pd.DataFrame({
        "url": [f"http://example.com/{i}" for i in range(n)],
        "warc_ts": pd.to_datetime(["2024-01-01"] * n),
        "html": htmls,
        "lang": ["en"] * n,
    })


def test_retry_page_retries():
    assert process_document(RETRY_PAGE)["encoding_retried"] is True


@pytest.mark.parametrize("verify_roundtrip", [False, True])
def test_kernel_rows_equal_process_document(verify_roundtrip):
    htmls = ADVERSARIAL + [None, b""]
    (out,) = make_extract_kernel("density", verify_roundtrip)(
        iter([_batch(htmls)]))
    assert list(out.columns) == [f.name for f in EXTRACT_SCHEMA.fields]
    for raw, row in zip(htmls, out.to_dict("records")):
        d = process_document(raw or b"", "density",
                             verify_roundtrip=verify_roundtrip)
        assert {k: row[k] for k in FIELDS} == {k: d[k] for k in FIELDS}, raw


def test_dom_is_acyclic():
    # the GC pause is leak-free only because a parsed page holds no
    # reference cycles: refcounting alone must free everything.  The
    # collector stays off so nothing is collected before the count.
    gc.collect()
    with _gc(False):
        for raw in ADVERSARIAL:
            process_document(raw, "density", verify_roundtrip=True)
        assert gc.collect() == 0


def test_extract_kernel_batch_is_acyclic():
    batch = _batch(ADVERSARIAL)
    kernel = make_extract_kernel("density")
    gc.collect()
    with _gc(False):
        out = list(kernel(iter([batch])))
        assert len(out) == 1 and len(out[0]) == len(ADVERSARIAL)
        del out
        assert gc.collect() == 0


FOLDED = folded_kernels()


@pytest.mark.parametrize("name", sorted(FOLDED))
def test_folded_kernel_batch_is_acyclic(name):
    # media, PDF, WARC/WET and page-generation rows, over payloads that
    # decode, degrade and fail, leave nothing for the paused collector
    k = FOLDED[name]
    inputs = batch(k, k.fixtures)
    list(k.fn(iter([inputs])))  # first use: lazy imports and caches
    gc.collect()
    with _gc(False):
        out = list(k.fn(iter([inputs])))
        assert len(out) == 1
        del out
        assert gc.collect() == 0


@pytest.mark.parametrize("caller_enabled", [True, False])
def test_kernel_restores_gc_state(caller_enabled):
    seen = []

    def feed():
        for htmls in (ADVERSARIAL[:3], ADVERSARIAL[3:]):
            seen.append(gc.isenabled())  # pulled while building a batch
            yield _batch(htmls)

    with _gc(caller_enabled):
        for _ in make_extract_kernel("density")(feed()):
            assert gc.isenabled() is caller_enabled
        assert gc.isenabled() is caller_enabled
    assert seen == [False, False]


@pytest.mark.parametrize("caller_enabled", [True, False])
def test_kernel_restores_gc_state_on_error(caller_enabled):
    # a str where bytes belong: bytes("...") raises mid-batch
    batch = _batch([b"<p>fine</p>", "not bytes", b"<p>never reached</p>"])
    with _gc(caller_enabled):
        with pytest.raises(TypeError):
            list(make_extract_kernel("density")(iter([batch])))
        assert gc.isenabled() is caller_enabled


def test_in_process_kernel_keeps_the_freeze_count():
    # no Spark task context: a driver, a test or an in-process benchmark
    # calling a kernel keeps its GC as it was (batches._freeze_worker_heap)
    frozen = gc.get_freeze_count()
    (out,) = make_extract_kernel()(iter([_batch(ADVERSARIAL)]))
    assert len(out) == len(ADVERSARIAL)
    assert gc.get_freeze_count() == frozen
