"""The extract kernel's one-call row: ``_native.page()`` against the
Python path.

``kernel._extract_page`` hands a decoded, line-normalized page to the
native core's ``page()``, which parses and extracts it in one call with
the same charset retry hook as ``parse()``.  When the hook stops the
scan, the row calls ``page()`` once more on the re-decoded text; a page
with a token the core hands off takes ``decode_parse`` + ``extract``.
perfbench's text check compares Spark output with in-process
``process_document``, which never takes the one call, so this file is the
guard: every row must equal ``process_document``'s field for field, a page
must settle unless it hands off, a retried page must take two calls, and
every hand-off shape must fall back.
"""
import random

import pytest

import fortissimo_spark.kernel as K
import fortissimo_spark.parser as P
from fortissimo_spark.pages import page_for_doc
from tests.parser_fixtures import CHARSET_PAGES, FIXTURES, POP_SHAPES, table_soups
from tests.test_decode_parse import _pages as charset_pages
from tests.test_parser_fastpaths import _require_native, generated_docs

SEED = 20_261_020
REASONS = ("settled", "handoff")

# one page per token shape the core hands to the general machine: '<?',
# '<![' (CDATA in svg and a bare one), an xhtml doctype, end tags cut by
# EOF or a syntax error, '</>' and start tags cut by EOF
HANDOFF_SHAPES = [
    "<p>one<?pi?>two</p>", "<?xml version='1.0'?><p>x</p>",
    "<svg><![CDATA[x<y]]></svg><p>after</p>", "<p><![CDATA[x]]>",
    '<!DOCTYPE html PUBLIC "-//W3C//DTD XHTML 1.0 Strict//EN"><p>x</p>',
    "<p>x</p", "<p>x</", "<p>x</p x>tail", "<p>x</p\n", "</>x", "</ >",
    "<p>x<b", "<p>x<b ", "<p class='x", '<p class="x', "<p a=", "<p a= ",
    "<p a", "<div><table><td>x<?pi?><td>y</table></div>",
    "<meta charset=utf-8><p>x<?pi?>",
]


def _pages_for_docs(n: int, seed: int):
    rng = random.Random(seed)
    words = ("alpha", "beta", "caf\xe9", "a&amp;b", "x" * 30, "日本", "&#32;",
             "<b>bold</b>", "<td>cell", "<tr>", "\n")
    for doc_id in range(n):
        text = " ".join(rng.choice(words) for _ in range(rng.randint(1, 60)))
        yield page_for_doc(doc_id, text, rng.choice(("en", "de", None)))[
            "html"]


def _raws():
    docs = (FIXTURES + POP_SHAPES + CHARSET_PAGES + HANDOFF_SHAPES
            + list(table_soups(3_000)) + list(generated_docs(20_000)))
    raws = [d.encode("utf-8", "surrogatepass") for d in docs]
    raws += [d.replace("\n", "\r\n").encode() for d in FIXTURES[:60]]
    raws += [d.replace("\n", "\r").encode() for d in FIXTURES[:60]]
    raws += [b"\xef\xbb\xbf<meta charset=utf-8><p>bom</p>",
             "<meta charset=koi8-r><p>ж</p>".encode("utf-16"),
             "<meta charset=utf-8><p>ж</p>".encode("utf-16-be"),
             "<meta charset=iso-8859-1><p>caf\xe9</p>".encode("latin-1"),
             "<meta charset=ISO-8859-1><p>caf\xe9 \xe0</p>".encode("latin-1"),
             b"<meta http-equiv=content-type content='text/html; "
             b"charset=utf-8'><p>x</p>",
             b"<meta content='text/html; charset=koi8-r' "
             b"http-equiv=content-type><p>x</p>",
             b"<meta charset=latin-1 http-equiv=content-type><p>x</p>",
             b"<meta charset=latin-1 charset=''><p>x</p>",
             b"<meta charset=' '><meta charset=utf-8><p>x</p>",
             b"<meta charset=' utf-8\t'><p>x</p>",
             "<meta charset='\u3000koi8-r\u2003'><p>x</p>".encode(),
             b"<meta charset=nonesuch><p>x</p>",
             # a codec that is not a text encoding is no retry
             b"<meta charset=base64><p>caf\xc3\xa9</p>",
             b"<meta charset=rot13><p>caf\xe9</p>",
             b"<meta charset=windows-1252><p>plain ascii</p>"]
    raws += list(charset_pages())
    raws += list(_pages_for_docs(2_000, SEED))
    return raws


def _recording_page(monkeypatch):
    """Wraps the kernel's page() call: returns a list that gets, per
    call, the list of the charsets its hook was called with (None for a
    call without a hook)."""
    page = P._native.page
    calls = []

    def recording(text, on_charset, *args):
        if on_charset is None:
            calls.append(None)
            return page(text, None, *args)
        hooked = []
        calls.append(hooked)

        def hook(charset):
            hooked.append(charset)
            return on_charset(charset)

        return page(text, hook, *args)

    monkeypatch.setattr(K, "_NATIVE_PAGE", recording)
    return calls


def _row_and_path(raw):
    P._native.reset_stats()
    row = K._extract_page(raw, "density", False)
    stats = P._native.stats()
    return row, [k for k in REASONS if stats[k]]


def _python_row(raw, verify_roundtrip=False):
    doc = K.process_document(raw, verify_roundtrip=verify_roundtrip)
    return tuple(doc[f] for f in K._DOC_FIELDS)


def test_one_call_rows_equal_process_document(monkeypatch):
    _require_native()
    calls = _recording_page(monkeypatch)
    seen = dict.fromkeys(("settled", "handoff", "retried", "cr"), 0)
    bad = []
    for raw in _raws():
        calls.clear()
        row, path = _row_and_path(raw)
        assert len(path) == 1, (raw, path)
        seen[path[0]] += 1
        if row != _python_row(raw):
            bad.append(raw)
            continue
        P._native.reset_stats()
        _, _, declared, retried = K.decode_parse(raw)
        handed = any(v for k, v in P._native.stats().items()
                     if k.startswith("handoff_"))
        # the one call settles every page the core does not hand off
        assert (path == ["handoff"]) == handed, (raw, path)
        # a retried page takes two calls (one if the first hands off before
        # the declaring tag), the second on the re-decoded text without a
        # hook; the hook is called at most once per call
        assert 1 <= len(calls) <= 1 + retried, raw
        assert calls[0] is None or len(calls[0]) <= 1, raw
        if len(calls) == 2:
            assert calls == [[declared], None], raw
        if path == ["settled"]:
            assert len(calls) == 1 + retried, raw
            seen["retried"] += retried
            seen["cr"] += "\r" in K.decode_page_bytes(raw)[0]
    assert not bad, f"{len(bad)} divergences, first: {bad[:3]!r}"
    assert seen["settled"] > 15_000 and min(seen.values()) >= 60, seen


def test_every_handoff_shape_takes_the_fallback():
    _require_native()
    P._native.reset_stats()
    for doc in HANDOFF_SHAPES:
        P.parse(doc, positions=False)
    counts = P._native.stats()
    for name in ("handoff_decl", "handoff_pi", "handoff_end",
                 "handoff_start_eof"):
        assert counts[name], (name, counts)
    for doc in HANDOFF_SHAPES:
        raw = doc.encode()
        row, path = _row_and_path(raw)
        assert path == ["handoff"], (doc, path)
        assert row == _python_row(raw), doc


def test_only_density_without_the_roundtrip_check_takes_the_one_call():
    _require_native()
    raw = b"<html><body><p>a page of plain text</p><table><td>x</table>"
    assert _row_and_path(raw)[1] == ["settled"]
    for strip, verify in (("density", True), ("basic", False),
                          ("none", False)):
        P._native.reset_stats()
        row = K._extract_page(raw, strip, verify)
        assert not any(P._native.stats()[k] for k in REASONS)
        doc = K.process_document(raw, strip, verify_roundtrip=verify)
        assert row == tuple(doc[f] for f in K._DOC_FIELDS)


def test_rows_without_the_core_are_unchanged(monkeypatch):
    raws = [d.encode() for d in FIXTURES + HANDOFF_SHAPES]
    raws += list(_pages_for_docs(200, SEED + 1))
    want = [K._extract_page(raw, "density", False) for raw in raws]
    monkeypatch.setattr(K, "_NATIVE_PAGE", None)
    assert [K._extract_page(raw, "density", False) for raw in raws] == want
    assert want == [_python_row(raw) for raw in raws]


def test_page_checks_its_arguments():
    _require_native()
    args = (K.DROP_TAGS, K.INLINE_TAGS, K.BOOST_TAGS, K._MIN_BLOCK_CHARS,
            K._MAX_LINK_DENSITY, K.unescape_entities)
    page = P._native.page
    with pytest.raises(TypeError):
        page(b"<p>x", None, *args)
    with pytest.raises(TypeError):
        page("<p>x", None, *args[:-1])
    with pytest.raises(TypeError):
        page("<p>x", None, {}, *args)
    calls = []

    def hook(charset):
        calls.append(charset)
        return False

    # the hook is called once, at the end of the tag (one tag can set the
    # charset and set it again), with the value stripped as str.strip()
    # strips; later meta tags are not sniffed
    doc = "<meta charset=x charset=' y\u3000\t'><p>z<meta charset=w>"
    assert page(doc, hook, *args)[3] == "y"
    assert calls == ["y"]
    # set and cleared in one tag: no call, and the sniff goes on
    calls.clear()
    doc = "<meta charset=x charset=''><meta charset=' '><p>z<meta charset=w>"
    assert page(doc, hook, *args)[3] == "w"
    assert calls == ["w"]
    # a true answer stops the scan after the tag: page() returns None,
    # the declaring tag the last of the text too
    for doc in ("<meta charset=x><p>y", "<p>y</p><meta charset=x>"):
        assert page(doc, lambda charset: True, *args) is None
        assert P.parse(doc, on_charset=lambda charset: True).stopped
    # a None hook only reports the charset
    assert page("<meta charset=x><p>y", None, *args)[3] == "x"
    # the hook's error is the call's
    with pytest.raises(ZeroDivisionError):
        page("<meta charset=x><p>y", lambda charset: 1 / 0, *args)
    # what page() settles equals parse() with the same hook, then extract
    doc = "<meta charset=' y '><p>a &amp; b</p>\n<table><td>c</table>"
    got = page(doc, hook, *args)
    r = P.parse(doc, positions=False, on_charset=hook)
    ext = K.extract(r.dom, "density")
    assert got == (ext.text, ext.starts, ext.ends, r.charset, r.errors,
                   r.unclosed_tags, r.implicitly_closed_tags, ext.node_count,
                   ext.text_node_count, r.lines, len(ext.text.split()))
