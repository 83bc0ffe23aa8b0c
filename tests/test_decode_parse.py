"""The kernel's parse front end: the charset retry's early stop, the line
count and the native token count.

``decode_parse`` stops the first parse at the ``<meta>`` that declares a
charset needing a retry (``parse(on_charset=...)``) and parses the
re-decoded text at once.  It must return exactly what the old front end
returned, which parsed the whole page, threw the parse away and parsed
again: ``_full_parse_then_retry`` below is a copy of that logic, and every
page here goes through both, on both parse machines.  perfbench's text
check compares Spark output with in-process ``process_document`` of the
same code, so it cannot see a change here; this test is the guard.
"""
import itertools
import random
import sys

import pytest

import fortissimo_spark.kernel as K
import fortissimo_spark.parser as P
from fortissimo_spark.dom import ELEMENT, N_KIND, N_TAG, N_TAG_LC, count_eols
from fortissimo_spark.kernel import (
    _codec_name, decode_page_bytes, decode_parse,
)
from fortissimo_spark.parser import parse
from tests.parser_fixtures import CHARSET_PAGES, FIXTURES
from tests.test_parser_fastpaths import (
    _divergences, _require_native, generated_docs,
)


def _full_parse_then_retry(raw: bytes):
    """The front end before the early stop: parse the whole page, then
    re-decode and parse again if the declared charset asks for it."""
    text_src, used, pattern_detected = decode_page_bytes(raw)
    result = parse(text_src, positions=False)
    retried = False
    declared = result.charset
    if declared and not pattern_detected:
        declared_codec = _codec_name(declared)
        if declared_codec and declared_codec != _codec_name(used):
            try:
                retext = raw.decode(declared_codec, errors="replace")
            except LookupError:
                retext = None
            if retext is not None and retext != text_src:
                used = declared_codec
                result = parse(retext, positions=False)
                retried = True
    return result, used, declared, retried


def _fields(parsed):
    r, used, declared, retried = parsed
    b = r.dom
    return (list(b.nodes), b.open_stack, b.in_math_or_svg, r.errors, r.charset,
            r.unclosed_tags, r.implicitly_closed_tags, r.lines, r.xml_mode,
            r.stopped, r.text, r.characters, r.pattern_encoding, used,
            declared, retried)


_CHARSETS = ("windows-1252", "latin-1", "iso-8859-1", "ISO-8859-1", "koi8-r",
             "shift_jis", "utf-8", "UTF8", "x-unknown-cs", "utf-16", "ascii",
             "cp1251", "", "utf-8:2020")
_METAS = (
    "<meta charset={cs}>", "<meta charset='{cs}'>", "<META CHARSET={cs}/>",
    "<meta http-equiv=content-type content='text/html; charset={cs}'>",
    "<meta content='text/html; charset={cs}' http-equiv=Content-Type>",
    "<meta content=\"charset={cs}\">",
    # the charset set and cleared again in one tag
    "<meta charset={cs} http-equiv=content-type>",
    "<meta charset={cs} content='x' http-equiv=content-type>",
    # '=' ends the tag: the meta stays open
    "<meta charset={cs} =>",
    # EOF inside the tag
    "<meta charset={cs}",
    "<!-- <meta charset={cs}> -->", "<script><meta charset={cs}></script>",
)
_WORDS = ("café", "naïve", "жук", "日本",
          "plain", "text", "\U0001f600", "a&amp;b", "<b>bold</b>", "<p>",
          "</i>", "\n", "\r\n", "<td>cell", "<br>")
_ENCODINGS = ("utf-8", "utf-8", "utf-8", "cp1252", "koi8-r", "shift_jis",
              "utf-16", "utf-16-le", "utf-8-sig", "ascii")


def retry_pages(n: int, seed: int = 7):
    """``n`` seeded pages: text in several scripts, zero to two meta tags
    declaring a charset (set and cleared in one tag, left open, cut by
    EOF, hidden in a comment or a script, before or after 2 KB), encoded
    in a charset that may or may not match, with or without a BOM."""
    rng = random.Random(seed)
    for _ in range(n):
        parts = [rng.choice(_WORDS) for _ in range(rng.randint(0, 12))]
        for _ in range(rng.choice((0, 1, 1, 1, 2))):
            meta = rng.choice(_METAS).format(cs=rng.choice(_CHARSETS))
            parts.insert(rng.randint(0, len(parts)), meta)
        if rng.random() < 0.1:
            parts.insert(0, "x" * 2100)
        text = "".join(parts)
        yield text.encode(rng.choice(_ENCODINGS), errors="replace")


def _pages():
    fixed = [p.encode() for p in CHARSET_PAGES]
    fixed += [p.encode("cp1252", errors="replace") for p in CHARSET_PAGES]
    fixed += [p.encode("utf-16") for p in CHARSET_PAGES]
    fixed += [fx.encode() for fx in FIXTURES if "meta" in fx.lower()]
    # a re-decode that equals the first decode: an ASCII page declaring
    # windows-1252 is not retried
    fixed += [b"<meta charset=windows-1252><p>plain ascii</p>",
              b"<meta charset=nonesuch><p>caf\xc3\xa9</p>",
              b"\xef\xbb\xbf<meta charset=windows-1252><p>caf\xc3\xa9</p>",
              b"<p>caf\xe9</p><meta charset=windows-1252>",
              b"<meta charset=utf-8><p>caf\xe9</p>",
              "<meta charset=koi8-r>ж".encode("utf-16-le")]
    return itertools.chain(fixed, retry_pages(6_000))


@pytest.mark.parametrize("machine", ["native", "general"])
def test_decode_parse_equals_full_parse_then_retry(monkeypatch, machine):
    if machine == "native":
        _require_native()
    else:
        monkeypatch.setattr(P, "_NATIVE_SCAN", None)
    first_parses = []

    def recording_parse(text, **kwargs):
        r = parse(text, **kwargs)
        first_parses.append(r)
        return r

    monkeypatch.setattr(K, "parse", recording_parse)
    seen = {"retried": 0, "kept": 0, "pattern": 0, "cleared": 0}
    for raw in _pages():
        first_parses.clear()
        got = decode_parse(raw)
        want = _full_parse_then_retry(raw)
        assert _fields(got) == _fields(want), raw
        _, used, declared, retried = got
        # a retried page's first parse stopped at the declaring meta tag;
        # any other page is parsed once, to the end
        assert [r.stopped for r in first_parses] == (
            [True, False] if retried else [False]), raw
        if retried:
            seen["retried"] += 1
            first = first_parses[0]
            assert first.charset == declared
            assert [nd[N_TAG_LC] for nd in first.dom.nodes
                    if nd[N_KIND] == ELEMENT][-1] == "meta", raw
        elif declared:
            seen["pattern" if decode_page_bytes(raw)[2] else "kept"] += 1
        elif b"http-equiv=content-type" in raw.replace(b"\x00", b""):
            seen["cleared"] += 1
    assert min(seen.values()) >= 50, seen


def test_on_charset_is_called_once_at_the_end_of_the_tag(monkeypatch):
    for native in (P._NATIVE_SCAN, None):
        monkeypatch.setattr(P, "_NATIVE_SCAN", native)
        calls = []

        def hook(cs):
            calls.append(cs)
            return False

        # set, then cleared by a later attribute of the same tag: no call
        r = parse("<meta charset=latin-1 http-equiv=content-type><p>x",
                  on_charset=hook)
        assert (calls, r.charset, r.stopped) == ([], None, False)
        # an empty charset keeps the sniff going; the first non-empty one
        # calls the hook once, and later metas are not sniffed
        r = parse("<meta charset=''><meta charset=utf-8><meta charset=koi8-r>",
                  on_charset=hook)
        assert (calls, r.charset, r.stopped) == (["utf-8"], "utf-8", False)
        calls.clear()
        # the content-type two-step within one tag
        parse("<meta content='text/html; charset=koi8-r' "
              "http-equiv=content-type>", on_charset=hook)
        assert calls == ["koi8-r"]


def test_on_charset_stops_after_the_tag(monkeypatch):
    doc = "<p>one\r\ntwo</b>\n<meta charset=koi8-r>\n<p>three</p>\n"
    results = []
    for native in (P._NATIVE_SCAN, None):
        monkeypatch.setattr(P, "_NATIVE_SCAN", native)
        r = parse(doc, on_charset=lambda cs: True)
        results.append((list(r.dom.nodes), r.dom.open_stack, r.errors, r.lines,
                        r.charset, r.unclosed_tags))
        assert r.stopped and r.charset == "koi8-r"
        # what was read: up to the meta tag, not the text after it
        assert r.dom.nodes[-1][N_TAG] == "meta"
        assert (r.errors, r.lines, r.unclosed_tags) == (1, 3, 1)
        assert r.to_string() == "<p>one\ntwo</b>\n<meta charset=koi8-r>"
    assert results[0] == results[1]


@pytest.mark.parametrize("positions", [False, True],
                         ids=["no-positions", "positions"])
def test_stopped_parses_match_general_machine(monkeypatch, positions):
    # a hook that always stops: both machines stop after the same tag
    _require_native()
    docs = (list(generated_docs(20_000)) + FIXTURES
            + [raw.decode("utf-8", "replace") for raw in retry_pages(6_000)])
    bad, counts = _divergences(monkeypatch, docs, True, positions,
                               on_charset=lambda cs: True)
    assert not bad, f"{len(bad)} divergences, first: {bad[:5]!r}"
    assert counts["meta_sniff"] >= 2_000, counts
    stopped = sum(parse(d, on_charset=lambda cs: True).stopped for d in docs)
    assert stopped >= 1_000, stopped


# --- the line count ----------------------------------------------------------

_EOLS = (True, "\n", "n", "lf", "\r", "r", "cr", "\r\n", "rn", "crlf", False,
         None, "", "x")


def test_line_count_is_one_pass_per_eol_option():
    # after EOL normalization eol_n is the only line break, so one count
    # of it equals count_eols over the text
    rng = random.Random(3)
    pieces = ("\r", "\n", "\r\n", "\n\r", "a", "<p>", "</p>", "\r\r", "\n\n")
    texts = ["", "\r", "\n", "\r\n", "\n\r", "\r\r\n\n"]
    texts += ["".join(rng.choice(pieces) for _ in range(rng.randint(1, 30)))
              for _ in range(2_000)]
    for eol in _EOLS:
        for text in texts:
            r = parse(text, eol=eol)
            assert r.lines == 1 + count_eols(r.text), (eol, text)


# --- the token count ---------------------------------------------------------

_SPACES = [chr(c) for c in range(sys.maxunicode + 1) if chr(c).isspace()]
_WORD_CHARS = {1: ("a", "é", "\x1b", "ÿ"),
               2: ("Ā", "☺", "​", "﻿"),
               4: ("\U0001f600", "\U00010000", "\U0010ffff")}


def _token_count():
    _require_native()
    return P._native.token_count


def test_native_token_count_on_every_space_char():
    count = _token_count()
    for width, words in _WORD_CHARS.items():
        top = {1: 0xFF, 2: 0xFFFF, 4: sys.maxunicode}[width]
        spaces = [s for s in _SPACES if ord(s) <= top]
        for s in spaces:
            for w in words:
                for doc in (s, w + s + w, s + w + s, s * 3 + w * 2 + s,
                            w + s + s + w + s + w):
                    assert count(doc) == len(doc.split()), (width, doc)
    # every code point, each between two spaces
    doc = " ".join(map(chr, range(sys.maxunicode + 1)))
    assert count(doc) == len(doc.split())


def test_native_token_count_fuzz():
    count = _token_count()
    rng = random.Random(13)
    for width, words in _WORD_CHARS.items():
        top = {1: 0xFF, 2: 0xFFFF, 4: sys.maxunicode}[width]
        alphabet = [s for s in _SPACES if ord(s) <= top] + list(words) * 4
        for _ in range(20_000):
            doc = "".join(rng.choice(alphabet)
                          for _ in range(rng.randint(0, 24)))
            assert count(doc) == len(doc.split()), (width, doc)
    with pytest.raises(TypeError):
        count(b"a b")

