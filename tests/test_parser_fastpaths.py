"""The parser's native core, checked against its general machine.

Focused pins for each boundary between the native core and the general
state machine, then the differential test: every document is parsed
through the native core and again with it disabled (``_NATIVE_SCAN`` and
``_NATIVE_CENSUS`` set to None, so the general machine reads every token
and ``DocBuilder.count_unclosed_flat`` counts), and the two parses must
agree on every node field, the error count, the charset and the element
counts, and with ``positions=True`` on every node's line, column, end line
and end column.  Inputs: every parity fixture, every prefix of a few of
them (EOF at every offset), 10^5 seeded generated tag soups with 2*10^4
soups of misnested end tags (the core's tree repair: unwinds, marker
blocks, tables and math/svg closed by an unwind, ``<//>`` at the root,
unmatched closes), 2*10^4 table soups and pages for the core's intern
cache (collisions, its length bound, Latin-1 and 2-byte names).  Then
the build: the core must load wherever a compiler and the Python headers
exist, ship in the ``--py-files`` zip, and its absence must leave
``parse()`` and density ``extract()`` working.  The charset hook's early
stop and the native token count are checked in
``tests/test_decode_parse.py``.
"""
import itertools
import json
import os
import random
import re
import shlex
import shutil
import subprocess
import sys
import sysconfig

import pytest

import fortissimo_spark.parser as P
from fortissimo_spark import dom
from fortissimo_spark.dom import (
    _ATTR_SLOTS, ELEMENT, EXPLICITLY_CLOSED, IMPLICITLY_CLOSED, N_ATTR_EQUALS,
    N_ATTR_NAMES, N_ATTR_QUOTES, N_ATTR_SPACING, N_ATTR_VALUES, N_CLOSURE,
    N_CONTENT, N_END_AT, N_END_TAG, N_INNER_WS, N_KIND, N_SRC_END,
    N_SRC_START, N_SYNTHETIC, N_TAG, N_TAG_LC, SELF_CLOSED, UNCLOSED,
    UNMATCHED_CLOSE, VOID_CLOSED,
)
from fortissimo_spark.extract import extract
from fortissimo_spark.kernel import process_document
from fortissimo_spark.parser import parse
from tests.parser_fixtures import FIXTURES, POP_SHAPES, pop_soups, table_soups

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _attrs(b, node):
    nd = b.nodes[node]
    return list(zip(nd[N_ATTR_NAMES], nd[N_ATTR_VALUES], nd[N_ATTR_SPACING],
                    nd[N_ATTR_EQUALS], nd[N_ATTR_QUOTES]))


def _els(result):
    b = result.dom
    return [i for i, nd in enumerate(b.nodes)
            if nd[N_KIND] == ELEMENT and i != 0]


def test_literal_lt_pairwise_consumption():
    # '<' not followed by a markup-start char consumes the NEXT char too:
    # '<<p>>' must stay one text node (no <p> element)
    r = parse("<<p>>")
    assert r.errors == 1 and not _els(r)
    assert r.to_string() == "<<p>>"
    # but '<<<p>' re-synchronizes: the third '<' starts a real tag
    r = parse("<<<p>")
    assert [r.dom.nodes[e][N_TAG_LC] for e in _els(r)] == ["p"]


def test_unquoted_value_trailing_slash_selfclose():
    r = parse("<a b=1/>")
    (el,) = _els(r)
    assert _attrs(r.dom, el) == [("b", "1", " ", "=", "")]
    assert r.dom.nodes[el][N_CLOSURE] == SELF_CLOSED
    assert r.to_string() == "<a b=1/>"


def test_unterminated_quote_runs_to_eof():
    r = parse('<a b="unterminated')
    (el,) = _els(r)
    assert _attrs(r.dom, el) == [("b", "unterminated", " ", "=", '_"')]
    assert r.errors == 1 and r.dom.nodes[el][N_CLOSURE] == UNCLOSED
    assert r.to_string() == '<a b="unterminated'


def test_astral_chars_are_tag_whitespace():
    # astral-plane chars count as whitespace inside tags (reference quirk)
    r = parse("<a \U00010000 b=1>")
    (el,) = _els(r)
    assert _attrs(r.dom, el) == [("b", "1", " \U00010000 ", "=", "")]
    assert r.errors == 0
    assert r.to_string() == "<a \U00010000 b=1>"


def test_attrless_tag_resets_pending_charset():
    # an intervening attribute-less tag must clear a pending charset
    # exactly like any other start tag (the content-type two-step)
    r = parse("<meta content='charset=latin-1'><br>"
              "<meta http-equiv='content-type' content='x'>")
    assert r.charset is None
    # without the intervening tag the pending charset survives
    r2 = parse("<meta content='charset=latin-1' "
               "http-equiv='content-type'>")
    assert r2.charset == "latin-1"


def test_stray_slash_attribute():
    r = parse("<a b / c>")
    (el,) = _els(r)
    assert _attrs(r.dom, el) == [
        ("b", "", " ", "", ""), ("/", "", " ", "", ""),
        ("c", "", " ", "", "")]
    assert r.to_string() == "<a b / c>"


def test_quote_adjacent_attributes_match_general_machine():
    # '<a b="x"c="y">': a quoted value in the fused start-tag regex must be
    # followed by the tag close, so this tag misses it and its attributes
    # are read one by one, exactly as after a leading 'z=1'
    for q in ('"', "'"):
        tag = f"<a b={q}x{q}c={q}y{q}>"
        r = parse(tag)
        g = parse(f"<a z=1 b={q}x{q}c={q}y{q}>")
        (el,) = _els(r)
        (gel,) = _els(g)
        assert r.dom.nodes[el][N_ATTR_NAMES] == ["b", "c"]
        assert r.dom.nodes[el][N_ATTR_VALUES] == ["x", "y"]
        assert _attrs(r.dom, el) == _attrs(g.dom, gel)[1:]
        assert r.errors == 0
        assert r.to_string() == tag


def test_equals_then_gt_is_valueless_with_inner_ws():
    r = parse("<a b= >")
    (el,) = _els(r)
    assert _attrs(r.dom, el) == [("b", "", " ", "=", "")]
    assert r.dom.nodes[el][N_INNER_WS] == " "  # inner whitespace
    assert r.to_string() == "<a b= >"


def test_end_tag_with_ws_before_gt():
    r = parse("<x></x \t>")
    (el,) = _els(r)
    assert r.dom.nodes[el][N_CLOSURE] == EXPLICITLY_CLOSED
    assert r.dom.nodes[el][N_END_TAG] == "</x \t>"
    assert r.errors == 0


def test_void_and_raw_text_paths():
    r = parse("<br><script>if (a<b) x();</script>")
    els = _els(r)
    tags = [r.dom.nodes[e][N_TAG_LC] for e in els]
    assert tags == ["br", "script"]
    assert r.dom.nodes[els[0]][N_CLOSURE] == VOID_CLOSED
    assert r.to_string() == "<br><script>if (a<b) x();</script>"


def test_token_count_contract():
    # token_count is len(text.split()), counted in the native core when it
    # loaded (tests/test_decode_parse.py fuzzes the two against each other)
    from fortissimo_spark.kernel import _token_count, process_document
    d = process_document(b"<p>one two\tthree\nfour</p>")
    assert d["token_count"] == 4
    d = process_document(b"<p> </p>")
    assert d["token_count"] == 0
    d = process_document("<p>a\u3000b c d\x1ce\x85f</p>".encode())
    assert d["token_count"] == len(d["text"].split()) == 6
    assert _token_count("a \u0085b  c") == 3


# --- differential test: the native core vs the general machine -------------

GENERATED_DOCS = 100_000
POP_SOUPS = 20_000
TABLE_SOUPS = 20_000
SEED = 20_251_017

# generator alphabet: quotes, '=', '/', plain and astral whitespace, meta
# charset sniffing, raw-text tags, <svg> + CDATA, comments, implied closes.
# Well-formed shapes are weighted up so that every branch of the native
# core is taken often.
_WS = ("",) * 6 + (" ",) * 4 + ("  ", "\t", "\n", "\r\n", "\f", "\U00010000",
                              " \U0001f600 ")
_SEP = (" ",) * 8 + ("  ", "\t", "\n", "", "\U00010000", " \U0001f600 ")
_TAGS = ("a", "p", "P", "td", "tr", "th", "table", "tbody", "li", "ul", "dt",
         "meta", "br", "img", "svg", "math", "script", "style", "textarea",
         "x:y", "a\U00010001", "b", "DIV", "Table", "\u00e9", "D\u0130V",
         "\u212abd", "ScRiPt", "x" * 30)
_ANAMES = ("b", "c", "charset", "http-equiv", "content", "x\U00010002", "/",
           "=", '"', "'", "d'e")
_VALUES = ('"x"', '"x"', "'y'", "'y'", "1", "1", "", '"', "'", '""',
           "utf-8", "'latin-1'", "content-type",
           '"text/html; charset=iso-8859-1"', "text/html;charset=koi8-r",
           '"a b > c"', "'q\nr'", "1/", "//", "/", "x/y", '"x"c="y"', "'x'c",
           "=c", "x\U00010003", "\U00010000x", '"unterminated', "'open")
_CLOSES = (">",) * 8 + ("/>",) * 2 + ("/ >", "", "/", "=>", "\U00010000>")
_TEXT = ("x", " ", "a b", "<", "<<", "&amp;", "\U00010000", "\n", "<3",
         "< p>", "\r", "\u263a", "\u00e9", "\u212a")
_OTHER = ("<!-- c -->", "<!-- x --->", "<!--", "<![CDATA[d]]>", "<![CDATA[",
          "]]>", "<!doctype html>", "<?pi?>", "<!x>", "</", "</ >", "</>",
          "<svg><![CDATA[e>f]]></svg>", "<script>a<b</script>",
          "<textarea></textare></textarea>",
          "<!DOCTYPE html PUBLIC '-//W3C//DTD XHTML 1.0 Strict//EN'>",
          "<!DOCTYPE HTML>", "<!doctype>", "<![if x]>")


def _start_tag(rng: random.Random) -> str:
    parts = ["<", rng.choice(_TAGS)]
    for _ in range(rng.choice((0, 0, 1, 1, 1, 2, 3))):
        parts.append(rng.choice(_SEP))
        parts.append(rng.choice(_ANAMES))
        if rng.random() < 0.7:
            parts += [rng.choice(_WS), "=", rng.choice(_WS),
                      rng.choice(_VALUES)]
    parts.append(rng.choice(_WS))
    parts.append(rng.choice(_CLOSES))
    return "".join(parts)


def _end_tag(rng: random.Random) -> str:
    lead = rng.choice(_SEP) if rng.random() < 0.1 else ""
    return ("</" + lead + rng.choice(_TAGS) + rng.choice(_WS)
            + rng.choice((">",) * 6 + ("x>", "", "/>")))


def generated_docs(n: int, seed: int = SEED):
    """``n`` seeded tag soups of one to seven pieces; every fifth is cut at a
    random offset so EOF lands inside markup."""
    rng = random.Random(seed)
    for _ in range(n):
        pieces = []
        for _ in range(rng.randint(1, 7)):
            r = rng.random()
            if r < 0.45:
                pieces.append(_start_tag(rng))
            elif r < 0.7:
                pieces.append(_end_tag(rng))
            elif r < 0.9:
                pieces.append(rng.choice(_TEXT))
            else:
                pieces.append(rng.choice(_OTHER))
        doc = "".join(pieces)
        if rng.random() < 0.2:
            doc = doc[:rng.randrange(len(doc) + 1)]
        yield doc


def _prefix_docs():
    """Every prefix of a few multi-shape fixtures (EOF at every offset)."""
    rich = [fx for fx in FIXTURES if len(fx) > 25] + ["".join(FIXTURES[:60])]
    return [doc[:j] for doc in rich for j in range(len(doc) + 1)]


def _snapshot(text: str, empty_end_tag: bool, positions: bool,
              on_charset=None):
    r = parse(text, positions=positions, empty_end_tag=empty_end_tag,
              on_charset=on_charset)
    b = r.dom
    snap = (list(b.nodes), b.open_stack, b.in_math_or_svg, r.errors, r.charset,
            r.unclosed_tags, r.implicitly_closed_tags, r.lines, r.xml_mode,
            r.stopped)
    if positions:
        snap += ([b.line_col(i) + b.line_col(i, end=True)
                  for i in range(len(b.nodes))],)
    return snap


def _require_native():
    # without a compiler there is nothing to compare; with one, the core
    # must have built (test_native_core_loads_where_a_compiler_exists)
    if not P.NATIVE and not _have_compiler():
        pytest.skip("no C compiler and Python headers: no native core")
    assert P.NATIVE


# the counters of _native.stats() that are not token branches: page()
# outcomes, meta tags sniffed in Python and records built
NOT_BRANCHES = ("settled", "handoff", "python_sniff", "records")


def _branch_counts():
    return {k: v for k, v in P._native.stats().items()
            if k not in NOT_BRANCHES}


def _divergences(monkeypatch, docs, empty_end_tag, positions,
                 on_charset=None):
    """Parse each doc through the native core, then with it disabled.
    Returns (divergent docs, the core's per-branch token counts: tokens it
    owned and tokens it handed to the general machine)."""
    bad = []
    P._native.reset_stats()
    docs = iter(docs)
    while True:
        chunk = [d for _, d in zip(range(5000), docs)]
        if not chunk:
            return bad, _branch_counts()
        want = [_snapshot(d, empty_end_tag, positions, on_charset)
                for d in chunk]
        counts = P._native.stats()
        with monkeypatch.context() as m:
            m.setattr(P, "_NATIVE_SCAN", None)
            m.setattr(P, "_NATIVE_CENSUS", None)
            for d, w in zip(chunk, want):
                if _snapshot(d, empty_end_tag, positions, on_charset) != w:
                    bad.append(d)
        # the reference pass really ran without the core
        assert P._native.stats() == counts


def _arms(*cases):
    """Each case without and then with positions; a positions arm's id
    ends in '-positions'."""
    return [pytest.param(*case, positions,
                         id="-".join(map(str, case))
                         + ("-positions" if positions else ""))
            for positions in (False, True) for case in cases]


@pytest.mark.parametrize("empty_end_tag,positions", _arms((False,), (True,)))
def test_fast_paths_match_general_machine_on_fixtures(monkeypatch,
                                                      empty_end_tag,
                                                      positions):
    _require_native()
    bad, counts = _divergences(monkeypatch, FIXTURES + _prefix_docs(),
                               empty_end_tag, positions)
    assert not bad, f"{len(bad)} divergences, first: {bad[:5]!r}"
    # every branch of the core, owned and handed off, is exercised
    assert all(counts.values()), counts


@pytest.mark.parametrize("tables,ndocs,positions",
                         _arms((False, GENERATED_DOCS), (True, TABLE_SOUPS)))
def test_fast_paths_match_general_machine_on_generated(monkeypatch, tables,
                                                       ndocs, positions):
    _require_native()
    docs = (table_soups(ndocs) if tables else
            itertools.chain(generated_docs(ndocs), pop_soups(POP_SOUPS)))
    bad, counts = _divergences(monkeypatch, docs, True, positions)
    assert not bad, f"{len(bad)} divergences, first: {bad[:5]!r}"
    if tables:
        # unwinds and table repair go through the core's tree repair
        assert counts["end_unwind"] >= ndocs // 2, counts
    else:
        # every branch counts at least one token per hundred documents,
        # and the tree repair's two outcomes 10^4 each
        assert min(counts.values()) >= ndocs // 100, counts
        assert counts["end_unwind"] >= 10_000, counts
        assert counts["end_unmatched"] >= 10_000, counts


@pytest.mark.parametrize("positions", [False, True],
                         ids=["no-positions", "positions"])
def test_tree_repair_matches_general_machine(monkeypatch, positions):
    # the pop-heavy shapes and every prefix of them, both empty_end_tag
    # values: the core's repair() builds what DocBuilder.pop builds
    _require_native()
    docs = POP_SHAPES + [d[:j] for d in POP_SHAPES for j in range(len(d))]
    for empty_end_tag in (False, True):
        bad, counts = _divergences(monkeypatch, docs, empty_end_tag,
                                   positions)
        assert not bad, f"{len(bad)} divergences, first: {bad[:5]!r}"
        assert counts["end_unwind"] and counts["end_unmatched"], counts


def test_tree_repair_outcomes():
    # a few outcomes pinned by hand, whichever machine parses
    def closes(doc):
        b = parse(doc).dom
        return ([nd[N_CLOSURE] for nd in list(b.nodes)[1:]
                 if nd[N_KIND] == ELEMENT],
                [nd[N_CONTENT] for nd in b.nodes
                 if nd[N_KIND] == UNMATCHED_CLOSE], b.open_stack,
                b.in_math_or_svg)

    # a marker element blocks a formatting element's end tag
    assert closes("<b><td></b>") == ([UNCLOSED, UNCLOSED], ["</b>"],
                                     [0, 1, 2], 0)
    # '<//>' with only the root open closes the root, which stays open
    b = parse("<//>x").dom
    assert (b.nodes[0][N_CLOSURE], b.nodes[0][N_END_TAG], b.open_stack) == (
        EXPLICITLY_CLOSED, "<//>", [0])
    # with an element open, '<//>' matches only the root: unmatched
    assert closes("<p><//>")[1] == ["<//>"]
    # the unwind closes what lies above the match implicitly
    assert closes("<div><b><i>x</div>")[0] == [
        EXPLICITLY_CLOSED, IMPLICITLY_CLOSED, IMPLICITLY_CLOSED]
    # math and svg closed by an unwind leave the counter
    assert closes("<div><svg><math><g></div><p>")[3] == 0
    assert closes("<div><svg><math><g></g><p>")[3] == 2
    # a table closed by an unwind is repaired: its cells get a row
    r = parse("<div><table><td>x</div>")
    assert r.to_string() == "<div><table><td>x</div>"
    assert [nd[N_TAG] for nd in r.dom.nodes if nd[N_SYNTHETIC]] == ["/", "tr"]
    # an unmatched close at EOF carries its span and position
    (nd,) = [nd for nd in parse("<a></b>").dom.nodes
             if nd[N_KIND] == UNMATCHED_CLOSE]
    assert (nd[N_SRC_START], nd[N_SRC_END], nd[N_END_AT]) == (3, 7, 3)


def _record_docs():
    """Documents for the core's record paths: more distinct tag names than
    the intern cache has slots (so entries collide and are replaced), names
    at the cache's length bound and one past it, Latin-1 uppercase tag and
    attribute names, mixed-case end tags, and text with a char above
    U+00FF (2-byte kind: the cache is bypassed)."""
    slots, bound = P._native.INTERN_SLOTS, P._native.INTERN_MAX_LEN
    many = "".join(f"<t{j} a{j}=1>x</t{j}>" for j in range(3 * slots))
    docs = [many, many.upper(), many + many]
    for m in (bound - 3, bound - 2, bound - 1, bound, bound + 1):
        for name in ("x" * m, "X" * m, "\u00c4" * m):
            docs.append(f"<{name} {name}=1>y</{name}><{name}></{name} >")
    docs += ["<\u00c4B c=1></\u00e4b>", "<\u00c4B \u00c4C=1></\u00c4B>",
             "<\u00e4b \u00e4c=1></\u00c4B>", "<div></DiV>", "<DiV></dIv>",
             "<Table><tr><TD>x</td></TABLE>", "<SCRIPT>x</ScRiPt>",
             "<DIV \u010c=1>\u015d</div>", "<\u010cb c=1></\u010cB>",
             "<p>\u20ac</P><P class=x>y</p>"]
    return docs


@pytest.mark.parametrize("positions", [False, True],
                         ids=["no-positions", "positions"])
def test_record_paths_match_general_machine(monkeypatch, positions):
    # the intern cache's collisions, evictions and bypasses, and the shared
    # empty attribute tuple, build what the general machine builds
    _require_native()
    docs = _record_docs()
    docs += [d[:j] for d in docs[-10:] for j in range(len(d) + 1)]
    for empty_end_tag in (False, True):
        bad, _ = _divergences(monkeypatch, docs, empty_end_tag, positions)
        assert not bad, f"{len(bad)} divergences, first: {bad[:5]!r}"
    b = parse(docs[0]).dom
    assert [b.nodes[e][N_TAG] for e in range(1, len(b.nodes), 2)] == [
        f"t{j}" for j in range(3 * P._native.INTERN_SLOTS)]
    b = parse(docs[1]).dom
    assert b.nodes[1][N_TAG] == "T0" and b.nodes[1][N_TAG_LC] == "t0"
    assert b.nodes[1][N_ATTR_NAMES] == ["A0"]


def test_attribute_less_elements_hold_the_empty_tuple(monkeypatch):
    # both machines; the root comes from DocBuilder.new_element
    for native in (P._NATIVE_SCAN, None):
        monkeypatch.setattr(P, "_NATIVE_SCAN", native)
        r = parse("<p>x</p><br><a href=y>z</a>")
        b = r.dom
        p, br, a = _els(r)
        for el in (0, p, br):
            assert [b.nodes[el][f] for f in _ATTR_SLOTS] == [()] * 5
        assert b.nodes[a][N_ATTR_NAMES] == ["href"]


def test_native_census_matches_count_unclosed_flat():
    _require_native()
    docs = (FIXTURES + _prefix_docs() + list(generated_docs(20_000))
            + list(table_soups(2_000)))
    for doc in docs:
        b = parse(doc).dom
        assert P._native.census(b.nodes) == b.count_unclosed_flat(), doc
    with pytest.raises(TypeError):
        P._native.census(())
    with pytest.raises(TypeError):
        P._native.census([[0]])


@pytest.mark.parametrize("machine", ["native", "general"])
def test_unmatched_end_tags_carry_their_source_span(monkeypatch, machine):
    # every unmatched end tag reads back from the source: its span starts
    # at '</' and runs to its '>' or to EOF, and its position (N_END_AT)
    # lies inside it; the ones tree repair records sit at their '</'
    if machine == "native":
        _require_native()
    else:
        monkeypatch.setattr(P, "_NATIVE_SCAN", None)
    popped = 0
    docs = FIXTURES + list(generated_docs(20_000)) + list(table_soups(2_000))
    for doc in docs:
        r = parse(doc)
        if r.xml_mode:
            continue
        t = r.text
        for nd in r.dom.nodes:
            if nd[N_KIND] != UNMATCHED_CLOSE:
                continue
            s, e, at = nd[N_SRC_START], nd[N_SRC_END], nd[N_END_AT]
            assert 0 <= s <= at < e <= len(t), (doc, nd)
            assert t[s:e].startswith("</"), (doc, nd)
            assert t[s:e].endswith(">") or e == len(t), (doc, nd)
            popped += s == at
    assert popped >= 10_000, popped
    # xml mode: an end tag cut by a stray char ends where the char starts
    r = parse("<!DOCTYPE html PUBLIC '-//W3C//DTD XHTML 1.0 Strict//EN'>"
              "<a></b c>")
    (nd,) = [nd for nd in r.dom.nodes if nd[N_KIND] == UNMATCHED_CLOSE]
    assert r.text[nd[N_SRC_START]:nd[N_SRC_END]] == nd[N_CONTENT] == "</b "


def test_both_position_modes_build_equal_records():
    # a record holds offsets only: positions decide what line and col
    # read, never what is stored
    for doc in FIXTURES + list(generated_docs(2000)) + list(table_soups(500)):
        with_pos, without = parse(doc), parse(doc, positions=False)
        assert list(with_pos.dom.nodes) == list(without.dom.nodes), doc
        assert with_pos.lines == without.lines, doc
        b = without.dom
        assert all(b.line_col(i) == b.line_col(i, end=True) == (0, 0)
                   for i in range(len(b.nodes)))


def test_positions_parse_goes_through_the_native_core():
    _require_native()
    P._native.reset_stats()
    b = parse("<p class=x>one\n\t<b>two</b></p><!-- c -->").dom
    counts = P._native.stats()
    assert counts["start"] == 2 and counts["end_top"] == 2, counts
    assert counts["text"] == 2 and counts["comment"] == 1, counts
    assert b.line_col(3) + b.line_col(3, end=True) == (2, 9, 2, 15)


# --- the build --------------------------------------------------------------

def _have_compiler() -> bool:
    cc = shlex.split(sysconfig.get_config_var("CC") or "cc")[0]
    include = sysconfig.get_paths()["include"]
    return (shutil.which(cc) is not None
            and os.path.exists(os.path.join(include, "Python.h")))


def test_native_core_compiles_without_warnings(tmp_path):
    # the build's own compiler and include path, warnings as errors
    if not _have_compiler():
        pytest.skip("no C compiler and Python headers")
    from fortissimo_spark.native import compile_command
    src = os.path.join(ROOT, "fortissimo_spark", "_native.c")
    out = subprocess.run(
        compile_command(src, str(tmp_path / "_native.so"), "-Wall",
                        "-Wextra", "-Wno-unused-parameter", "-Werror"),
        capture_output=True, text=True)
    assert out.returncode == 0, out.stderr


def _c_enums(src: str) -> list[dict[str, int]]:
    """Every ``enum { ... }`` block of a C source as {name: value}, an
    entry without ``=`` one above the entry before it."""
    src = re.sub(r"/\*.*?\*/", "", src, flags=re.S)
    enums = []
    for body in re.findall(r"\benum\s*\{([^}]*)\}", src):
        values, value = {}, -1
        for entry in body.split(","):
            name, _, given = entry.partition("=")
            if name.strip():
                value = int(given) if given.strip() else value + 1
                values[name.strip()] = value
        enums.append(values)
    return enums


def test_native_enums_match_dom():
    # the core reads and writes records by its own copies of the slot,
    # kind and closure numbers; a change to one side alone breaks parity
    with open(os.path.join(ROOT, "fortissimo_spark", "_native.c")) as f:
        enums = _c_enums(f.read())
    (slots,) = [e for e in enums if "N_KIND" in e]
    (kinds,) = [e for e in enums if "ELEMENT" in e]
    (closures,) = [e for e in enums if "UNCLOSED" in e]
    b = dom.DocBuilder()
    leaf = b.nodes[b.new_leaf(dom.TEXT, "")]
    assert slots.pop("N_SLOTS") == len(b.nodes[0]) == len(leaf)
    assert slots == {n: v for n, v in vars(dom).items() if n.startswith("N_")}
    kinds["DOCTYPE"] = kinds.pop("DOCTYPE_NODE")
    assert kinds == {n.upper(): i for i, n in enumerate(dom.KIND_NAMES)
                     if n != "processing"}
    assert closures == {n.upper(): i for i, n in enumerate(dom.CLOSURE_NAMES)}
    for names in (kinds, closures):
        assert all(getattr(dom, n) == v for n, v in names.items())


def test_native_core_loads_where_a_compiler_exists():
    # fails rather than skips: a broken build must not pass on the Python
    # machine
    assert P.NATIVE or not _have_compiler()


_PROBE_DOC = ("<!doctype html><html lang=en><meta charset=utf-8><body>"
              "<h1>T</h1><p>one<p>two <b>three</i></table>")
_PROBE = """
import json, sys
import fortissimo_spark, fortissimo_spark.parser as P
r = P.parse(sys.argv[1], positions=False)
res = [fortissimo_spark.__file__, P.NATIVE, r.errors, len(r.dom.nodes),
       r.to_string()]
"""
# a page kernel drops the zip finders when its batches run out; a submodule
# first imported after that must still load from the zip
_PAGE_KERNEL_PROBE = """
import zipimport
import pandas as pd
from fortissimo_spark.kernel import make_extract_kernel, make_format_kernel
page = pd.DataFrame({"url": ["u"], "html": [sys.argv[1].encode()]})
(out,) = make_extract_kernel()(iter([page]))
res += [sum(isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()),
        "fortissimo_spark.formatter" in sys.modules]
(formatted,) = make_format_kernel()(iter([page]))
res += [sys.modules["fortissimo_spark.formatter"].__file__,
        out["text"].tolist(), len(formatted)]
"""


def _probe(doc, cwd, env, path=(), tail=""):
    code = ("import sys; sys.path[:0] = %r\n" % list(path) + _PROBE + tail
            + "print(json.dumps(res))\n")
    out = subprocess.run([sys.executable, "-c", code, doc], cwd=cwd, env=env,
                         capture_output=True, text=True, check=True)
    return json.loads(out.stdout.splitlines()[-1])


# density extraction without the core: the Python loop's ExtractResult
_EXTRACT_PROBE = """
import fortissimo_spark.extract as E
ext = E.extract(r.dom, "density")
res += [E._NATIVE_DENSITY is None,
        [ext.text, ext.starts, ext.ends, ext.kept_blocks, ext.total_blocks,
         ext.node_count, ext.text_node_count]]
"""


def test_no_compiler_falls_back_to_the_general_machine(tmp_path,
                                                       monkeypatch):
    # an empty cache and no compiler on PATH: the build fails at import
    doc = (_PROBE_DOC + "<p>caf&eacute; &#32;&#x1F600; <a href=x>a link</a>"
           " and enough words to keep</p>")
    env = dict(os.environ, HOME=str(tmp_path), PATH=str(tmp_path))
    (_, native, errors, n_nodes, text, no_native_density,
     ext) = _probe(doc, ROOT, env, tail=_EXTRACT_PROBE)
    monkeypatch.setattr(P, "_NATIVE_SCAN", None)
    r = parse(doc, positions=False)
    assert native is False
    assert (errors, n_nodes, text) == (r.errors, len(r.dom.nodes), doc)
    # extract(strip="density") runs the Python loop and gives the same
    # result as the core in this process
    want = extract(r.dom, "density")
    assert no_native_density is True
    assert ext == [want.text, want.starts, want.ends, want.kept_blocks,
                   want.total_blocks, want.node_count, want.text_node_count]
    assert want.kept_blocks >= 2


def test_unwritable_home_builds_nowhere_else(tmp_path):
    # no usable home: no core, and nothing built in the shared temp dir
    shared_tmp = tmp_path / "tmp"
    shared_tmp.mkdir()
    env = dict(os.environ, HOME=str(tmp_path / "missing"),
               TMPDIR=str(shared_tmp))
    doc = _PROBE_DOC
    _, native, errors, _, text = _probe(doc, ROOT, env)
    assert native is False
    assert list(shared_tmp.iterdir()) == []
    assert text == doc and errors == parse(doc).errors


def test_pyfiles_zip_carries_the_native_core(tmp_path):
    from fortissimo_spark.submit import build_pyfiles_zip
    zip_path = build_pyfiles_zip(str(tmp_path / "fortissimo_spark.zip"))
    run_dir = tmp_path / "elsewhere"
    run_dir.mkdir()
    # a fresh cache: the core is built from the source inside the zip
    env = dict(os.environ, HOME=str(tmp_path))
    doc = _PROBE_DOC
    (where, native, errors, _, text, finders, formatter_loaded,
     formatter_file, kernel_text, n_formatted) = _probe(
        doc, str(run_dir), env, [zip_path], _PAGE_KERNEL_PROBE)
    assert where.startswith(zip_path)
    assert native is True or not _have_compiler()
    assert text == doc and errors == parse(doc).errors
    assert kernel_text == [process_document(doc.encode())["text"]]
    assert finders == 0 and formatter_loaded is False
    assert formatter_file.startswith(zip_path) and n_formatted == 1
