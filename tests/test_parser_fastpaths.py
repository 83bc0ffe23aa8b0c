"""The parser's fused fast paths, checked against its general machine.

Focused pins for each boundary between a fast-path regex and the general
state machine, then the differential test: every fast-path regex (alone,
then all four together) is replaced with a never-matching one, which sends
the shapes it covers through the general machine, and the parse must not
change.  Inputs: every parity fixture, every prefix of a few of them (EOF at
every offset) and 10^5 seeded generated tag soups, in both position modes.
"""
import random
import re

import pytest

import fortissimo_spark.parser as P
from fortissimo_spark.dom import (
    EXPLICITLY_CLOSED, SELF_CLOSED, UNCLOSED, VOID_CLOSED,
)
from fortissimo_spark.parser import parse
from tests.parser_fixtures import FIXTURES


def _attrs(b, node):
    nd = b.nodes[node]
    return list(zip(nd[14], nd[15], nd[16], nd[17], nd[18]))


def _els(result):
    b = result.dom
    return [i for i, nd in enumerate(b.nodes) if nd[0] == 0 and i != 0]


def test_literal_lt_pairwise_consumption():
    # '<' not followed by a markup-start char consumes the NEXT char too:
    # '<<p>>' must stay one text node (no <p> element)
    r = parse("<<p>>")
    assert r.errors == 1 and not _els(r)
    assert r.to_string() == "<<p>>"
    # but '<<<p>' re-synchronizes: the third '<' starts a real tag
    r = parse("<<<p>")
    assert [r.dom.nodes[e][2] for e in _els(r)] == ["p"]


def test_unquoted_value_trailing_slash_selfclose():
    r = parse("<a b=1/>")
    (el,) = _els(r)
    assert _attrs(r.dom, el) == [("b", "1", " ", "=", "")]
    assert r.dom.nodes[el][5] == SELF_CLOSED
    assert r.to_string() == "<a b=1/>"


def test_unterminated_quote_runs_to_eof():
    r = parse('<a b="unterminated')
    (el,) = _els(r)
    assert _attrs(r.dom, el) == [("b", "unterminated", " ", "=", '_"')]
    assert r.errors == 1 and r.dom.nodes[el][5] == UNCLOSED
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
        assert r.dom.nodes[el][14] == ["b", "c"]
        assert r.dom.nodes[el][15] == ["x", "y"]
        assert _attrs(r.dom, el) == _attrs(g.dom, gel)[1:]
        assert r.errors == 0
        assert r.to_string() == tag


def test_equals_then_gt_is_valueless_with_inner_ws():
    r = parse("<a b= >")
    (el,) = _els(r)
    assert _attrs(r.dom, el) == [("b", "", " ", "=", "")]
    assert r.dom.nodes[el][19] == " "  # inner whitespace
    assert r.to_string() == "<a b= >"


def test_end_tag_with_ws_before_gt():
    r = parse("<x></x \t>")
    (el,) = _els(r)
    assert r.dom.nodes[el][5] == EXPLICITLY_CLOSED
    assert r.dom.nodes[el][11] == "</x \t>"
    assert r.errors == 0


def test_void_and_raw_text_paths():
    r = parse("<br><script>if (a<b) x();</script>")
    els = _els(r)
    tags = [r.dom.nodes[e][2] for e in els]
    assert tags == ["br", "script"]
    assert r.dom.nodes[els[0]][5] == VOID_CLOSED
    assert r.to_string() == "<br><script>if (a<b) x();</script>"


def test_token_count_contract():
    from fortissimo_spark.kernel import process_document
    d = process_document(b"<p>one two\tthree\nfour</p>")
    assert d["token_count"] == 4
    d = process_document(b"<p> </p>")
    assert d["token_count"] == 0


# --- differential test: fast paths vs the general machine -------------------

FAST_PATHS = ("_RE_STAG_FAST", "_RE_ATTR_FAST", "_RE_TAG_CLOSE", "_RE_END_FAST")
DISABLED_SETS = [(name,) for name in FAST_PATHS] + [FAST_PATHS]
NEVER = re.compile(r"(?!)")
GENERATED_DOCS = 100_000
SEED = 20_251_017

# generator alphabet: quotes, '=', '/', plain and astral whitespace, meta
# charset sniffing, raw-text tags, <svg> + CDATA, comments, implied closes.
# Well-formed shapes are weighted up so that every fast path matches often.
_WS = ("",) * 6 + (" ",) * 4 + ("  ", "\t", "\n", "\r\n", "\f", "\U00010000",
                              " \U0001f600 ")
_SEP = (" ",) * 8 + ("  ", "\t", "\n", "", "\U00010000", " \U0001f600 ")
_TAGS = ("a", "p", "P", "td", "tr", "th", "table", "tbody", "li", "ul", "dt",
         "meta", "br", "img", "svg", "math", "script", "style", "textarea",
         "x:y", "a\U00010001", "b")
_ANAMES = ("b", "c", "charset", "http-equiv", "content", "x\U00010002", "/",
           "=", '"', "'", "d'e")
_VALUES = ('"x"', '"x"', "'y'", "'y'", "1", "1", "", '"', "'", '""',
           "utf-8", "'latin-1'", "content-type",
           '"text/html; charset=iso-8859-1"', "text/html;charset=koi8-r",
           '"a b > c"', "'q\nr'", "1/", "//", "/", "x/y", '"x"c="y"', "'x'c",
           "=c", "x\U00010003", "\U00010000x", '"unterminated', "'open")
_CLOSES = (">",) * 8 + ("/>",) * 2 + ("/ >", "", "/", "=>", "\U00010000>")
_TEXT = ("x", " ", "a b", "<", "<<", "&amp;", "\U00010000", "\n", "<3",
         "< p>", "\r")
_OTHER = ("<!-- c -->", "<!-- x --->", "<!--", "<![CDATA[d]]>", "<![CDATA[",
          "]]>", "<!doctype html>", "<?pi?>", "<!x>", "</", "</ >", "</>",
          "<svg><![CDATA[e>f]]></svg>", "<script>a<b</script>",
          "<textarea></textare></textarea>",
          "<!DOCTYPE html PUBLIC '-//W3C//DTD XHTML 1.0 Strict//EN'>")


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


def _snapshot(text: str, positions: bool):
    r = parse(text, positions=positions)
    return (r.dom.nodes, r.errors, r.charset, r.unclosed_tags,
            r.implicitly_closed_tags)


class _Spy:
    """A fast-path regex that records, in ``seen``, that it matched."""

    def __init__(self, name, rx, seen):
        self.name, self.rx, self.seen = name, rx, seen

    def match(self, t, pos):
        m = self.rx.match(t, pos)
        if m is not None:
            self.seen.add(self.name)
        return m


def _divergences(monkeypatch, docs, positions):
    """Compare each doc's default parse with its parse under every disabled
    set.  Returns (divergent (set, doc) pairs, per-set count of docs that
    exercised it).  A set none of whose regexes matched in the default
    parse cannot change it, so that pair is not re-parsed."""
    bad = []
    exercised = dict.fromkeys(DISABLED_SETS, 0)
    docs = iter(docs)
    while True:
        chunk = [d for _, d in zip(range(5000), docs)]
        if not chunk:
            return bad, exercised
        ref = []
        seen = set()
        with monkeypatch.context() as m:
            for name in FAST_PATHS:
                m.setattr(P, name, _Spy(name, getattr(P, name), seen))
            for d in chunk:
                seen.clear()
                ref.append((_snapshot(d, positions), frozenset(seen)))
        for disabled in DISABLED_SETS:
            with monkeypatch.context() as m:
                for name in disabled:
                    m.setattr(P, name, NEVER)
                for d, (want, used) in zip(chunk, ref):
                    if used.isdisjoint(disabled):
                        continue
                    exercised[disabled] += 1
                    if _snapshot(d, positions) != want:
                        bad.append((disabled, d))


@pytest.mark.parametrize("positions", [False, True])
def test_fast_paths_match_general_machine_on_fixtures(monkeypatch, positions):
    bad, exercised = _divergences(monkeypatch, FIXTURES + _prefix_docs(),
                                  positions)
    assert not bad, f"{len(bad)} divergences, first: {bad[:5]!r}"
    assert all(exercised.values()), exercised


@pytest.mark.parametrize("positions,ndocs", [(False, GENERATED_DOCS),
                                             (True, GENERATED_DOCS // 5)])
def test_fast_paths_match_general_machine_on_generated(monkeypatch, positions,
                                                       ndocs):
    bad, exercised = _divergences(monkeypatch, generated_docs(ndocs),
                                  positions)
    assert not bad, f"{len(bad)} divergences, first: {bad[:5]!r}"
    # every fast path must actually carry a good share of the documents
    assert min(exercised.values()) >= ndocs // 10, exercised
