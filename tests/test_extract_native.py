"""Density extraction in the native core, checked against the Python loop.

``extract(strip="density")`` runs ``_native.density`` when the core
built; the Python loop in ``extract.py`` is the reference.  The
differential test extracts every document through the core and again
with ``extract._NATIVE_DENSITY`` set to None, and the two
``ExtractResult``s must agree on every field.  Inputs: the parser
fixtures and every prefix of the rich ones, the charset and XML pages,
10^5 generated tag soups and 2*10^4 table soups, generated corpus pages
(plus the parity corpus when ``.bench_scratch`` holds it), soups of
blocks, links and entities in non-ASCII and astral text, DOMs edited
after the parse, and 10^5-deep nesting.
"""
import os
import random

import pytest

import fortissimo_spark.extract as E
import fortissimo_spark.parser as P
from fortissimo_spark.dom import (
    CDATA, ELEMENT, N_CHILDREN, N_CONTENT, N_KIND, N_PARENT, N_SRC_START,
    N_TAG_LC, TEXT,
)
from fortissimo_spark.kernel import decode_parse
from fortissimo_spark.pages import page_for_doc
from fortissimo_spark.parser import parse
from tests.parser_fixtures import (
    CHARSET_PAGES, FIXTURES, XML_FIXTURES, corpus_pages, table_soups,
)
from tests.test_parser_fastpaths import (
    _have_compiler, _prefix_docs, generated_docs,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEED = 20_261_019


def _fields(ext):
    return (ext.text, ext.starts, ext.ends, ext.kept_blocks,
            ext.total_blocks, ext.node_count, ext.text_node_count)


def _require_native():
    if E._NATIVE_DENSITY is None and not _have_compiler():
        pytest.skip("no C compiler and Python headers: no native core")
    assert E._NATIVE_DENSITY is not None


def _doms(docs):
    for doc in docs:
        if isinstance(doc, bytes):
            yield decode_parse(doc)[0].dom
        else:
            yield parse(doc, positions=False).dom


def _divergences(monkeypatch, doms):
    """Extract each DOM through the core, then through the Python loop;
    returns the indices of the DOMs whose results differ."""
    bad = []
    doms = iter(doms)
    done = 0
    while True:
        chunk = [b for _, b in zip(range(2000), doms)]
        if not chunk:
            return bad
        got = [_fields(E.extract(b, "density")) for b in chunk]
        with monkeypatch.context() as m:
            m.setattr(E, "_NATIVE_DENSITY", None)
            for i, (b, g) in enumerate(zip(chunk, got)):
                if _fields(E.extract(b, "density")) != g:
                    bad.append(done + i)
        done += len(chunk)


# --- inputs -----------------------------------------------------------------

_BLOCKS = ("div", "p", "li", "td", "h2", "section", "title", "pre", "ul",
           "table", "article", "DIV", "Td")
_INLINE = ("a", "b", "span", "em", "code", "A", "font", "br")
_DROPPED = ("script", "nav", "footer", "svg", "select", "head")
_TEXT = ("x", "word ", " ", "\t\n", "\f\r", "\u2003", "\xa0", "\x0b",
         "caf\xe9", "\u263a\u263a", "\U0001f600", " \U00010000 ", "&amp;",
         "&amp", "&lt", "&#32;", "&#x20;", "&nbsp;", "&eacute;", "&#128512;",
         "&#xD800;", "&#x1F600", "&zz;", "&", "a long run of plain words for a block",
         "\u0130", "\u212a")


def density_soups(n: int, seed: int = SEED):
    """``n`` seeded nests of block, inline, link and dropped elements over
    whitespace, entity, non-ASCII and astral text (the shapes the density
    walk and its trim, counts and link share read)."""
    rng = random.Random(seed)
    for _ in range(n):
        parts = []
        open_tags = []
        for _ in range(rng.randint(1, 24)):
            r = rng.random()
            if r < 0.3:
                tag = rng.choice(_BLOCKS + _INLINE + _DROPPED
                                 if rng.random() < 0.3 else
                                 _BLOCKS + _INLINE)
                parts.append(f"<{tag}>")
                open_tags.append(tag)
            elif r < 0.45 and open_tags:
                parts.append(f"</{open_tags.pop()}>")
            else:
                parts.append("".join(rng.choice(_TEXT)
                                     for _ in range(rng.randint(1, 6))))
        yield "".join(parts)


def generated_pages(n: int):
    """Pages of the generator that builds the bench corpus, over words with
    non-ASCII and astral letters (every fifth page entity-encodes them)."""
    rng = random.Random(SEED)
    words = ("alpha", "beta", "caf\xe9", "na\xefve", "\u65e5\u672c",
             "\U0001f600x", "\u0434\u0430", "a&b", "<i>", "x" * 30)
    for doc_id in range(n):
        text = " ".join(rng.choice(words) for _ in range(rng.randint(1, 40)))
        yield page_for_doc(doc_id, text, rng.choice(("en", "de", None)))[
            "html"]


def _parity_docs():
    return (FIXTURES + _prefix_docs()
            + [p.encode("utf-8") for p in CHARSET_PAGES + XML_FIXTURES]
            + [fx.encode("utf-8") for fx in FIXTURES]
            + list(generated_pages(3000))
            + [bytes(d["html"] or b"") for d in corpus_pages(ROOT, 20_000)])


# --- the differential test --------------------------------------------------

def test_density_matches_python_on_fixtures_and_corpus(monkeypatch):
    _require_native()
    docs = _parity_docs()
    bad = _divergences(monkeypatch, _doms(docs))
    assert not bad, f"{len(bad)} divergences, first: {docs[bad[0]]!r}"


@pytest.mark.parametrize("source,ndocs", [("generated", 100_000),
                                          ("tables", 20_000),
                                          ("density", 20_000)])
def test_density_matches_python_on_generated(monkeypatch, source, ndocs):
    _require_native()
    make = {"generated": generated_docs, "tables": table_soups,
            "density": density_soups}[source]
    bad = _divergences(monkeypatch, _doms(make(ndocs)))
    if bad:
        docs = list(make(ndocs))
        pytest.fail(f"{len(bad)} divergences, first: {docs[bad[0]]!r}")


def _edited(doc: str, rng: random.Random):
    """``doc`` parsed, then edited the way ``test_dom_mutation`` does:
    nodes detached and spliced out, new elements, text and CDATA leaves
    attached, tags renamed."""
    b = parse(doc, positions=False).dom
    for _ in range(rng.randint(1, 6)):
        n = len(b.nodes)
        node = rng.randrange(1, n) if n > 1 else 0
        r = rng.random()
        if r < 0.2 and node:
            b.detach(node)
        elif r < 0.35:
            b.remove_child_at(node, rng.randrange(3))
        elif r < 0.75:
            parent = rng.choice([i for i, nd in enumerate(b.nodes)
                                 if nd[N_KIND] == ELEMENT])
            if rng.random() < 0.5:
                child = b.create_closed_element(
                    rng.choice(_BLOCKS + _INLINE + _DROPPED))
                leaf_parent = child
                b.nodes[parent][N_CHILDREN].insert(0, child)
                b.nodes[child][N_PARENT] = parent
            else:
                leaf_parent = parent
            kind = rng.choice((TEXT, TEXT, CDATA))
            content = "".join(rng.choice(_TEXT) for _ in range(3))
            leaf = b.new_leaf(kind, content, poss_ent=rng.random() < 0.7,
                              src_start=rng.choice((-1, 7)),
                              src_end=rng.choice((-1, 9)))
            b.nodes[leaf][N_PARENT] = leaf_parent
            children = b.nodes[leaf_parent][N_CHILDREN]
            children.insert(rng.randrange(len(children) + 1), leaf)
        elif b.nodes[node][N_KIND] == ELEMENT:
            b.nodes[node][N_TAG_LC] = rng.choice(_BLOCKS + _INLINE + _DROPPED)
    return b


def test_density_matches_python_after_dom_edits(monkeypatch):
    _require_native()
    rng = random.Random(SEED)
    docs = FIXTURES + list(density_soups(5000))
    doms = [_edited(doc, rng) for doc in docs]
    bad = _divergences(monkeypatch, doms)
    assert not bad, f"{len(bad)} divergences, first: {docs[bad[0]]!r}"


@pytest.mark.parametrize("doc", [
    "<div>" * 100_000 + "x" + "</div>" * 100_000,
    "<b>" * 100_000 + "x",
], ids=["nested_blocks", "nested_inline"])
def test_deep_nesting_walks_without_recursion(monkeypatch, doc):
    _require_native()
    b = parse(doc, positions=False).dom
    got = _fields(E.extract(b, "density"))
    monkeypatch.setattr(E, "_NATIVE_DENSITY", None)
    assert got == _fields(E.extract(b, "density"))
    assert got[4] == 1 and got[5] == 100_001


# --- dispatch and malformed records -----------------------------------------

def test_extract_reads_the_native_global_on_every_call(monkeypatch):
    b = parse("<p>x &amp; y</p><nav>n</nav>", positions=False).dom
    want = _fields(E.extract(b, "none"))
    calls = []

    def native(*args):
        calls.append(args)
        return ("t", [], [], 1, 1, 2, 3)

    monkeypatch.setattr(E, "_NATIVE_DENSITY", native)
    assert _fields(E.extract(b, "density")) == ("t", [], [], 1, 1, 2, 3)
    # the lists, thresholds and decoder come from extract.py and chars.py
    assert calls[0][1:] == (E.DROP_TAGS, E.INLINE_TAGS, E.BOOST_TAGS,
                            25, 1.0 / 3.0, E.unescape_entities)
    # 'none' and 'basic' stay in Python
    assert _fields(E.extract(b, "none")) == want and len(calls) == 1
    monkeypatch.setattr(E, "_NATIVE_DENSITY", None)
    assert E.extract(b, "density").text == "x & y"


def _native_density(nodes):
    return P._native.density(nodes, E.DROP_TAGS, E.INLINE_TAGS,
                             E.BOOST_TAGS, 25, 0.5, E.unescape_entities)


def test_malformed_records_raise():
    _require_native()

    def nodes(node=0, slot=N_KIND, value=0):
        b = parse("<div><p>x</p>tail</div>", positions=False).dom
        b.nodes[node][slot] = value
        return b.nodes

    assert _native_density(nodes())[:5] == ("x", [8], [9], 1, 2)
    for bad, exc in [((1, N_CHILDREN, [99]), IndexError),
                     ((1, N_CHILDREN, [-1]), IndexError),
                     ((1, N_CHILDREN, ["2"]), IndexError),
                     ((1, N_CHILDREN, (2,)), TypeError),
                     ((1, N_TAG_LC, None), TypeError),
                     ((3, N_CONTENT, None), TypeError),
                     ((3, N_SRC_START, "0"), TypeError),
                     ((2, N_KIND, "0"), ValueError)]:
        with pytest.raises(exc):
            _native_density(nodes(*bad))
    with pytest.raises(IndexError):
        _native_density(P._native.NodeStore())
    with pytest.raises(TypeError):
        _native_density(list(nodes()))
    short = nodes()
    del short[2][10:]
    with pytest.raises(ValueError):
        _native_density(short)
    with pytest.raises(TypeError):
        P._native.density(nodes(), E.DROP_TAGS, E.INLINE_TAGS, E.BOOST_TAGS,
                          "25", 0.5, E.unescape_entities)
    entity = parse("<p>a &amp; b</p>", positions=False).dom.nodes
    with pytest.raises(TypeError):
        P._native.density(entity, E.DROP_TAGS, E.INLINE_TAGS, E.BOOST_TAGS,
                          25, 0.5, lambda s: None)
