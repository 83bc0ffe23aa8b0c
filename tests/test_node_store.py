"""The native core's node storage: ``_native.NodeStore``, which is
``DocBuilder.nodes`` whenever the core is loaded.

The scan fills node structs and builds a node's 21-slot record only when
Python reads ``nodes[i]``; from then on the record is the authority for
that node.  These tests check that the C readers (``density()``,
``census()``) read a store the same before and after its records are
built, that a partly read or mutated store still matches the general
machine field for field, that the store is a sequence and nothing more
(a caller that compares or copies it reads ``list(nodes)``), that it is
freed with its page, and that the extract kernel builds no record on
clean pages.
"""

import collections
import gc
import random
import weakref

import pandas as pd
import pytest

import fortissimo_spark.extract as E
import fortissimo_spark.kernel as K
import fortissimo_spark.parser as P
from fortissimo_spark.dom import (
    ELEMENT, N_ATTR_NAMES, N_CHILDREN, N_KIND, N_PARENT, N_TAG_LC, TEXT,
)
from fortissimo_spark.pages import page_for_doc
from fortissimo_spark.parser import parse
from tests.parser_fixtures import FIXTURES, POP_SHAPES, pop_soups, table_soups
from tests.test_parser_fastpaths import (
    _prefix_docs, _require_native, _snapshot, generated_docs,
)

SEED = 20_261_020


def _long_docs():
    """Docs with many nodes under the root and under an element the
    general machine reads mid-parse (a hand-off reads the stack top), so
    that the core goes on appending to records late in a long parse."""
    docs = iter(generated_docs(2_000, seed=SEED + 2))
    return (["".join(chunk) for chunk in zip(*[docs] * 20)]
            + ["<p>x</p>" * 60 + "<?pi?>" + "<p>y</p>" * 60,
               "<div>" + "<b>x</b>" * 50 + "<?pi?>" + "<i>y</i>" * 50
               + "</div>tail",
               "<table>" + "<td>c" * 30 + "<?pi?>" + "<tr><td>d" * 30
               + "</table>" + "<li>z" * 30])


def _docs():
    return (FIXTURES + POP_SHAPES + _prefix_docs() + _long_docs()
            + list(generated_docs(20_000)) + list(table_soups(2_000))
            + list(pop_soups(2_000)))


def _reads(b):
    """What the C readers see: every density field, the census and the
    token count of the density text."""
    ext = E.extract(b, "density")
    return ((ext.text, ext.starts, ext.ends, ext.kept_blocks,
             ext.total_blocks, ext.node_count, ext.text_node_count),
            P._native.census(b.nodes), P._native.token_count(ext.text))


def test_unread_store_reads_like_its_records():
    _require_native()
    unread = 0
    for doc in _docs():
        b = parse(doc).dom
        before = b.nodes.materialized
        got = _reads(b)
        # the readers build no record
        assert b.nodes.materialized == before, doc
        unread += before == 0
        records = list(b.nodes)
        assert records == list(b.nodes)
        assert _reads(b) == got, doc
    # most docs are read from structs alone (tables and hand-offs build
    # the records Python reads)
    assert unread > 15_000, unread


def _mutate(b, rng):
    """The same edits on equal DOMs given equal rngs: attribute mutators,
    an appended record and a re-examined table."""
    nodes = b.nodes
    els = [i for i in range(len(nodes)) if nodes[i][N_KIND] == ELEMENT]
    for _ in range(rng.randint(1, 4)):
        el = rng.choice(els)
        r = rng.random()
        if r < 0.3:
            b.set_attribute(el, rng.choice(("class", "id", "href")),
                            rng.choice(("a", "", None)))
        elif r < 0.5:
            b.add_attribute_to(el, "data-x", rng.choice(("1", "")))
        elif r < 0.6:
            names = nodes[el][N_ATTR_NAMES]
            if names:
                b.delete_attribute(el, rng.randrange(len(names)))
        elif r < 0.7:
            b.clear_attributes(el)
        elif r < 0.9:
            # nodes.append: a new element attached under ``el``
            child = b.create_closed_element(rng.choice(("p", "span", "nav")))
            leaf = b.new_leaf(TEXT, "added text, long enough to count")
            nodes[leaf][N_PARENT] = child
            nodes[child][N_CHILDREN].append(leaf)
            nodes[child][N_PARENT] = el
            nodes[el][N_CHILDREN].append(child)
        else:
            tables = [i for i in els if nodes[i][N_TAG_LC] == "table"]
            if tables:
                b._examine_table(rng.choice(tables))


@pytest.mark.parametrize("positions", [False, True],
                         ids=["no-positions", "positions"])
def test_partly_read_stores_match_general_machine(monkeypatch, positions):
    _require_native()
    rng = random.Random(SEED)
    docs = (FIXTURES + POP_SHAPES + _long_docs()
            + list(generated_docs(5_000, seed=SEED))
            + list(table_soups(1_000, seed=SEED)) + list(pop_soups(1_000)))
    native = []
    for doc in docs:
        b = parse(doc, positions=positions).dom
        seed = rng.random()
        picks = random.Random(seed)
        for i in picks.sample(range(len(b.nodes)),
                              picks.randint(0, len(b.nodes))):
            b.nodes[i]
        native.append((seed, b))
    with monkeypatch.context() as m:
        m.setattr(P, "_NATIVE_SCAN", None)
        m.setattr(P, "_NATIVE_CENSUS", None)
        general = [parse(doc, positions=positions).dom for doc in docs]
    for doc, (_, b), want in zip(docs, native, general):
        # read partly: the C readers, then every record
        assert _reads(b) == _reads(want), doc
        assert list(b.nodes) == list(want.nodes), doc
        if positions:
            assert ([b.line_col(i) + b.line_col(i, end=True)
                     for i in range(len(b.nodes))]
                    == [want.line_col(i) + want.line_col(i, end=True)
                        for i in range(len(want.nodes))]), doc
    for doc, (seed, _), want in zip(docs, native, general):
        # the same edits on a partly read store and on the general
        # machine's records
        b = parse(doc, positions=positions).dom
        picks = random.Random(seed)
        for i in picks.sample(range(len(b.nodes)),
                              picks.randint(0, len(b.nodes) // 2)):
            b.nodes[i]
        _mutate(b, random.Random(seed))
        _mutate(want, random.Random(seed))
        assert _reads(b) == _reads(want), doc
        assert b.serialize(0) == want.serialize(0), doc
        assert list(b.nodes) == list(want.nodes), doc


def test_partly_read_parse_matches_snapshot(monkeypatch):
    # a parse whose records are read while it runs: after each token
    # handed to the general machine, the records so far exist before the
    # core reads on
    _require_native()
    docs = (FIXTURES + _prefix_docs() + _long_docs()
            + list(generated_docs(3_000, seed=SEED + 1)))
    read = []
    with monkeypatch.context() as m:
        m.setattr(P, "_NATIVE_SCAN", None)
        m.setattr(P, "_NATIVE_CENSUS", None)
        want = [_snapshot(d, True, False) for d in docs]
    core_scan = P._NATIVE_SCAN

    def scan(t, i, nodes, *rest):
        # on every call into the core after the first: read every record
        # so far, so that the core goes on writing through the records of
        # the open stack and reading those of closed nodes
        if i:
            read.append(len(nodes))
            list(nodes)
        return core_scan(t, i, nodes, *rest)

    monkeypatch.setattr(P, "_NATIVE_SCAN", scan)
    got = [_snapshot(d, True, False) for d in docs]
    assert len(read) > 500 and sum(read) > 2_000, (len(read), sum(read))
    bad = [d for d, g, w in zip(docs, got, want) if g != w]
    assert not bad, f"{len(bad)} divergences, first: {bad[:3]!r}"


def test_store_is_a_sequence():
    _require_native()
    b = parse("<div id=a><p>one<b>two</b></p><!-- c --></x></div>").dom
    nodes = b.nodes
    n = len(nodes)
    assert type(nodes).__name__ == "NodeStore" and n == 8
    # the same object from repeated reads, through index and negative index
    assert nodes[3] is nodes[3] is nodes[3 - n]
    assert nodes[-1] is nodes[n - 1]
    for bad in (n, -n - 1):
        with pytest.raises(IndexError):
            nodes[bad]
    with pytest.raises(TypeError):
        nodes["1"]
    assert list(nodes) == [nodes[i] for i in range(n)]
    assert [nd for nd in nodes][0] is nodes[0]
    # append stores a record as it is
    rec = list(nodes[2])
    nodes.append(rec)
    assert len(nodes) == n + 1 and nodes[n] is rec and nodes[-1] is rec
    # and nothing more: no slice, assignment, deletion or hash
    with pytest.raises(TypeError):
        nodes[1:4]
    with pytest.raises(TypeError):
        nodes[0] = rec
    with pytest.raises(TypeError):
        del nodes[0]
    with pytest.raises(TypeError):
        hash(nodes)
    assert nodes[0] is not rec and len(nodes) == n + 1
    # the C readers take a store only, not a list of its records
    with pytest.raises(TypeError):
        P._native.census(list(nodes))
    with pytest.raises(TypeError):
        P._native.density(list(nodes), E.DROP_TAGS, E.INLINE_TAGS,
                          E.BOOST_TAGS, E._MIN_BLOCK_CHARS,
                          E._MAX_LINK_DENSITY, E.unescape_entities)


def test_store_counts_the_records_it_builds():
    _require_native()
    b = parse("<p>one<b>two</b></p><p>three</p>").dom
    nodes = b.nodes
    assert nodes.materialized == 0 and len(nodes) == 7
    nodes[2]
    nodes[2]
    nodes[-1]
    assert nodes.materialized == 2
    # the root is appended by DocBuilder as a record: not built on a read
    nodes[0]
    assert nodes.materialized == 2
    list(nodes)
    assert nodes.materialized == 6


def test_dropped_pages_free_their_store():
    _require_native()
    gc.collect()
    was = gc.isenabled()
    gc.disable()
    try:
        for read in (False, True):
            r = parse("<table><td>x</table><p>a<b>b</p>" * 20)
            ref = weakref.ref(r.dom.nodes)
            if read:
                list(r.dom.nodes)
            del r
            # refcounting alone frees a page: no cycle holds it
            assert ref() is None
        # a record that refers to its own store is a cycle the collector
        # can see through the store
        b = parse("<p>x</p>").dom
        b.nodes[1].append(b.nodes)
        ref = weakref.ref(b.nodes)
        del b
        assert ref() is not None
        assert gc.collect() > 0 and ref() is None
    finally:
        if was:
            gc.enable()


def test_extract_kernel_builds_no_record_on_clean_pages(monkeypatch):
    # pages without tokens the core hands off, tables included: the
    # extract kernel settles every one in the core's one call (page()),
    # which repairs tables in C and reads every node from its struct, so
    # a record built on its hot path fails here instead of slowing the
    # kernel unseen
    _require_native()
    rng = random.Random(SEED)
    words = ("alpha", "beta", "caf\xe9", "a&amp;b", "x" * 30, "日本")
    htmls = []
    for doc_id in range(2_000):
        text = " ".join(rng.choice(words) for _ in range(rng.randint(1, 60)))
        htmls.append(page_for_doc(doc_id, text, rng.choice(("en", "de", None)))[
            "html"])
    tables = sum("<table" in K.decode_parse(h)[0].text for h in htmls)
    assert tables > 100

    def python_path(*args):
        raise AssertionError("a clean page left the one call")

    monkeypatch.setattr(K, "decode_parse", python_path)
    monkeypatch.setattr(K, "extract", python_path)
    P._native.reset_stats()
    batch = pd.DataFrame({
        "url": [f"http://example.com/{i}" for i in range(len(htmls))],
        "warc_ts": pd.to_datetime(["2024-01-01"] * len(htmls)),
        "html": htmls, "lang": ["en"] * len(htmls)})
    (out,) = K.make_extract_kernel("density")(iter([batch]))
    stats = P._native.stats()
    assert len(out) == len(htmls)
    assert stats["settled"] == len(htmls) and stats["records"] == 0, stats
    assert not any(v for k, v in stats.items() if k.startswith("handoff"))


def _unexamined_tables():
    """Docs whose outer table is still open at EOF (so the scan has not
    examined it), tables nested in cells, sections and rows left open or
    closed, and text between rows."""
    docs = [d[:-len("</table>")] for d in table_soups(3_000, seed=SEED)]
    docs += [d for d in POP_SHAPES if "table" in d.lower()]
    docs += ["<table><tr><td>a<table><td>b<th>c</table><td>d",
             "<table> <td>a</td> x <th>b<tr><td>c</tr><td>d <tbody><td>e",
             "<table><thead><td>h</thead><tr><th>x<tr><td>y<tfoot><td>f",
             "<table><tbody><tr><td>a</tbody> <tr><th>b</th><tr><td>c",
             "<table><caption>c</caption><!--x--><tr><td>a<tbody></tbody>"
             "<tr><td>b"]
    return docs


@pytest.mark.parametrize("positions", [False, True],
                         ids=["no-positions", "positions"])
def test_native_examine_table_matches_python(positions):
    # the core's examine_table() against DocBuilder._examine_table on
    # two parses of the same doc, every table examined (twice: a repaired
    # table is examined again unchanged), with a seeded subset of the
    # core's side read first so it repairs through records and structs
    _require_native()
    rng = random.Random(SEED + 3)
    wrappers = collections.Counter()
    for doc in _unexamined_tables():
        ref = parse(doc, positions=positions).dom
        got = parse(doc, positions=positions).dom
        n = len(got.nodes)
        for i in rng.sample(range(n), rng.randint(0, n)):
            got.nodes[i]
        tables = [i for i, nd in enumerate(ref.nodes)
                  if nd[N_KIND] == ELEMENT and nd[N_TAG_LC] == "table"]
        for t in tables + tables[::-1]:
            ref._examine_table(t)
            P._native.examine_table(got.nodes, t)
        wrappers.update(nd[N_TAG_LC] for nd in list(ref.nodes)[n:])
        assert list(got.nodes) == list(ref.nodes), doc
        assert _reads(got) == _reads(ref), doc
        if positions:
            assert ([got.line_col(i) + got.line_col(i, end=True)
                     for i in range(len(got.nodes))]
                    == [ref.line_col(i) + ref.line_col(i, end=True)
                        for i in range(len(ref.nodes))]), doc
    # every synthetic wrapper the repair makes
    assert min(wrappers[t] for t in ("tr", "tbody", "thead")) >= 300, wrappers
