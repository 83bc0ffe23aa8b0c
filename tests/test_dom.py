"""DOM query / extraction parity (reference: src/dom.spec.ts)."""

import re

from fortissimo_spark.dom import (
    ELEMENT, N_ATTR_NAMES, N_ATTR_QUOTES, N_ATTR_VALUES, N_CHILDREN, N_KIND,
    N_PARENT, N_SYNTHETIC, N_TAG_LC,
)
from fortissimo_spark.parser import parse


def test_searchable_dom(sample_html):
    b = parse(sample_html).dom
    svg = b.query_selector(0, "svg")
    ths = b.query_selector_all(0, "th")

    assert b.nodes[svg][N_TAG_LC] == "svg"
    assert b.get_attr(svg, "width") == "300"

    assert b.depth(ths[1]) == 3
    assert b.synthetic_depth(ths[1]) == 5

    assert b.nodes[b.query_selector(0, "#list")][N_TAG_LC] == "ul"
    assert len(b.query_selector_all(0, "li")) == 6
    assert b.nodes[b.query_selector(0, ".content")][N_TAG_LC] == "div"


def test_text_content_and_inner_html(sample_html):
    b = parse(sample_html).dom

    assert b.text_content(b.query_selector(0, "div.sizer")) == "\xa0"
    assert b.text_content(b.query_selector(0, "annotation")) == \
        "Second CDATA example &amp; entities ignored"
    ul = b.text_content(b.query_selector(0, "ul"))
    assert re.sub(r"\s+", " ", ul.strip()) == "One thing afteranother after another ·↵·"
    assert "function foo(value)" in b.text_content(b.query_selector(0, "script"))

    assert b.serialize(b.query_selector(0, "#inner-test"), include_self=False) == \
        "innerHTML <em>test</em>"
    table = b.serialize(b.query_selector(0, "table"), include_self=False)
    assert re.sub(r"\s+", " ", table) == \
        " <caption>A Table <th>foo <tbody> <tr><td> 4 </td><td>5 <tr><td>6<td>7 "


def test_table_repair_synthetic(sample_html):
    b = parse(sample_html).dom
    table = b.query_selector(0, "table")
    # stray th got wrapped thead > tr, both synthetic
    nodes = b.nodes
    theads = [c for c in nodes[table][N_CHILDREN]
              if nodes[c][N_KIND] == ELEMENT and nodes[c][N_TAG_LC] == "thead"]
    assert len(theads) == 1
    assert nodes[theads[0]][N_SYNTHETIC]
    tr = nodes[theads[0]][N_CHILDREN][0]
    assert nodes[tr][N_SYNTHETIC] and nodes[tr][N_TAG_LC] == "tr"
    th = nodes[tr][N_CHILDREN][0]
    assert nodes[th][N_TAG_LC] == "th" and not nodes[th][N_SYNTHETIC]
    # synthetic nodes serialize to zero bytes
    assert b.serialize(theads[0]) == b.serialize(tr)


def test_duplicate_attributes_roundtrip(sample_html):
    b = parse(sample_html).dom
    # duplicate class attr preserved in order; lookup is last-write-wins
    dups = [i for i, nd in enumerate(b.nodes)
            if nd[N_ATTR_NAMES] and nd[N_ATTR_NAMES].count("class") == 2]
    assert len(dups) == 1
    node = dups[0]
    assert b.nodes[node][N_ATTR_VALUES][0] == "backdrop"
    assert b.get_attr(node, "class") == 'duplicate-attribute-&quot;ignored'


def test_unterminated_quote_attr():
    content = '<span foo= "bar'
    r = parse(content)
    b = r.dom
    span = b.query_selector(0, "span")
    assert b.nodes[span][N_ATTR_QUOTES][0] == '_"'
    assert b.nodes[span][N_ATTR_VALUES][0] == "bar"
    assert r.to_string() == content


def test_doc_order_and_parents(sample_html):
    b = parse(sample_html).dom
    order = b.doc_order()
    assert len(order) == len(b.nodes) - 1  # all nodes reachable, minus root
    position = {node: i for i, node in enumerate(order)}
    for node in order:
        p = b.nodes[node][N_PARENT]
        if p != 0:
            assert position[p] < position[node]


def test_quoted_gt_does_not_close_tag():
    content = '<div class = "content" title="a>b">x</div>\n'
    r = parse(content)
    assert r.to_string() == content
    b = r.dom
    d = b.query_selector(0, "div")
    assert b.get_attr(d, "title") == "a>b"
    assert b.text_content(d) == "x"


TABLE_SHAPES = [
    ("<table><td>a<td>b</table>", "ab"),
    ("<table><td>a</td><td>b</td></table>", "ab"),
    ("<table><tbody><td>a<td>b</tbody></table>", "ab"),
    ("<table><thead><tr><th>h</th></tr></thead>"
     "<tr><td>a</td></tr><tr><td>b</td></tr></table>", "hab"),
    ("<table>\n<td>a</td>\n<td>b</td>\n</table>", "\na\nb\n"),
    ("<table><td>a</td><p>x</p><td>b</td></table>", "axb"),
]


def _reachable(b):
    seen, stack = [], [0]
    while stack:
        node = stack.pop()
        seen.append(node)
        stack += b.nodes[node][N_CHILDREN] or []
    return seen


def test_table_repair_moves_cells_and_rows_once():
    # cells and rows wrapped in a synthetic tr / tbody leave the parent's
    # child list, so the page round-trips and its text is not repeated
    from fortissimo_spark.kernel import process_document
    for html, text in TABLE_SHAPES:
        r = parse(html)
        assert r.to_string() == html
        seen = _reachable(r.dom)
        assert len(seen) == len(set(seen)) == len(r.dom.nodes)
        assert process_document(html.encode(), "none")["text"] == text


def test_table_repair_round_trips_table_soup():
    from tests.parser_fixtures import table_soups
    for html in table_soups(20_000):
        r = parse(html)
        assert r.to_string() == html
        seen = _reachable(r.dom)
        assert len(seen) == len(set(seen)), html
