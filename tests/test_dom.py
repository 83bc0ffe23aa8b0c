"""DOM query / extraction parity (reference: src/dom.spec.ts)."""

import re

from fortissimo_spark.parser import parse


def test_searchable_dom(sample_html):
    b = parse(sample_html).dom
    svg = b.query_selector(0, "svg")
    ths = b.query_selector_all(0, "th")

    assert b.tag_lc[svg] == "svg"
    assert b.get_attr(svg, "width") == "300"

    assert b.depth(ths[1]) == 3
    assert b.synthetic_depth(ths[1]) == 5

    assert b.tag_lc[b.query_selector(0, "#list")] == "ul"
    assert len(b.query_selector_all(0, "li")) == 6
    assert b.tag_lc[b.query_selector(0, ".content")] == "div"


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
    theads = [c for c in b.children[table] if b.kind[c] == 0 and b.tag_lc[c] == "thead"]
    assert len(theads) == 1
    assert b.synthetic[theads[0]]
    tr = b.children[theads[0]][0]
    assert b.synthetic[tr] and b.tag_lc[tr] == "tr"
    th = b.children[tr][0]
    assert b.tag_lc[th] == "th" and not b.synthetic[th]
    # synthetic nodes serialize to zero bytes
    assert b.serialize(theads[0]) == b.serialize(tr)


def test_duplicate_attributes_roundtrip(sample_html):
    b = parse(sample_html).dom
    # duplicate class attr preserved in order; lookup is last-write-wins
    dups = [i for i in range(len(b.kind))
            if b.attr_names[i] and b.attr_names[i].count("class") == 2]
    assert len(dups) == 1
    node = dups[0]
    assert b.attr_values[node][0] == "backdrop"
    assert b.get_attr(node, "class") == 'duplicate-attribute-&quot;ignored'


def test_unterminated_quote_attr():
    content = '<span foo= "bar'
    r = parse(content)
    b = r.dom
    span = b.query_selector(0, "span")
    assert b.attr_quotes[span][0] == '_"'
    assert b.attr_values[span][0] == "bar"
    assert r.to_string() == content


def test_doc_order_and_parents(sample_html):
    b = parse(sample_html).dom
    order = b.doc_order()
    assert len(order) == len(b.kind) - 1  # all nodes reachable, minus root
    position = {node: i for i, node in enumerate(order)}
    for node in order:
        p = b.parent[node]
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
        stack += b.children[node] or []
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
