"""Stylizer round-trip (reference: src/stylizer.spec.ts)."""

import re

from fortissimo_spark.chars import unescape_entities
from fortissimo_spark.dom import ELEMENT, N_CHILDREN, N_CONTENT, N_KIND, N_TAG_LC, TEXT
from fortissimo_spark.parser import parse
from fortissimo_spark.stylizer import StyleOptions, stylize_html


def test_stylize_roundtrip(sample_html):
    b = parse(sample_html).dom
    stylized = stylize_html(b)

    nodes = parse(stylized).dom.nodes
    html = next(nodes[c] for c in nodes[0][N_CHILDREN]
                if nodes[c][N_KIND] == ELEMENT and nodes[c][N_TAG_LC] == "html")
    body = next(nodes[c] for c in html[N_CHILDREN]
                if nodes[c][N_KIND] == ELEMENT and nodes[c][N_TAG_LC] == "body")

    sb = []
    for elem in body[N_CHILDREN]:
        nd = nodes[elem]
        if nd[N_KIND] == ELEMENT and nd[N_TAG_LC] == "span":
            sb.append(unescape_entities(nodes[nd[N_CHILDREN][0]][N_CONTENT]))
        elif nd[N_KIND] == TEXT:
            sb.append(unescape_entities(nd[N_CONTENT]))

    joined = "".join(sb)
    reconstituted = "".join(
        sample_html[i] if ch == "�" else ch
        for i, ch in enumerate(joined))
    assert reconstituted == sample_html


def test_stylize_show_whitespace(sample_html):
    b = parse(sample_html).dom
    stylized = stylize_html(b, options=StyleOptions(show_whitespace=True))
    assert "·" in stylized  # visualized spaces
    assert "fh-whitespace" in stylized
    assert "fh-tab" in stylized or "\t" not in sample_html


def test_stylize_classes(sample_html):
    b = parse(sample_html).dom
    stylized = stylize_html(b)
    for cls in ("fh-tag", "fh-attrib", "fh-value", "fh-comment", "fh-markup",
                "fh-entity", "fh-error"):
        assert cls in stylized, cls
    # light theme + fragment mode
    frag = stylize_html(b, options=StyleOptions(dark=False, outer_tag="div"))
    assert frag.startswith('<div class="fh-html">')
    assert not frag.endswith("</html>")
    assert re.search(r"^<div", frag)
