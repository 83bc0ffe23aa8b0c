"""DOM mutation + JSON debug sink parity (reference: src/dom.spec.ts:43-93)."""

import copy
import json

import pytest

from fortissimo_spark.dom import (
    _ATTR_SLOTS, COMMENT, N_ATTR_NAMES, N_KIND, TEXT, UNMATCHED_CLOSE,
)
from fortissimo_spark.parser import parse

from .conftest import SMALL_SAMPLE


def test_attribute_manipulation():
    b = parse("<x></x>").dom  # scratch builder
    node = b.create_closed_element("a")
    assert b.serialize(node) == "<a></a>"
    b.add_attribute_to(node, "href", "#foo")
    assert b.serialize(node) == '<a href="#foo"></a>'
    b.add_attribute_to(node, "disabled")
    assert b.serialize(node) == '<a href="#foo" disabled></a>'
    assert len(b.nodes[node][N_ATTR_NAMES]) == 2
    b.set_attribute(node, "href", "#bar")
    assert b.serialize(node) == '<a href="#bar" disabled></a>'
    b.delete_attribute(node, 1)
    assert b.serialize(node) == '<a href="#bar"></a>'
    b.clear_attributes(node)
    assert b.serialize(node) == "<a></a>"


def test_attribute_mutators_on_shared_empty_slots():
    # an attribute-less element holds the one shared empty tuple in its
    # five attribute slots: a write to one element must not reach another
    r = parse("<p>x</p><p>y</p>")
    b = r.dom
    first, second = b.query_selector_all(0, "p")
    assert b.nodes[first][N_ATTR_NAMES] is b.nodes[second][N_ATTR_NAMES]
    b.set_attribute(first, "class", "a")
    assert b.serialize(first) == '<p class="a">x</p>'
    assert b.serialize(second) == "<p>y</p>"
    assert [b.nodes[second][f] for f in _ATTR_SLOTS] == [()] * 5
    assert r.to_string() == '<p class="a">x</p><p>y</p>'
    b.add_attribute_to(second, "id", "b")
    assert r.to_string() == '<p class="a">x</p><p id="b">y</p>'
    b.clear_attributes(first)
    assert [b.nodes[first][f] for f in _ATTR_SLOTS] == [()] * 5
    assert r.to_string() == '<p>x</p><p id="b">y</p>'
    assert not b.delete_attribute(first, 0)
    assert not b.delete_attribute(first, "class")
    b.set_attribute(first, "title", "t")
    assert r.to_string() == '<p title="t">x</p><p id="b">y</p>'


@pytest.mark.parametrize("kind,name", [(TEXT, "text"), (COMMENT, "comment"),
                                       (UNMATCHED_CLOSE, "unmatched_close")])
def test_attribute_mutators_refuse_non_elements(kind, name):
    # a leaf has no attribute slots: each mutator names the node and its
    # kind and leaves the record as it was
    b = parse("<p>x</p><!-- c --></b>").dom
    (node,) = [i for i, nd in enumerate(b.nodes) if nd[N_KIND] == kind]
    before = copy.deepcopy(list(b.nodes))
    calls = [lambda: b.set_attribute(node, "class", "a"),
             lambda: b.set_attribute(node, "class", None),
             lambda: b.add_attribute_to(node, "id", "b"),
             lambda: b.add_attribute_to(node, "hidden"),
             lambda: b.delete_attribute(node, 0),
             lambda: b.delete_attribute(node, "class"),
             lambda: b.clear_attributes(node)]
    for call in calls:
        with pytest.raises(TypeError, match=f"node {node} is a {name} node"):
            call()
    assert list(b.nodes) == before


def test_remove_nodes():
    r = parse("<div><b>a</b><i>b</i><code>c</code></div>")
    b = r.dom
    i = b.query_selector(0, "i")
    b.detach(i)
    assert b.serialize(0).strip() == "<div><b>a</b><code>c</code></div>"
    div = b.query_selector(0, "div")
    b.remove_child_at(div, 0)
    assert b.serialize(0).strip() == "<div><code>c</code></div>"


def test_to_json(sample_html):
    b = parse(sample_html).dom
    root_json = b.to_json(0)
    assert root_json["children"]
    assert root_json["children"][1] == \
        "<!DOCTYPE html> (0; 2, 1; /)"

    body = b.query_selector(0, "body")
    s = json.dumps(root_json)
    assert '"tag": "body"' in s
    table = b.query_selector(0, "table")
    body_json = b.to_json(body)
    assert body_json["line"] == b.line_col(body)[0]
    assert body_json["depth"] == b.depth(body)
    table_json = b.to_json(table)
    assert table_json["closureState"] == 3
    assert "endTagText" in table_json

    # badTerminator surfaces in JSON (dom.spec.ts:60)
    b2 = parse(SMALL_SAMPLE + "<p").dom
    assert "badTerminator" in json.dumps(b2.to_json(0))
    # unterminated leaf gets the '!' marker (dom.spec.ts:63)
    b3 = parse(SMALL_SAMPLE + "<!--").dom
    assert ")!" in json.dumps(b3.to_json(0))


def test_synthetic_depth_in_json(sample_html):
    b = parse(sample_html).dom
    th = b.query_selector_all(0, "th")[1]
    j = b.to_json(th)
    assert j["depth"] == 3
    assert j["syntheticDepth"] == 5


def test_line_map(sample_html):
    b = parse(sample_html).dom
    lm = b.line_map(0)
    assert len(lm) > 100
    # sorted by display line; on an unformatted document display == source
    assert lm == sorted(lm, key=lambda e: e[0])
    assert all(display == source for display, _, source in lm if source)
