"""Tokenizer/DOM round-trip parity (reference: src/html-parser.spec.ts)."""

import pytest

from fortissimo_spark.dom import N_CHILDREN, N_CLOSURE, N_CONTENT, N_KIND
from fortissimo_spark.parser import check_encoding, normalize_encoding_name, parse

from .conftest import SMALL_SAMPLE, fixture_bytes


def test_roundtrip_sample(sample_html):
    r = parse(sample_html)
    assert r.to_string() == sample_html
    # fromJSON.children[1].content == 'DOCTYPE html'; doctype.type == 'html'
    b = r.dom
    doctype = b.nodes[b.nodes[0][N_CHILDREN][1]]
    assert doctype[N_CONTENT] == "DOCTYPE html"
    from fortissimo_spark.dom import DOCTYPE, DocBuilder
    assert doctype[N_KIND] == DOCTYPE
    assert DocBuilder.doctype_info(doctype[N_CONTENT])[0] == "html"


def test_roundtrip_damaged(sample_html):
    content = sample_html.replace("<style>", "<style")
    r = parse(content)
    assert r.to_string() == content


def test_roundtrip_w3c_xhtml(sample_w3c):
    r = parse(sample_w3c)
    assert r.to_string() == sample_w3c
    from fortissimo_spark.dom import DOCTYPE, DocBuilder
    b = r.dom
    dts = [nd for nd in b.nodes if nd[N_KIND] == DOCTYPE]
    dt_type, variety, version = DocBuilder.doctype_info(dts[0][N_CONTENT])
    assert dt_type == "xhtml"
    assert version == "1.0"
    assert variety == "strict"
    assert r.xml_mode


def test_roundtrip_small_sample():
    r = parse(SMALL_SAMPLE)
    assert r.to_string() == SMALL_SAMPLE
    assert r.errors == 0


def test_encoding_switch_iso_8859_1():
    raw = fixture_bytes("sample-iso-8859-1.html")
    content = raw.decode("utf-8", errors="replace")
    r = parse(content)
    assert r.charset == "ISO-8859-1"
    content2 = raw.decode(r.charset)
    r2 = parse(content2)
    assert r2.to_string() == content2
    assert "Mañana" in r2.to_string()


@pytest.mark.parametrize("enc", ["utf-16be", "utf-16le", "utf-32be", "utf-32le"])
def test_encoding_pattern_detection(enc):
    raw = fixture_bytes(f"sample-{enc}.html")
    content = raw.decode("utf-8", errors="replace")
    got = check_encoding(content[:8])
    assert got is not None
    assert normalize_encoding_name(got, explicit=False) == enc.replace("-", "")


def test_empty_end_tag_as_text():
    end_body = SMALL_SAMPLE.index("</body>")
    content = SMALL_SAMPLE[:end_body] + "</> </ >" + SMALL_SAMPLE[end_body:]
    r = parse(content, empty_end_tag=False)
    assert r.to_string() == content
    assert r.errors == 0


def test_empty_end_tag_default_is_error():
    end_body = SMALL_SAMPLE.index("</body>")
    content = SMALL_SAMPLE[:end_body] + "</> </ >" + SMALL_SAMPLE[end_body:]
    r = parse(content)
    assert r.to_string() == content
    assert r.errors == 2


EOF_ENDINGS = [
    "<!--", "<!--x", "<!someth..", "<?php", "<math><annotation><![CDATA[stuff",
    "<div", "<span foo", "<span  foo =", '<span foo= "bar', "<", "</", "</a",
    "</a ", "</a b",
]


@pytest.mark.parametrize("ending", EOF_ENDINGS)
def test_unexpected_eof(ending):
    content = SMALL_SAMPLE + ending
    r = parse(content)
    assert r.to_string() == content
    assert r.errors == 1


EOL_CASES = [
    (False, "a\nb\rc\r\nd"),
    ("?", "a\nb\rc\r\nd"),
    (True, "a\nb\nc\nd"),
    ("n", "a\nb\nc\nd"),
    ("\n", "a\nb\nc\nd"),
    ("lf", "a\nb\nc\nd"),
    ("r", "a\rb\rc\rd"),
    ("\r", "a\rb\rc\rd"),
    ("cr", "a\rb\rc\rd"),
    ("rn", "a\r\nb\r\nc\r\nd"),
    ("\r\n", "a\r\nb\r\nc\r\nd"),
    ("crlf", "a\r\nb\r\nc\r\nd"),
]


@pytest.mark.parametrize("eol,expected", EOL_CASES)
def test_eol_options(eol, expected):
    r = parse("a\nb\rc\r\nd", eol=eol)
    assert r.to_string() == expected


def test_tabbed_columns():
    doc = "\n".join([
        "",
        "<div id=do></div>",
        "\t<div id=re></div>",
        " \t<div id=me></div>",
        "  \t<div id=fa></div>",
        "   \t<div id=so></div>",
        "    \t<div id=la></div>",
        "\t\t<div id=ti></div>",
        "",
    ])
    b = parse(doc, tab_size=4).dom
    for ident, expected in [("do", 1), ("re", 5), ("me", 5), ("fa", 5),
                            ("so", 5), ("la", 9), ("ti", 9)]:
        node = b.query_selector(0, "#" + ident)
        assert b.line_col(node)[1] == expected, ident


def test_error_count_matches_sample(sample_html):
    # sample.html carries a fixed set of forced errors; pin the count so
    # error accounting stays stable.
    r = parse(sample_html)
    assert r.errors == 7
    assert r.lines == sample_html.count("\n") + 1
    assert r.characters == len(sample_html)


def test_trailing_text_error_quirk():
    # html-parser.ts:513-523: a doc ending in non-whitespace text wraps up in
    # AT_MARKUP_START -> exactly one 'unexpected end of file' error.
    r = parse("<p>hello")
    assert r.errors == 1
    assert r.to_string() == "<p>hello"
    # even a trailing newline is part of the same text run -> still 1 error;
    # only a PURE-whitespace tail (never reaching handleText) avoids it
    r = parse("<p>hello\n")
    assert r.errors == 1
    assert r.to_string() == "<p>hello\n"
    r = parse("<p>hello</p>\n")
    assert r.errors == 0
    assert r.to_string() == "<p>hello</p>\n"


def test_literal_lt_stays_text():
    # '<' not followed by a markup-start char is literal text, and the
    # following char is consumed with it (html-parser.ts:1040-1045)
    r = parse("<p>2 < 3, 7 > 6</p>\n")
    assert r.to_string() == "<p>2 < 3, 7 > 6</p>\n"
    assert r.errors == 0
    b = r.dom
    p = b.query_selector(0, "p")
    assert b.text_content(p) == "2 < 3, 7 > 6"
    r = parse("<<p>\n")
    assert r.to_string() == "<<p>\n"


def test_comment_dash_stage_matcher():
    # 3-stage matcher quirk: '--->' does NOT close a comment (m % 3 == 2 rule)
    r = parse("<!-- x --->")
    assert r.errors == 1  # unterminated
    assert r.to_string() == "<!-- x --->"
    r = parse("<!-- x ---->")
    assert r.errors == 1
    r = parse("<!-- x ----->")
    assert r.errors == 0
    assert r.to_string() == "<!-- x ----->"
    r = parse("<!---->")
    assert r.errors == 0
    assert r.to_string() == "<!---->"


def test_raw_text_naive_matcher():
    # '<</script>' does not terminate a script element (stage-matcher reset)
    content = "<script>x<</script>"
    r = parse(content)
    assert r.to_string() == content
    assert r.errors == 1  # unterminated script
    b = r.dom
    s = b.query_selector(0, "script")
    assert b.text_content(s) == "x<</script>"


def test_script_entities_not_decoded(sample_html):
    b = parse(sample_html).dom
    script = b.query_selector(0, "script")
    assert "&szlig;" in b.text_content(script)  # raw, not decoded
    textarea = b.query_selector(0, "textarea")
    assert "ß" in b.text_content(textarea)  # textarea decodes entities
    assert "&szlig;" not in b.text_content(textarea)


def test_cdata_only_in_math_svg(sample_html):
    from fortissimo_spark.dom import CDATA, DECLARATION
    b = parse(sample_html).dom
    kinds = [nd[N_KIND] for nd in b.nodes]
    assert kinds.count(CDATA) == 2  # annotation (math) + svg text
    # the first CDATA example outside math/svg is a generic declaration
    decls = [nd[N_CONTENT] for nd in b.nodes if nd[N_KIND] == DECLARATION]
    assert any(c.startswith("[CDATA[First") for c in decls)


def test_declaration_with_space_not_comment():
    # '<! -- not a comment >' requires '--' immediately after '<!'
    # (html-parser.ts:764-776)
    from fortissimo_spark.dom import DECLARATION
    content = "<! -- not a comment >\n"
    r = parse(content)
    assert r.to_string() == content
    b = r.dom
    decls = [nd for nd in b.nodes if nd[N_KIND] == DECLARATION]
    assert len(decls) == 1
    assert decls[0][N_CONTENT] == " -- not a comment "


def test_implicit_closures_and_unclosed_counts(sample_html):
    r = parse(sample_html)
    # countUnclosed over non-synthetic nodes; pin both metrics for stability
    assert r.unclosed_tags == 0   # every element eventually closes somehow
    assert r.implicitly_closed_tags == 14


def test_misnested_formatting_unwind():
    # W3C misnested <b><p> case: </b> unwinds across the p
    content = '<b class="bar">1<p>2</b>3</p>\n'
    r = parse(content)
    assert r.to_string() == content
    b = r.dom
    from fortissimo_spark.dom import EXPLICITLY_CLOSED, IMPLICITLY_CLOSED, UNMATCHED_CLOSE
    bb = b.query_selector(0, "b")
    p = b.query_selector(0, "p")
    assert b.nodes[bb][N_CLOSURE] == EXPLICITLY_CLOSED
    assert b.nodes[p][N_CLOSURE] == IMPLICITLY_CLOSED
    # '</p>' after the unwind is unmatched
    assert any(nd[N_KIND] == UNMATCHED_CLOSE for nd in b.nodes)


def test_formatting_element_blocked_by_marker():
    # </b> with a marker element (td) between: unmatched (dom.ts:693-699)
    content = "<table><tr><td><b>x</td></tr></table></b>\n"
    r = parse(content)
    assert r.to_string() == content
    from fortissimo_spark.dom import UNMATCHED_CLOSE
    b = r.dom
    unmatched = [nd for nd in b.nodes if nd[N_KIND] == UNMATCHED_CLOSE]
    assert len(unmatched) == 1
    assert unmatched[0][N_CONTENT] == "</b>"


def test_u_is_not_formatting_element():
    # elements.ts:2 typo: 'u' is NOT in the formatting set, so </u> inside a
    # td CAN unwind out of the cell (no marker blocking applies).
    content = "<div><u><table><tr><td>x</u>y\n"
    r = parse(content)
    assert r.to_string() == content
    b = r.dom
    u = b.query_selector(0, "u")
    from fortissimo_spark.dom import EXPLICITLY_CLOSED
    assert b.nodes[u][N_CLOSURE] == EXPLICITLY_CLOSED

