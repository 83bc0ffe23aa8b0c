"""Adversarial parser fixtures: every tag, attribute and markup edge the
native core of ``fortissimo_spark.parser`` touches or hands off.

Shared by ``bench/parity_dump.py`` (byte-level snapshots against a parent
checkout) and ``tests/test_parser_fastpaths.py`` (the native core against
the general state machine).  Add a fixture here before adding a new
tokenizer shape.
"""
import random

FIXTURES = [
    "<div>", "<div >", "<div/>", "<div />", "<br>", "<input disabled>",
    "<a b>", "<a b >", "<a b=1>", "<a b = 1 >", "<a b='x'>", '<a b="x">',
    '<a b="x y > z">', "<a b='x\ny'>", "<a b=>", "<a b= >", "<a b==c>",
    "<a b=1/>", "<a b=1/ >", "<a b=//>", "<a =x>", "<a = >", "<a / b>",
    "<a //>", "<a b/c>", "<a b=c=d>", '<a "b">', "<a 'b'=c>",
    "<a b=\"unterminated", "<a b='unterminated", "<a b=\"x", "<a b='",
    "<a b", "<a b ", "<a b=", "<a b= ", "<a b=c", "<a b=c ", "<a ", "<a",
    "<a\U00010000>", "<a \U00010000 b=1>", "<a b\U00010001c=1>",
    "<a b=\U00010000x>", "<a b = \U00010000 >", "text<a b=1>more</a>end",
    "</div>", "</div >", "</ div>", "</div x>", "</>", "</", "</ ", "</x",
    "</x ", "<//x>", "</x/y>", "</-x>", "</x\U00010000>", "</x \t\n>",
    "<!-- comment -->", "<!-- x --->", "<!-- x ---->", "<!--->", "<!-- x",
    "<!doctype html>", "<!DOCTYPE html PUBLIC 'x'>", "<!decl>", "<!>",
    "<?pi?>", "<?xml version='1.0'?><root/>", "<? >",
    "<script>if (a<b) x();</script>", "<script>var s='</scr'+'ipt>';</script>",
    "<style>a>b{}</style>", "<textarea>&amp;<</textarea>",
    "<script>unterminated", "<svg><![CDATA[x]]></svg>", "<svg><![CDATA[x",
    "<table><td>x</td></table>", "<p>a<p>b", "<b><i>x</b></i>",
    "<ul><li>a<li>b</ul>", "<b><td></b>", "<meta charset='latin-1'>x",
    "<meta http-equiv='content-type' content='text/html; charset=utf-8'>",
    "<html lang=en><body><h1>T</h1><p>para one with enough text here</p>",
    "< notag>", "<<p>>", "a < b > c", "&amp; &lt; &#65; &#x41; &unknown;",
    "plain text only", "", " ", "\n\n", "x", "<",  "<a b=c d='e' f=\"g\" h>",
    "<a b='x' c>text</a>", "﻿bom text", "<div\U00010000attr=1>",
    '<a b="x"c="y">', "<a b='x'c='y'>",
    # table repair: bare cells and rows wrapped in synthetic tr / tbody
    "<table><td>a<td>b</table>", "<table><td>a</td><td>b</td></table>",
    "<table><tbody><td>a<td>b</tbody></table>",
    "<table><thead><tr><th>h</th></tr></thead><tr><td>a</td></tr>"
    "<tr><td>b</td></tr></table>",
    "<table>\n<td>a</td>\n<td>b</td>\n</table>",
    # string kinds, non-ASCII lowercasing, names longer than the core's
    # string cache, KELVIN SIGN (lowercases to 'k')
    "\u263a<p title='\u263a'>\u263a</P>", "<\u00e9>x</\u00c9>",
    "<D\u0130V>x</d\u0130v>", "<\u212aBD>x</kbd>", "<textarea>\u212a</textarea>",
    "<" + "x" * 30 + " " + "a" * 30 + "=" + "v" * 30 + ">y</" + "X" * 30 + ">",
    "<SCRIPT>a</ScRiPt >b", "<Table><TD>a</td></TABLE>",
    # declarations and doctypes (an xhtml doctype switches to xml mode)
    "<!DOCTYPE html>x", "<!doctypehtml>", "<!doctype>", "<!doctype_x>",
    "<! doctype html>", "<!doctype html", "<![if IE]>x<![endif]>",
    "<!DOCTYPE html PUBLIC '-//W3C//DTD XHTML 1.0 Strict//EN'><p a=b>x",
    # the meta charset two-step across tags
    "<meta charset>x", "<meta charset=''><meta charset=utf-8>",
    "<meta charset=utf-8><meta charset=latin-1>",
    "<meta http-equiv=content-type content='text/html; charset=koi8-r'>",
    "<meta content='charset=x'><meta http-equiv=Content-Type>",
    "<meta content='charset=x' http-equiv=content-type =>",
    "<META CHARSET=\"Shift_JIS\"/><p>",
]


def table_soups(n: int, seed: int = 5):
    """``n`` seeded tables of bare, nested and closed cells, rows and
    sections (the shapes table repair rewrites)."""
    rng = random.Random(seed)
    parts = ["<td>a", "<td>b</td>", "<th>h</th>", "<tr>", "</tr>", "<tbody>",
             "</tbody>", "<thead>", "</thead>", "<tfoot>", "\n", " ",
             "<caption>c</caption>", "<p>x</p>", "<!--c-->"]
    for _ in range(n):
        yield ("<table>" + "".join(rng.choice(parts)
                                   for _ in range(rng.randint(1, 10)))
               + "</table>")
