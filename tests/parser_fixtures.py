"""Adversarial parser fixtures: every tag, attribute and markup edge the
native core of ``fortissimo_spark.parser`` touches or hands off.

Shared by ``bench/parity_dump.py`` (byte-level snapshots against a parent
checkout), ``tests/test_parser_fastpaths.py`` (the native core against
the general state machine) and ``tests/test_extract_native.py`` (native
density extraction against the Python loop), with the pages the kernel
snapshots use and the reader of the parity corpus.  Add a fixture here
before adding a new tokenizer shape.
"""
import glob
import os
import random

import pyarrow.parquet as pq

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


# UTF-8 bytes declaring windows-1252: decode_parse re-decodes them as
# cp1252, so every kernel on that front end sees the same (mojibake) text
CHARSET_PAGES = [
    "<meta charset=windows-1252><title>café</title>"
    "<table><tr><td>naïve</td></table>",
    "<html><head><meta charset='windows-1252'><title>Crème</title>"
    "<meta name=robots content='noindex, nofollow'>"
    "<meta name=description content='déjà vu'>"
    "<link rel=canonical href='/é'>"
    "<link rel=alternate type='application/rss+xml' href='/flüx' title='Flüx'>"
    "<script type='application/ld+json'>{\"@type\": \"Café\", "
    "\"name\": \"Bäckerei\"}</script></head>"
    "<body><h1>Über</h1><p>prélude</p><h2>Zwei</h2>"
    "<a href='/naïve' rel=nofollow>lién</a>"
    "<div itemscope itemtype='https://schema.org/Thing'>"
    "<span itemprop=name>Ärger</span></div>"
    "<div vocab='https://schema.org/' typeof=Person>"
    "<span property=name>Zoë</span></div></body></html>",
    "<meta charset=windows-1252><rss><channel><item><title>Thé</title>"
    "<link>http://x/é</link><pubDate>Mon, 01 Jan 2024 00:00:00 GMT</pubDate>"
    "</item></channel></rss>",
    "<meta charset=windows-1252><urlset><url><loc>http://x/é</loc>"
    "<lastmod>2024-01-01</lastmod><priority>0.5</priority></url></urlset>",
]

# sitemap / feed payloads for the XML kernels
XML_FIXTURES = [
    "<?xml version='1.0'?><urlset><url><loc>http://a/1</loc>"
    "<lastmod>2024-01-02</lastmod><changefreq>daily</changefreq>"
    "<priority>0.8</priority></url><url><loc></loc></url>"
    "<url><loc>http://a/2</loc></url></urlset>",
    "<sm:sitemapindex><sm:sitemap><sm:loc>http://a/s1.xml</sm:loc>"
    "</sm:sitemap></sm:sitemapindex>",
    "<rss><channel><item><title>T</title><link>http://a/i</link>"
    "<pubDate>Tue, 02 Jan 2024 10:00:00 GMT</pubDate></item>"
    "<item><title>U</title><pubDate>garbage</pubDate></item></channel></rss>",
    "<feed><entry><title>E</title><link href='http://a/e'/>"
    "<updated>2024-01-03T00:00:00Z</updated></entry></feed>",
    "<not-a-feed/>",
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


# tree-repair shapes: end tags that close an element below the stack top
# (the unwind) or close nothing (an unmatched close)
POP_SHAPES = [
    "<//>", "x<//>", "<//><//>y", "<p></p><//>", "<div><//></div><//>",
    "<b><i>x</b>y</i>", "<b><i><u><s>x</b></s>", "<div><b><i>x</div>",
    "<b><td></b>", "<b><td>x</td></b>", "<a><object><i></a></i>",
    "<em><caption></em>", "<u><td></u>", "<b><marquee><nobr></b>",
    "<div><table><td>x</div>", "<table><tr><td>x<div></table>",
    "<table><tbody><tr>a<td>b</tbody><th>c</table>",
    "<div><table><td><table><td>y</div>",
    "<div><svg><g></div>", "<math><mi>x</math>", "<p><svg><math></p>",
    "<svg><math><svg></svg></math></svg>", "<div><svg></div></svg>",
    "<a></b>", "<p>x</span>", "</x>", "<b>x</i >", "<b></B>", "<B><i></b>",
    "<div>" * 40 + "</span>" * 40, "<b><i>" * 30 + "</p>" * 30,
    "<div>" * 30 + "<b>x</div>" * 30,
]


def pop_soups(n: int, seed: int = 11):
    """``n`` seeded soups of misnested end tags: closes that unwind
    several open elements, formatting closes blocked by a marker
    (``<b><td></b>``), tables, math and svg closed by an unwind, ``<//>``
    at the root and unmatched closes, some of them at EOF."""
    rng = random.Random(seed)
    tags = ("b", "i", "a", "font", "nobr", "strong", "u", "td", "th",
            "caption", "object", "template", "div", "span", "p", "table",
            "tr", "tbody", "li", "math", "svg", "g", "B", "Td")
    for _ in range(n):
        opened, parts = [], []
        for _ in range(rng.randint(2, 24)):
            r = rng.random()
            if r < 0.45:
                opened.append(rng.choice(tags))
                parts.append(f"<{opened[-1]}>")
            elif r < 0.8 and opened:
                # most often below the top: an unwind
                parts.append(f"</{rng.choice(opened)}>")
            elif r < 0.85:
                parts.append("<//>")
            elif r < 0.93:
                parts.append(f"</{rng.choice(tags)}>")
            else:
                parts.append(rng.choice(("x", " ", "\n")))
        yield "".join(parts)


def corpus_pages(root: str, n: int) -> list:
    """The first ``n`` ``{url, html}`` rows of the parity corpus under the
    checkout ``root`` (built by ``bench.ensure_corpus``); none when it was
    not built."""
    rows = []
    for f in sorted(glob.glob(os.path.join(
            root, ".bench_scratch/pages_sf0.1_x20/*.parquet"))):
        rows.extend(pq.read_table(f, columns=["url", "html"]).to_pylist())
        if len(rows) >= n:
            break
    return rows[:n]
