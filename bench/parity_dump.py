#!/usr/bin/env python3
"""Full-fidelity parity snapshot for the parse/extract hot path.

dump mode:  python bench/parity_dump.py dump /tmp/parity_ref.pkl [ndocs]
check mode: python bench/parity_dump.py check /tmp/parity_ref.pkl [ndocs]

Covers: every EXTRACT field, the serialized round-trip, and a per-node
structural snapshot (all 24 fields minus line/col in positions=False mode),
plus a positions=True line/col sample — over corpus docs AND adversarial
fixtures.
"""
import glob
import pickle
import sys

import pyarrow.parquet as pq

sys.path.insert(0, "/root/repo")
from fortissimo_spark.kernel import process_document, decode_parse  # noqa: E402
from fortissimo_spark.parser import parse  # noqa: E402

MODE = sys.argv[1]
PATH = sys.argv[2]
NDOCS = int(sys.argv[3]) if len(sys.argv) > 3 else 20000

# adversarial fixtures: every parser edge the fast paths touch
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
]


def doc_snapshot(raw: bytes) -> tuple:
    d = process_document(raw, "density")
    res = d.pop("_result")
    b = res.dom
    nodes = tuple(
        (nd[0], nd[1], nd[2], nd[3], nd[5], nd[6], nd[7], nd[8], nd[11],
         tuple(nd[14] or ()), tuple(nd[15] or ()), tuple(nd[16] or ()),
         tuple(nd[17] or ()), tuple(nd[18] or ()), nd[19], nd[20], nd[21],
         nd[22], nd[23])
        for nd in b.nodes)
    ser = res.to_string()
    return (tuple(sorted(d.items(), key=lambda kv: kv[0])), ser, nodes)


def pos_snapshot(text: str) -> tuple:
    r = parse(text, positions=True)
    b = r.dom
    return (r.errors, r.lines, r.unclosed_tags, r.implicitly_closed_tags,
            tuple((nd[9], nd[10], nd[12], nd[13]) for nd in b.nodes))


def corpus_raws(n):
    raws = []
    for f in sorted(glob.glob("/root/repo/.bench_scratch/pages_sf0.1_x20/*.parquet")):
        t = pq.read_table(f, columns=["html"])
        raws.extend(t.column("html").to_pylist())
        if len(raws) >= n:
            break
    return raws[:n]


def build(n):
    snaps = []
    for fx in FIXTURES:
        snaps.append(doc_snapshot(fx.encode("utf-8")))
        snaps.append(pos_snapshot(fx))
    for raw in corpus_raws(n):
        snaps.append(doc_snapshot(bytes(raw or b"")))
    # positions=True over a corpus subset
    for raw in corpus_raws(min(n, 2000)):
        text, _, _ = __import__("fortissimo_spark.kernel", fromlist=["x"]).decode_page_bytes(bytes(raw or b""))
        snaps.append(pos_snapshot(text))
    return snaps


if MODE == "dump":
    with open(PATH, "wb") as fh:
        pickle.dump(build(NDOCS), fh)
    print(f"dumped {NDOCS} corpus docs + {len(FIXTURES)} fixtures")
elif MODE == "check":
    with open(PATH, "rb") as fh:
        ref = pickle.load(fh)
    cur = build(NDOCS)
    assert len(ref) == len(cur), (len(ref), len(cur))
    bad = 0
    for idx, (a, b) in enumerate(zip(ref, cur)):
        if a != b:
            bad += 1
            print(f"MISMATCH at snapshot {idx}")
            if bad <= 3:
                for j, (x, y) in enumerate(zip(a, b)):
                    if x != y:
                        print(f"  part {j}:\n   ref={str(x)[:500]}\n   cur={str(y)[:500]}")
    print("PARITY OK" if bad == 0 else f"PARITY FAILED: {bad} mismatches")
    sys.exit(1 if bad else 0)
