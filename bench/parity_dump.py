#!/usr/bin/env python3
"""Full-fidelity parity snapshot for the parse/extract hot path and
every page kernel.

dump mode:  python bench/parity_dump.py dump /tmp/parity_ref.pkl [ndocs]
check mode: python bench/parity_dump.py check /tmp/parity_ref.pkl [ndocs]

Covers: every EXTRACT field, the serialized round-trip, and a per-node
structural snapshot (every record field but the children list, read
through the ``N_*`` slot names, in positions=False mode), plus a
positions=True sample of every node's line, column, end line and end
column — over corpus docs AND adversarial fixtures.  The snapshots name
fields, not slot numbers, so the same script checks code with a different
record layout.  Then every page kernel (the 15 in kernel.py, graph's outlinks,
robots' sitemap/feed/feed-discovery) runs in-process, without Spark, over
the fixtures, CHARSET_PAGES, XML_FIXTURES and the first KERNEL_DOCS corpus
docs; each output frame is snapshotted as its column list plus its rows
after the Arrow conversion Spark applies (``to_arrow_schema`` of the
kernel's output schema).  The other ten kernels on the row-kernel loop
(media, PDF, WARC/WET, page generation) run over their fixtures, once as
one batch and once as one batch per payload; a snapshot is the rows of
all frames after the Arrow conversion, concatenated, so a zero-row frame
is no difference.  A check prints the label of every mismatching
snapshot.

The adversarial fixtures, CHARSET_PAGES and XML_FIXTURES live in
``tests/parser_fixtures.py`` (shared with the native parse and density
differential tests), the kernels and their fixtures in
``tests/kernel_fixtures.py`` (shared with the kernel tests).  The script
imports ``fortissimo_spark`` from the checkout it sits in, so a
parent-code reference is made by copying this file and those two into a
parent checkout (with ``.bench_scratch`` linked in for the corpus half)
and running dump there.
"""
import os
import pickle
import sys

import pyarrow as pa

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
from pyspark.sql.pandas.types import to_arrow_schema  # noqa: E402

from fortissimo_spark import dom as D  # noqa: E402
from fortissimo_spark.kernel import process_document, decode_page_bytes  # noqa: E402
from fortissimo_spark.parser import parse  # noqa: E402
from tests.kernel_fixtures import (  # noqa: E402
    batch, folded_kernels, page_kernels, run,
)
from tests.parser_fixtures import (  # noqa: E402
    CHARSET_PAGES, FIXTURES, XML_FIXTURES, corpus_pages,
)

MODE = sys.argv[1]
PATH = sys.argv[2]
NDOCS = int(sys.argv[3]) if len(sys.argv) > 3 else 20000

KERNEL_DOCS = 1000
BATCH = 100


def arrow_rows(df, schema):
    """The rows of ``df`` after the Arrow conversion Spark applies, or
    the failure of a frame Spark could not ship either."""
    try:
        table = pa.Table.from_pandas(df, schema=to_arrow_schema(schema),
                                     preserve_index=False, safe=True)
    except (pa.ArrowException, ValueError, TypeError) as e:
        return ("arrow conversion failed", type(e).__name__)
    return tuple(tuple(r.values()) for r in table.to_pylist())


def kernel_inputs(n):
    """(label, payloads, urls) page input groups."""
    groups = [(label, raws, [f"http://fixture.test/{label}/{i}"
                             for i in range(len(raws))])
              for label, raws in (
                  ("fixtures",
                   [fx.encode("utf-8") for fx in FIXTURES] + [None]),
                  ("charset", [p.encode("utf-8") for p in CHARSET_PAGES]),
                  ("xml", [p.encode("utf-8") for p in XML_FIXTURES]))]
    docs = corpus_pages(ROOT, n)
    for i in range(0, len(docs), BATCH):
        part = docs[i:i + BATCH]
        groups.append((f"corpus[{i}:{i + len(part)}]",
                       [d["html"] for d in part], [d["url"] for d in part]))
    return groups


def kernel_snapshots(n):
    snaps = []
    groups = kernel_inputs(n)
    for name, k in page_kernels().items():
        for label, raws, urls in groups:
            snaps.append((f"kernel {name} / {label}", tuple(
                (tuple(df.columns), arrow_rows(df, k.schema))
                for df in run(k, raws, urls))))
    for name, k in folded_kernels().items():
        for label, batches in (
                ("one batch", [batch(k, k.fixtures)]),
                ("a batch per payload", [batch(k, [p]) for p in k.fixtures])):
            snaps.append((f"kernel {name} / {label}", tuple(
                row for df in k.fn(iter(batches))
                for row in arrow_rows(df, k.schema))))
    return snaps


# the record fields a doc snapshot holds, by name
_SCALARS = (D.N_KIND, D.N_TAG, D.N_TAG_LC, D.N_PARENT, D.N_CLOSURE,
            D.N_CONTENT, D.N_TERMINATED, D.N_POSS_ENT, D.N_END_TAG,
            D.N_INNER_WS, D.N_BAD_TERM, D.N_SYNTHETIC, D.N_SRC_START,
            D.N_SRC_END)
_ATTRS = (D.N_ATTR_NAMES, D.N_ATTR_VALUES, D.N_ATTR_SPACING,
          D.N_ATTR_EQUALS, D.N_ATTR_QUOTES)


def doc_snapshot(raw: bytes) -> tuple:
    d = process_document(raw, "density")
    res = d.pop("_result")
    b = res.dom
    nodes = tuple(tuple(nd[f] for f in _SCALARS)
                  + tuple(tuple(nd[f] or ()) for f in _ATTRS)
                  for nd in b.nodes)
    ser = res.to_string()
    return (tuple(sorted(d.items(), key=lambda kv: kv[0])), ser, nodes)


def pos_snapshot(text: str) -> tuple:
    r = parse(text, positions=True)
    b = r.dom
    return (r.errors, r.lines, r.unclosed_tags, r.implicitly_closed_tags,
            tuple(b.line_col(i) + b.line_col(i, end=True)
                  for i in range(len(b.nodes))))


def corpus_raws(n):
    return [d["html"] for d in corpus_pages(ROOT, n)]


def build(n):
    snaps = []
    for i, fx in enumerate(FIXTURES):
        snaps.append((f"fixture {i} doc", doc_snapshot(fx.encode("utf-8"))))
        snaps.append((f"fixture {i} positions", pos_snapshot(fx)))
    for i, raw in enumerate(corpus_raws(n)):
        snaps.append((f"corpus {i} doc", doc_snapshot(bytes(raw or b""))))
    # positions=True over a corpus subset
    for i, raw in enumerate(corpus_raws(min(n, 2000))):
        text, _, _ = decode_page_bytes(bytes(raw or b""))
        snaps.append((f"corpus {i} positions", pos_snapshot(text)))
    return snaps + kernel_snapshots(min(n, KERNEL_DOCS))


if MODE == "dump":
    with open(PATH, "wb") as fh:
        pickle.dump(build(NDOCS), fh)
    print(f"dumped {NDOCS} corpus docs + {len(FIXTURES)} fixtures")
elif MODE == "check":
    with open(PATH, "rb") as fh:
        ref = pickle.load(fh)
    cur = build(NDOCS)
    assert [k for k, _ in ref] == [k for k, _ in cur], (len(ref), len(cur))
    bad = 0
    for (label, a), (_, b) in zip(ref, cur):
        if a != b:
            bad += 1
            print(f"MISMATCH at {label}")
            if bad <= 3:
                for j, (x, y) in enumerate(zip(a, b)):
                    if x != y:
                        print(f"  part {j}:\n   ref={str(x)[:500]}\n   cur={str(y)[:500]}")
    print("PARITY OK" if bad == 0 else f"PARITY FAILED: {bad} mismatches")
    sys.exit(1 if bad else 0)
