#!/usr/bin/env python3
"""Report how much of the parse the native core owns.

The pages go through ``decode_parse`` and ``extract(strip="density")``
exactly as the extract kernel calls them, with the core's per-branch token
counters (``_native.stats()``) read around each page.  Prints every
branch's count, then the share of tokens and of documents that the core
hands to the Python general machine, and the share of nodes whose 21-slot
record was built (``NodeStore.materialized``: the records that table
repair and the hand-offs read; the core itself builds none).

Usage: python bench/fastpath_hitrates.py [ndocs] [--workload NAME]

Without ``--workload`` the pages are the first ndocs bench-corpus docs
(``.bench_scratch/pages_sf0.1_x20/``); with it, a perfbench workload's
generated pages (``crawl_agg``, ``tag_soup``, seed 1).
"""
import argparse
import collections
import glob
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
import pyarrow.parquet as pq  # noqa: E402

import fortissimo_spark.parser as P  # noqa: E402
from fortissimo_spark.extract import extract  # noqa: E402
from fortissimo_spark.kernel import decode_parse  # noqa: E402

# the token-level branches: every token the core reads is counted in
# exactly one of them (meta_sniff, raw_text and raw_text_eof refine start
# and void)
OWNED = ("text", "comment", "declaration", "end_top", "end_unwind",
         "end_unmatched", "start", "void", "bad_term")

ap = argparse.ArgumentParser()
ap.add_argument("ndocs", nargs="?", type=int, default=10000)
ap.add_argument("--workload", choices=("crawl_agg", "tag_soup"))
opts = ap.parse_args()
if not P.NATIVE:
    sys.exit("the native core is not built: every token goes to the "
             "Python general machine")

if opts.workload:
    from perfbench.inputs import generate  # noqa: E402
    raws = generate(opts.workload, 1).rows["html"]
else:
    raws = []
    for f in sorted(glob.glob(os.path.join(
            ROOT, ".bench_scratch/pages_sf0.1_x20/*.parquet"))):
        raws.extend(pq.read_table(f, columns=["html"]).column("html")
                    .to_pylist())
        if len(raws) >= opts.ndocs:
            break
raws = raws[:opts.ndocs]

total = collections.Counter()
docs_handed_off = 0
records = nodes = 0
for raw in raws:
    P._native.reset_stats()
    result = decode_parse(bytes(raw or b""))[0]
    extract(result.dom, "density")
    counts = P._native.stats()
    records += result.dom.nodes.materialized
    nodes += len(result.dom.nodes)
    total.update(counts)
    docs_handed_off += any(v for k, v in counts.items()
                           if k.startswith("handoff_"))

owned = sum(total[k] for k in OWNED)
handed = sum(v for k, v in total.items() if k.startswith("handoff_"))
print(f"{len(raws)} pages ({opts.workload or 'bench corpus'})")
for name, v in sorted(total.items()):
    print(f"  {name:18s} {v:10d}")
print(f"tokens handed to the general machine: {handed} of {owned + handed}"
      f" ({100 * handed / max(owned + handed, 1):.2f}%)")
print(f"docs with a hand-off: {docs_handed_off} of {len(raws)}"
      f" ({100 * docs_handed_off / max(len(raws), 1):.1f}%)")
print(f"records built: {records} of {nodes} nodes"
      f" ({100 * records / max(nodes, 1):.2f}%)")
