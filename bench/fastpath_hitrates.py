#!/usr/bin/env python3
"""Count parser fast-path hit rates.

Every fused regex in ``fortissimo_spark.parser`` is wrapped in a counter
(``parse()`` binds them from the module globals on each call), then the
pages go through ``decode_parse`` exactly as the page kernels call it.

Usage: python bench/fastpath_hitrates.py [ndocs] [--workload NAME]

Without ``--workload`` the pages are the first ndocs bench-corpus docs
(``.bench_scratch/pages_sf0.1_x20/``); with it, a perfbench workload's
generated pages (``crawl_agg``, ``tag_soup``, seed 1).
"""
import argparse
import glob
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
import pyarrow.parquet as pq  # noqa: E402

import fortissimo_spark.parser as P  # noqa: E402
from fortissimo_spark.kernel import decode_parse  # noqa: E402

ap = argparse.ArgumentParser()
ap.add_argument("ndocs", nargs="?", type=int, default=10000)
ap.add_argument("--workload", choices=("crawl_agg", "tag_soup"))
opts = ap.parse_args()
NDOCS, WORKLOAD = opts.ndocs, opts.workload


class Counter:
    def __init__(self, m):
        self.m = m
        self.hit = 0
        self.miss = 0

    def __call__(self, t, pos):
        r = self.m(t, pos)
        if r is None:
            self.miss += 1
        else:
            self.hit += 1
        return r


counters = {}
for name in ("_RE_STAG_FAST", "_RE_ATTR_FAST", "_RE_TAG_CLOSE",
             "_RE_END_FAST"):
    c = Counter(getattr(P, name).match)
    counters[name] = c
    setattr(P, name, type("X", (), {"match": staticmethod(c)}))

if WORKLOAD:
    from perfbench.inputs import generate  # noqa: E402
    raws = generate(WORKLOAD, 1).rows["html"]
else:
    raws = []
    for f in sorted(glob.glob(os.path.join(
            ROOT, ".bench_scratch/pages_sf0.1_x20/*.parquet"))):
        raws.extend(pq.read_table(f, columns=["html"]).column("html")
                    .to_pylist())
        if len(raws) >= NDOCS:
            break
raws = raws[:NDOCS]
for raw in raws:
    decode_parse(bytes(raw or b""))

print(f"{len(raws)} pages ({WORKLOAD or 'bench corpus'})")
for name, c in counters.items():
    tot = c.hit + c.miss
    print(f"{name:14s} hit {c.hit:8d}  miss {c.miss:8d}"
          f"  ({100 * c.hit / max(tot, 1):.1f}% hit)")
