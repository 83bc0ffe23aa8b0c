#!/usr/bin/env python3
"""Report how much of the parse and of the extract kernel the native core
owns.

Two passes over the pages.  The first runs ``decode_parse`` and
``extract(strip="density")`` per page, as ``process_document`` does, with
the core's per-branch token counters (``_native.stats()``) read around
each page: it prints every branch's count, the share of tokens and of
documents that the core hands to the Python general machine, and the
share of nodes whose 21-slot record was built (``NodeStore.materialized``:
the records that the hand-offs read; the core itself builds none).  The
second runs the extract kernel's row (``kernel._extract_page``) per page
and prints the share of pages that the core's one call (``_native.page``)
settles, the count of each fallback reason (``handoff``, and ``no core``
when the core did not build), the share of pages that took the charset
retry's second call (on the re-decoded text) and the records built on
that path.

Usage: python bench/fastpath_hitrates.py [ndocs] [--workload NAME]...

Without ``--workload`` the pages are the first ndocs bench-corpus docs
(``.bench_scratch/pages_sf0.1_x20/``); with it, each named perfbench
workload's generated pages (``crawl_agg``, ``tag_soup``, seed 1) in turn.
"""
import argparse
import collections
import glob
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
import pyarrow.parquet as pq  # noqa: E402

import fortissimo_spark.kernel as K  # noqa: E402
import fortissimo_spark.parser as P  # noqa: E402
from fortissimo_spark.extract import extract  # noqa: E402

# the token-level branches: every token the core reads is counted in
# exactly one of them (meta_sniff, raw_text and raw_text_eof refine start
# and void)
OWNED = ("text", "comment", "declaration", "end_top", "end_unwind",
         "end_unmatched", "start", "void", "bad_term")
FALLBACKS = ("handoff",)


def _pages(workload, ndocs):
    if workload:
        from perfbench.inputs import generate
        return generate(workload, 1).rows["html"][:ndocs]
    raws = []
    for f in sorted(glob.glob(os.path.join(
            ROOT, ".bench_scratch/pages_sf0.1_x20/*.parquet"))):
        raws.extend(pq.read_table(f, columns=["html"]).column("html")
                    .to_pylist())
        if len(raws) >= ndocs:
            break
    return raws[:ndocs]


def _parse_pass(raws):
    total = collections.Counter()
    docs_handed_off = records = nodes = 0
    for raw in raws:
        P._native.reset_stats()
        result = K.decode_parse(raw)[0]
        extract(result.dom, "density")
        counts = P._native.stats()
        records += result.dom.nodes.materialized
        nodes += len(result.dom.nodes)
        total.update(counts)
        docs_handed_off += any(v for k, v in counts.items()
                               if k.startswith("handoff_"))
    owned = sum(total[k] for k in OWNED)
    handed = sum(v for k, v in total.items() if k.startswith("handoff_"))
    for name, v in sorted(total.items()):
        print(f"  {name:18s} {v:10d}")
    print(f"tokens handed to the general machine: {handed} of "
          f"{owned + handed} ({100 * handed / max(owned + handed, 1):.2f}%)")
    print(f"docs with a hand-off: {docs_handed_off} of {len(raws)}"
          f" ({100 * docs_handed_off / max(len(raws), 1):.1f}%)")
    print(f"records built by decode_parse + extract: {records} of {nodes}"
          f" nodes ({100 * records / max(nodes, 1):.2f}%)")


def _kernel_pass(raws):
    page, calls = K._NATIVE_PAGE, [0]

    def counting_page(*args):
        calls[0] += 1
        return page(*args)

    K._NATIVE_PAGE = counting_page
    P._native.reset_stats()
    retried = 0
    try:
        for raw in raws:
            calls[0] = 0
            K._extract_page(raw, "density", False)
            retried += calls[0] == 2
    finally:
        K._NATIVE_PAGE = page
    pages = P._native.stats()
    settled = pages["settled"]
    print(f"one call settles {settled} of {len(raws)} pages"
          f" ({100 * settled / max(len(raws), 1):.2f}%); fallbacks: "
          + ", ".join(f"{k} {pages[k]}" for k in FALLBACKS) + ", no core 0")
    print(f"pages that took the charset retry's second call: {retried} of"
          f" {len(raws)} ({100 * retried / max(len(raws), 1):.2f}%)")
    print(f"records built by the kernel row: {pages['records']}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("ndocs", nargs="?", type=int, default=10000)
    ap.add_argument("--workload", action="append",
                    choices=("crawl_agg", "tag_soup"))
    opts = ap.parse_args()
    for workload in opts.workload or [None]:
        raws = [bytes(r or b"") for r in _pages(workload, opts.ndocs)]
        print(f"{len(raws)} pages ({workload or 'bench corpus'})")
        if not P.NATIVE:
            print(f"one call settles 0 of {len(raws)} pages; fallbacks: "
                  + ", ".join(f"{k} 0" for k in FALLBACKS)
                  + f", no core {len(raws)} (the native core is not built:"
                  " every token goes to the Python general machine)")
            continue
        _parse_pass(raws)
        _kernel_pass(raws)


if __name__ == "__main__":
    main()
