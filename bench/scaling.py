#!/usr/bin/env python3
"""N -> 4N executor scaling of the headline dedup+extract(density) job.

Each level runs the same job on the same corpus in a child process of this
script (``--child N``) with a fresh ``local-cluster[N,2,3072]``: N executor
JVMs of 2 cores, engine shipped as the ``--py-files`` zip. Levels interleave
across rounds so a noisy-neighbor period hits all alike; the best round per
level is kept and each N -> 4N pair reports (rate_4N / rate_N) / 4. Each
level line carries bench.py's ``noise_factor`` and ``ambient_load1``.

``--layout parquet`` reads splittable parquet (the dedup window shuffles on
hash(url)); ``--layout bucketed`` reads the url-bucketed table, where the
window is exchange-free. A missing corpus is built under .bench_scratch/.

Run:  python bench/scaling.py --layout parquet|bucketed
Env:  SCALING_LEVELS=1,2,4,8  SCALING_ROUNDS=3  SPARK_GRAFT_SF_DIR  BENCH_AMPLIFY=40
Writes bench/scaling_results.json.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH = os.path.join(REPO, ".bench_scratch")
LEVELS = [int(x) for x in os.environ.get("SCALING_LEVELS", "1,2,4,8").split(",")]
ROUNDS = int(os.environ.get("SCALING_ROUNDS", "3"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
AMPLIFY = int(os.environ.get("BENCH_AMPLIFY", "40"))
CORES_PER_EXECUTOR = 2


def corpus_path(layout: str) -> str:
    tag = os.path.basename(SF_DIR.rstrip("/"))
    name = "pages" if layout == "parquet" else "pages_bucketed"
    return os.path.join(SCRATCH, f"{name}_{tag}_x{AMPLIFY}")


def ensure_corpus(layout: str) -> None:
    """Materialize the shared pages corpus once (any parallelism)."""
    path = corpus_path(layout)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return
    from pyspark.sql import SparkSession
    from fortissimo_spark.io_tables import build_pages, write_bucketed_pages

    spark = (SparkSession.builder.master("local[*]")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.driver.memory", "8g")
             .config("spark.sql.warehouse.dir", os.path.join(SCRATCH, "warehouse"))
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    pages = build_pages(spark, SF_DIR, amplify=AMPLIFY, num_partitions=128)
    if layout == "parquet":
        pages.write.mode("overwrite").parquet(path)
    else:
        write_bucketed_pages(pages, "pages_bucketed", location=path)
    spark.stop()


def noise_sample() -> dict:
    """bench.py's noise controls plus loadavg, which sees what they cannot:
    a co-tenant steadily burning whole cores (it slows the 4N side most)."""
    from bench import (CONTROL_MEMBW_REF_SEC, CONTROL_REF_SEC,
                       cpu_control_sample, membw_control_sample)
    noise = max(min(cpu_control_sample() for _ in range(3)) / CONTROL_REF_SEC,
                min(membw_control_sample() for _ in range(3))
                / CONTROL_MEMBW_REF_SEC)
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"noise_factor": round(noise, 3), "ambient_load1": load1}


def run_child(layout: str, n_exec: int) -> None:
    """One level: untimed warmup (executor JVMs + Python workers), then one
    timed dedup+extract pass. Prints one JSON line."""
    from pyspark.sql import SparkSession, functions as F
    from fortissimo_spark.io_tables import register_bucketed_pages
    from fortissimo_spark.pipeline import dedup_latest_crawl, extract_df
    from fortissimo_spark.submit import attach_to_session

    spark = (SparkSession.builder
             .master(f"local-cluster[{n_exec},{CORES_PER_EXECUTOR},3072]")
             .config("spark.executor.memory", "2g")
             .config("spark.sql.shuffle.partitions",
                     str(max(n_exec * CORES_PER_EXECUTOR * 2, 8)))
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.driver.memory", "8g")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    attach_to_session(spark)
    path = corpus_path(layout)
    pages = (spark.read.parquet(path) if layout == "parquet"
             else register_bucketed_pages(spark, "pages_bucketed_scaling", path))
    extract_df(pages.limit(2000), "density").agg(F.count("*")).collect()

    t0 = time.time()
    docs = (extract_df(dedup_latest_crawl(pages), "density")
            .agg(F.count("*").alias("docs")).collect()[0]["docs"])
    seconds = time.time() - t0
    spark.stop()
    print(json.dumps({"executors": n_exec, "cores_per_executor": CORES_PER_EXECUTOR,
                      "docs": docs, "seconds": round(seconds, 2),
                      "docs_per_sec": round(docs / seconds, 1),
                      **noise_sample()}))


def run_level(layout: str, n_exec: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--layout", layout,
         "--child", str(n_exec)],
        capture_output=True, text=True, timeout=3600)
    lines = [ln for ln in out.stdout.strip().splitlines() if ln.startswith("{")]
    if not lines:
        raise RuntimeError(f"level {n_exec} failed: {out.stderr[-2000:]}")
    return json.loads(lines[-1])


def scaling_pairs(levels) -> list[tuple[int, int]]:
    """The (N, 4N) pairs present among ``levels``."""
    return [(n, n * 4) for n in sorted(levels) if n * 4 in levels]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--layout", choices=("parquet", "bucketed"), default="parquet")
    ap.add_argument("--child", type=int, help=argparse.SUPPRESS)
    args = ap.parse_args()
    sys.path.insert(0, REPO)
    if args.child:
        run_child(args.layout, args.child)
        return

    ensure_corpus(args.layout)
    results = {}
    for rnd in range(ROUNDS):
        for n_exec in LEVELS:
            print(f"--- round {rnd + 1}/{ROUNDS}: {n_exec} executors x "
                  f"{CORES_PER_EXECUTOR} cores ...", flush=True)
            r = run_level(args.layout, n_exec)
            if n_exec not in results or r["seconds"] < results[n_exec]["seconds"]:
                results[n_exec] = r
            print(f"    {r['docs']} docs in {r['seconds']}s = {r['docs_per_sec']} "
                  f"docs/s (noise_factor {r['noise_factor']}, "
                  f"load1 {r['ambient_load1']})", flush=True)

    pairs = []
    for n, n4 in scaling_pairs(results):
        rate_n, rate_4n = results[n]["docs_per_sec"], results[n4]["docs_per_sec"]
        eff = round(rate_4n / rate_n / 4.0, 3)
        pairs.append({"n": n, "4n": n4, "rate_n": rate_n,
                      "rate_4n": rate_4n, "efficiency": eff})
        print(f"    {n} -> {n4} executors: {rate_n} -> {rate_4n} docs/s, "
              f"efficiency {eff}")

    summary = {"sf_dir": SF_DIR, "amplify": AMPLIFY, "layout": args.layout,
               "job": "dedup+extract(density)",
               "cluster_model": f"local-cluster[N,{CORES_PER_EXECUTOR},3072] executor JVMs",
               "levels": {str(k): v for k, v in results.items()},
               "scaling_pairs": pairs}
    out_path = os.path.join(REPO, "bench", "scaling_results.json")
    with open(out_path, "w") as f:
        json.dump(summary, f, indent=2)
    print("wrote", out_path)


if __name__ == "__main__":
    main()
