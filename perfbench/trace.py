"""The traced run: per-layer times from outside the program.

Spark side, a noop-sink ladder over the workload's own input::

    scan -> +dedup -> +passthrough mapInPandas -> +extract_df

Each rung is timed by wall clock; a layer's time is the difference between
its rung and the one below.  The sinks are timed on their own, over
``extract_df`` output written once to parquet beforehand: the aggregate, and
the partitioned write ``ExtractionJob.run`` makes (``write_pages_table``).
The Spark UI's REST API (on in this run only) adds MapInPandas SQL metrics,
dedup shuffle bytes and per-task durations.  ``ExtractionJob.run``'s lineage
and stats tail is its wall time after its ``DataFrameWriter.parquet`` call
for the text.

Python side, in-process timings of ``decode_page_bytes``,
``parse(positions=False)``, ``decode_parse``, ``extract`` and
``make_extract_kernel`` over a seeded sample of the workload's pages,
scaled to single-thread seconds for the whole workload.

A layer that is not on a workload's path (dedup on ``tag_soup``, the
aggregate on ``crawl_job``, the write on the other two) is still measured
on that workload's input, as a what-if, and left out of the reconciliation.
"""

from __future__ import annotations

import contextlib
import gc
import json
import os
import random
import re
import statistics
import time
import urllib.request

import pandas as pd

from fortissimo_spark.extract import extract
from fortissimo_spark.io_tables import write_pages_table
from fortissimo_spark.kernel import decode_page_bytes, decode_parse, make_extract_kernel
from fortissimo_spark.parser import parse
from fortissimo_spark.pipeline import dedup_latest_crawl, extract_df

from .workloads import aggregate, pages_for_kernel, run_job

KERNEL_INPUT = ("url", "warc_ts", "html", "lang")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _import_kernel(batches):
    import fortissimo_spark.kernel  # noqa: F401

    yield from batches


def warm_workers(spark, n_tasks: int) -> None:
    """Start every Python worker of a fresh context and import the kernel."""
    _noop(spark.range(0, n_tasks, 1, n_tasks).mapInPandas(_import_kernel, "id long"))


def _passthrough(batches):
    """The Arrow boundary with no kernel: page rows in, payload-free rows out."""
    for pdf in batches:
        yield pdf[["url", "warc_ts", "lang"]]


@contextlib.contextmanager
def timed_parquet_writes():
    """Record (path, seconds) of every DataFrameWriter.parquet call."""
    from pyspark.sql.readwriter import DataFrameWriter

    original = DataFrameWriter.parquet
    calls: list = []

    def parquet(self, path, *args, **kwargs):
        t0 = time.perf_counter()
        try:
            return original(self, path, *args, **kwargs)
        finally:
            calls.append((path, time.perf_counter() - t0))

    DataFrameWriter.parquet = parquet
    try:
        yield calls
    finally:
        DataFrameWriter.parquet = original


def traced_job(spark, path: str, out_dir: str, dedup: bool) -> dict:
    """``ExtractionJob.run`` with the time of its lineage (+ stats) tail: all
    but its text write call, which also runs everything upstream."""
    t0 = time.perf_counter()
    with timed_parquet_writes() as calls:
        result = run_job(spark, path, out_dir, dedup)
    total = time.perf_counter() - t0
    text_path = os.path.join(out_dir, "extracted")
    write = sum(s for p, s in calls if p == text_path)
    return {"result": result, "total_s": total, "lineage_s": total - write}


# --- Spark UI REST ----------------------------------------------------------

_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
          "TiB": 1024.0 ** 4}
_METRIC = re.compile(r"(?:^|\n)\s*([\d.,]+)\s*(ms|min|s|m|h|B|KiB|MiB|GiB|TiB)?"
                     r"(?=\s|\(|$)")


def metric_value(text: str) -> float:
    """The total of a formatted SQL metric ('13.3 s', '20.7 MiB', '13,224',
    or 'total (min, med, max ...)\\n1.2 s (...)'), in seconds or bytes."""
    m = _METRIC.search(text)
    if m is None:
        raise ValueError(f"unparsed SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SparkRest:
    """Read-only client of this application's status REST API."""

    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def execution(self, description: str, timeout: float = 30.0) -> dict:
        """The completed SQL execution with this description, with its jobs'
        completed stages under ``stages``."""
        deadline = time.monotonic() + timeout
        while True:
            execs = self.get("/sql?details=true&planDescription=false"
                             "&offset=0&length=100000")
            done = [e for e in execs if e.get("description") == description
                    and e.get("status") == "COMPLETED"]
            if done:
                ex = done[-1]
                stages = []
                for job_id in ex.get("successJobIds", []):
                    for sid in self.get(f"/jobs/{job_id}")["stageIds"]:
                        stages += [s for s in self.get(f"/stages/{sid}")
                                   if s["status"] == "COMPLETE"]
                ex["stages"] = stages
                return ex
            if time.monotonic() > deadline:
                raise TimeoutError(f"no completed execution {description!r}")
            time.sleep(0.2)

    def task_durations_s(self, stage: dict) -> list:
        tasks = self.get(f"/stages/{stage['stageId']}/{stage['attemptId']}"
                         f"/taskList?offset=0&length=100000")
        return [t["duration"] / 1e3 for t in tasks if "duration" in t]


def _node_metrics(execution: dict, node_name: str) -> dict:
    for node in execution["nodes"]:
        if node["nodeName"] == node_name:
            return {m["name"]: metric_value(m["value"]) for m in node["metrics"]}
    raise KeyError(f"no {node_name} node in execution {execution.get('id')}")


# --- the ladder -------------------------------------------------------------

def ladder(spark, workload, path: str, out_root: str, reps: int) -> dict:
    """Time every rung and sink ``reps`` times; returns per-rung wall times
    plus the REST-derived Spark metrics."""
    sc = spark.sparkContext
    rest = SparkRest(sc)
    dedup = workload.dedup

    def read():
        return spark.read.parquet(path).select(*KERNEL_INPUT)

    def kernel_input():
        return pages_for_kernel(spark, path, dedup).select(*KERNEL_INPUT)

    def extracted():
        return extract_df(pages_for_kernel(spark, path, dedup), "density")

    materialized = os.path.join(out_root, "materialized")
    sc.setJobGroup("materialize", "perfbench materialize")
    extracted().write.mode("overwrite").parquet(materialized)
    # ExtractionJob.run's commit mode for its text write
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    def sink_write(rep):
        write_pages_table(spark.read.parquet(materialized),
                          os.path.join(out_root, "sink", f"rep-{rep}"))

    rungs = {  # each rung adds one layer to the one before it
        "scan": lambda rep: _noop(read()),
        "dedup": lambda rep: _noop(dedup_latest_crawl(read())),
        "boundary": lambda rep: _noop(kernel_input().mapInPandas(
            _passthrough, "url string, warc_ts timestamp, lang string")),
        "kernel": lambda rep: _noop(extracted()),
        # the sinks, each over the materialized extract_df output
        "agg": lambda rep: aggregate(spark.read.parquet(materialized)),
        "write": sink_write,
    }
    times: dict = {name: [] for name in rungs}
    execs: dict = {name: [] for name in rungs}
    for rep in range(reps):
        for name, fn in rungs.items():
            desc = f"perfbench {name} {rep}"
            sc.setJobGroup(name, desc)
            t0 = time.perf_counter()
            fn(rep)
            times[name].append(time.perf_counter() - t0)
            execs[name].append(desc)
    whatif_job = None
    if workload.sink == "agg":  # the job's lineage tail as a what-if, once
        sc.setJobGroup("job", "perfbench what-if job")
        whatif_job = traced_job(spark, path, os.path.join(out_root, "whatif"),
                                dedup)
    sc.setJobGroup("perfbench", "perfbench")

    python = [_node_metrics(rest.execution(d), "MapInPandas")
              for d in execs["kernel"]]
    kernel_ex = rest.execution(execs["kernel"][-1])
    kernel_stage = max(kernel_ex["stages"], key=lambda s: s["executorRunTime"])
    durations = sorted(rest.task_durations_s(kernel_stage))
    shuffle = [sum(s["shuffleWriteBytes"] for s in rest.execution(d)["stages"])
               for d in execs["dedup"]]
    med = statistics.median
    return {
        "rung_s": {k: med(v) for k, v in times.items()},
        "rung_samples_s": times,
        "whatif_job": whatif_job,
        "python_metrics": {k: med(p[k] for p in python) for k in python[0]},
        "kernel_task_s": durations,
        "dedup_shuffle_bytes": med(shuffle),
    }


# --- in-process phases ------------------------------------------------------

def in_process(inputs, seed: int, budget_s: float, chunk: int = 64) -> dict:
    """Per-doc phase timings over a seeded sample of the kept pages.

    The sample is taken ``chunk`` pages at a time: first the per-doc calls
    with a timer around each, then one ``make_extract_kernel`` pass over the
    same pages as one batch, so host noise hits both sides of the
    ``assemble_s`` difference alike.  Chunks run until ``budget_s`` is spent
    (at least one).  The harness's own objects are frozen out of the garbage
    collector first, so its heap does not add pauses to the timed calls."""
    gc.collect()
    gc.freeze()
    try:
        return _in_process(inputs, seed, budget_s, chunk)
    finally:
        gc.unfreeze()


def _in_process(inputs, seed: int, budget_s: float, chunk: int) -> dict:
    kept = inputs.kept_rows()
    sample = [tuple(inputs.rows[k][i] for k in KERNEL_INPUT) for i in kept]
    random.Random(f"sample:{seed}").shuffle(sample)

    pc = time.perf_counter
    kernel = make_extract_kernel("density")
    decode = parse_t = retry = ext_t = dp_sum = kernel_s = 0.0
    parse_ms: list = []
    n = n_bytes = errors = implicit = unclosed = nodes = blocks = kept_blocks = 0
    retried = 0
    deadline = pc() + budget_s
    while n < len(sample) and (n == 0 or pc() < deadline):
        rows = sample[n:n + chunk]
        for row in rows:
            raw = row[2]
            t0 = pc()
            text, _, _ = decode_page_bytes(raw)
            t1 = pc()
            parse(text, positions=False)
            t2 = pc()
            result, _, _, was_retried = decode_parse(raw)
            t3 = pc()
            ext = extract(result.dom, "density")
            t4 = pc()
            decode += t1 - t0
            parse_t += t2 - t1
            parse_ms.append((t2 - t1) * 1e3)
            if was_retried:  # the re-decode and second parse beyond the first
                retried += 1
                retry += (t3 - t2) - (t2 - t0)
            dp_sum += t3 - t2
            ext_t += t4 - t3
            n_bytes += len(raw)
            errors += result.errors
            implicit += result.implicitly_closed_tags
            unclosed += result.unclosed_tags
            nodes += ext.node_count
            kept_blocks += ext.kept_blocks
            blocks += ext.total_blocks
        frame = pd.DataFrame(rows, columns=list(KERNEL_INPUT))
        t0 = pc()
        for _ in kernel(iter([frame])):
            pass
        kernel_s += pc() - t0
        n += len(rows)

    scale = len(sample) / n
    parse_ms.sort()
    return {
        "sample_docs": n,
        "kernel.decode_s": decode * scale,
        "parser.parse_s": parse_t * scale,
        "kernel.retry_s": retry * scale,
        "extract.extract_s": ext_t * scale,
        "kernel.assemble_s": (kernel_s - dp_sum - ext_t) * scale,
        "kernel.python_1t_s": kernel_s * scale,
        "kernel.docs_per_s_1t": n / kernel_s,
        "kernel.retry_ratio": retried / n,
        "parser.parse_mb_per_s": n_bytes / parse_t / 1e6,
        "parser.parse_ms_p50": statistics.median(parse_ms),
        "parser.parse_ms_p99": parse_ms[min(n - 1, int(n * 0.99))],
        "parser.parse_ms_max": parse_ms[-1],
        "parser.errors_per_doc": errors / n,
        "parser.implicit_closes_per_doc": implicit / n,
        "parser.unclosed_per_doc": unclosed / n,
        "dom.nodes_per_doc": nodes / n,
        "extract.kept_block_ratio": kept_blocks / blocks if blocks else 0.0,
    }
