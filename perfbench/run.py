#!/usr/bin/env python3
"""Extraction benchmark: three seeded workloads on a local[N] session.

    python3 perfbench/run.py --workload crawl_agg --seed 1 --seconds 20 --trace 0

Run from the repository root.  Each run generates its inputs from
``--seed``, starts a session, runs the job cold once and one more untimed
job, then repeats the job for ``--seconds`` and checks every output text
against a reference.  ``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer ones (see perfbench/README.md).  The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; the line before it
carries the details: input properties, host context, every sample.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs as gen  # noqa: E402
from perfbench import spark_env, trace  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    WORKLOADS, output_digests, reference, run_once, sums_match, text_mismatches,
)

MIN_REPS = 3       # timed repetitions, at least
TRACE_REPS = 2     # repetitions of each ladder rung and of the traced job

_pc = time.perf_counter


class Run:
    """One benchmark run: its work directory, session, inputs and samples."""

    def __init__(self, args):
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.cores = spark_env.cores()
        self.work = os.path.join(ROOT, ".perfbench_work",
                                 f"{args.workload}-{args.seed}-{os.getpid()}")
        self.input_path = os.path.join(self.work, "input")
        self.spark = None
        self.inputs = None
        self.out_dirs: list = []
        self.digests: list | None = None
        self.detail: dict = {"workload": args.workload, "seed": args.seed,
                             "cores": self.cores, "trace": args.trace}

    # -- set-up ----------------------------------------------------------

    def generate(self) -> float:
        """Generate and write the inputs; returns the seconds it took."""
        t0 = _pc()
        self.inputs = gen.generate(self.args.workload, self.args.seed,
                                   self.args.scale)
        gen.write_parquet(self.inputs, self.input_path, spark_env.tasks(self.cores))
        self.detail["generate_s"] = _pc() - t0
        return self.detail["generate_s"]

    def start(self, *, ui: bool) -> float:
        t0 = _pc()
        self.spark = spark_env.build_session(self.work, self.cores, ui=ui)
        return _pc() - t0

    def fresh_out_dir(self) -> str:
        """A new output directory per repetition: ExtractionJob's resume
        anti-join would skip every bucket committed in an earlier one."""
        path = os.path.join(self.work, "out", f"rep-{len(self.out_dirs)}")
        if self.out_dirs:
            shutil.rmtree(self.out_dirs[-1], ignore_errors=True)
        self.out_dirs.append(path)
        return path

    def once(self) -> dict | None:
        try:
            return run_once(self.spark, self.workload, self.input_path,
                            self.fresh_out_dir())
        except Exception:  # a failed job counts all its docs as failed
            traceback.print_exc()
            return None

    def timed(self, seconds: float, min_reps: int = MIN_REPS):
        """Repeat the job for ``seconds``, and at least ``min_reps`` times.
        Returns per-repetition (times, results, steal shares)."""
        times, results, steals = [], [], []
        start = _pc()
        while len(times) < min_reps or _pc() - start < seconds:
            steal0, t0 = spark_env.cpu_steal_s(), _pc()
            results.append(self.once())
            times.append(_pc() - t0)
            steals.append((spark_env.cpu_steal_s() - steal0)
                          / (times[-1] * os.cpu_count()))
        return times, results, steals

    def settle(self) -> list:
        """One more untimed job right after the cold one, while the JVM is
        still compiling: the text check's extraction for the aggregate
        workloads, another repetition for crawl_job.  Returns the job
        results it adds."""
        if self.workload.sink == "agg":
            self.digests = self.output_digests()
            return []
        return [self.once()]

    # -- checks ----------------------------------------------------------

    def output_digests(self) -> list:
        return output_digests(self.spark, self.workload, self.input_path,
                              self.out_dirs[-1])

    def check(self, ref, results) -> dict:
        """Failed docs over all repetitions, every repetition's sums, and
        the text of the settle extraction (aggregate workloads) or of the
        last repetition's output directory (crawl_job)."""
        docs = ref.sums["docs"]
        failed = sum(docs - min(docs, r["docs"]) if r else docs for r in results)
        got = self.digests if self.digests is not None else self.output_digests()
        mismatched = text_mismatches(ref, got)
        sums_ok = all(r is not None and sums_match(ref, r) for r in results)
        return {
            "attempted": docs * len(results),
            "failed": failed,
            "text_mismatch_ratio": mismatched / docs,
            "failed_doc_ratio": failed / (docs * len(results)),
            "sums_ok": sums_ok,
            "correct": mismatched == 0 and failed == 0 and sums_ok,
        }

    def close(self) -> None:
        if self.spark is not None:
            spark_env.stop_session(self.spark)
            self.spark = None
        shutil.rmtree(self.work, ignore_errors=True)
        with contextlib.suppress(OSError):  # only when no other run uses it
            os.rmdir(os.path.dirname(self.work))


def _docs_per_s(times, results) -> list:
    return [(r["docs"] if r else 0) / t for t, r in zip(times, results)]


def end_to_end(run: Run) -> tuple[dict, dict]:
    args = run.args
    session_s = run.start(ui=False)
    gen_s = run.generate()
    t0 = _pc()
    warm = run.once()
    warm_s = _pc() - t0
    settled = run.settle()
    times, results, steals = run.timed(args.seconds)
    rss = spark_env.worker_rss_peak_mb()
    ref = reference(run.inputs, run.cores)
    chk = run.check(ref, [warm, *settled, *results])
    rates = _docs_per_s(times, results)
    run.detail.update(session_s=session_s, warmup_s=warm_s, rep_s=times,
                      rep_docs_per_s=rates, rep_steal_share=steals, **chk)
    if run.workload.sink == "write":
        run.detail["output_dirs"] = run.out_dirs
    metrics = {
        "docs_per_s": (statistics.median(rates), "docs/s"),
        "setup_s": (session_s + gen_s + warm_s, "s"),
        "text_match_ratio": (1.0 - chk["text_mismatch_ratio"], "ratio"),
        "ok_doc_ratio": (1.0 - chk["failed_doc_ratio"], "ratio"),
        "worker_rss_peak_mb": (rss, "MB"),
    }
    return metrics, chk


def per_layer(run: Run) -> tuple[dict, dict]:
    """Untraced job repetitions (UI off), then a fresh context with the UI
    on: warm-up, the ladder, the traced job, and the in-process phases."""
    args, wl, n = run.args, run.workload, run.cores
    run.start(ui=False)
    run.generate()
    warm = run.once()
    settled = run.settle()
    untraced, untraced_results, _ = run.timed(args.seconds / 4,
                                              min_reps=TRACE_REPS)
    spark_env.stop_session(run.spark, shutdown_jvm=False)
    run.start(ui=True)
    trace.warm_workers(run.spark, spark_env.tasks(n))
    results = [warm, *settled, *untraced_results]

    lad = trace.ladder(run.spark, wl, run.input_path, run.work, TRACE_REPS)
    run.spark.sparkContext.setJobGroup("job", "perfbench job")
    job_times, jobs = [], []
    for _ in range(TRACE_REPS):
        if wl.sink == "write":
            job = trace.traced_job(run.spark, run.input_path, run.fresh_out_dir(),
                                   wl.dedup)
            jobs.append(job)
            job_times.append(job["total_s"])
            results.append(job["result"])
        else:
            t0 = _pc()
            results.append(run.once())
            job_times.append(_pc() - t0)
    inproc = trace.in_process(run.inputs, args.seed, args.seconds / 2)
    ref = reference(run.inputs, n)
    chk = run.check(ref, results)

    med = statistics.median
    rung = lad["rung_s"]
    docs, rows = ref.sums["docs"], run.inputs.n_rows
    job_s = med(job_times)
    dedup_s = rung["dedup"] - rung["scan"]
    boundary_s = rung["boundary"] - (rung["dedup"] if wl.dedup else rung["scan"])
    lineage_s = med(j["lineage_s"] for j in (jobs or [lad["whatif_job"]]))
    sink_s = rung["write"] + lineage_s if wl.sink == "write" else rung["agg"]
    python_wall_s = inproc["kernel.python_1t_s"] / n
    explained = (rung["scan"] + (dedup_s if wl.dedup else 0.0) + boundary_s
                 + python_wall_s + sink_s)
    out_files = _parquet_files(os.path.join(
        run.out_dirs[-1] if wl.sink == "write" else os.path.join(run.work, "whatif"),
        "extracted"))
    pm = lad["python_metrics"]
    tasks = lad["kernel_task_s"]
    m = {
        "io_tables.scan_s": (rung["scan"], "s"),
        "pipeline.dedup_s": (dedup_s, "s"),
        "pipeline.dedup_shuffle_mb": (lad["dedup_shuffle_bytes"] / 1e6, "MB"),
        "pipeline.dedup_keep_ratio": (docs / rows, "ratio"),
        "pipeline.boundary_s": (boundary_s, "s"),
        "kernel.bytes_to_python_mb": (pm["data sent to Python workers"] / 1e6, "MB"),
        "kernel.bytes_from_python_mb":
            (pm["data returned from Python workers"] / 1e6, "MB"),
        "kernel.python_boot_s": (pm["time to start Python workers"], "s"),
        "kernel.python_init_s": (pm["time to initialize Python workers"], "s"),
        "kernel.spark_s": (rung["kernel"] - rung["boundary"], "s"),
        "kernel.python_total_s": (pm["time to run Python workers"], "s"),
        "kernel.docs_per_s_1t": (inproc["kernel.docs_per_s_1t"], "docs/s"),
        "kernel.decode_s": (inproc["kernel.decode_s"], "s"),
        "kernel.retry_s": (inproc["kernel.retry_s"], "s"),
        "kernel.retry_ratio": (inproc["kernel.retry_ratio"], "ratio"),
        "kernel.assemble_s": (inproc["kernel.assemble_s"], "s"),
        "kernel.parallel_eff":
            ((docs / job_s) / (n * inproc["kernel.docs_per_s_1t"]), "ratio"),
        "kernel.task_s_max_over_median": (max(tasks) / med(tasks), "ratio"),
        "parser.parse_s": (inproc["parser.parse_s"], "s"),
        "parser.parse_mb_per_s": (inproc["parser.parse_mb_per_s"], "MB/s"),
        "parser.parse_ms_p50": (inproc["parser.parse_ms_p50"], "ms"),
        "parser.parse_ms_p99": (inproc["parser.parse_ms_p99"], "ms"),
        "parser.parse_ms_max": (inproc["parser.parse_ms_max"], "ms"),
        "parser.errors_per_doc": (inproc["parser.errors_per_doc"], "count"),
        "parser.implicit_closes_per_doc":
            (inproc["parser.implicit_closes_per_doc"], "count"),
        "parser.unclosed_per_doc": (inproc["parser.unclosed_per_doc"], "count"),
        "dom.nodes_per_doc": (inproc["dom.nodes_per_doc"], "count"),
        "extract.extract_s": (inproc["extract.extract_s"], "s"),
        "extract.kept_block_ratio": (inproc["extract.kept_block_ratio"], "ratio"),
        "pipeline.agg_s": (rung["agg"], "s"),
        "pipeline.write_s": (rung["write"], "s"),
        "pipeline.lineage_s": (lineage_s, "s"),
        "pipeline.output_mb": (sum(os.path.getsize(f) for f in out_files) / 1e6, "MB"),
        "pipeline.output_files": (len(out_files), "count"),
        "trace.job_s": (job_s, "s"),
        "trace.overhead_ratio": (job_s / med(untraced), "ratio"),
        "trace.unexplained_s": (job_s - explained, "s"),
    }
    run.detail.update(
        untraced_job_s=untraced, traced_job_s=job_times, ladder_s=lad["rung_samples_s"],
        python_wall_s=python_wall_s, explained_s=explained,
        in_process_sample_docs=inproc["sample_docs"], **chk)
    return m, chk


def _parquet_files(path: str) -> list:
    return [os.path.join(d, f) for d, _, files in os.walk(path)
            for f in files if f.endswith(".parquet")]


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (tests use a tiny one)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    spark_env.adopt_orphans()
    run = Run(args)
    try:
        run.detail["host_before"] = spark_env.run_context()
        metrics, chk = (per_layer if args.trace else end_to_end)(run)
        run.detail["input"] = gen.properties(run.inputs)
        run.detail["host_after"] = spark_env.run_context()
    finally:
        try:
            run.close()
        finally:
            spark_env.reap_descendants()
    print(json.dumps(run.detail))
    print(json.dumps({
        "correct": chk["correct"],
        "attempted": chk["attempted"],
        "failed": chk["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
