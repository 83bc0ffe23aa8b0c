"""The three workloads' Spark jobs, their reference results and the checks.

* ``crawl_agg``: ``dedup_latest_crawl`` -> ``extract_df(.., "density")`` ->
  the 4-column aggregate of ``bench.py``.
* ``crawl_job``: ``ExtractionJob.run`` into a fresh output directory.
* ``tag_soup``: ``extract_df`` -> the aggregate, no dedup.

The reference for ``crawl_*`` is the generator's expected text per url; for
``tag_soup`` it is in-process ``kernel.process_document`` on the same bytes,
run in a small forked process pool outside the timed region.
"""

from __future__ import annotations

import hashlib
import multiprocessing
import os
from dataclasses import dataclass

from pyspark.sql import functions as F

from fortissimo_spark.pipeline import ExtractionJob, dedup_latest_crawl, extract_df

SUM_KEYS = ("docs", "tokens", "bytes")


@dataclass(frozen=True)
class Workload:
    name: str
    dedup: bool
    sink: str  # "agg": aggregate collect; "write": ExtractionJob.run


WORKLOADS = {
    "crawl_agg": Workload("crawl_agg", dedup=True, sink="agg"),
    "crawl_job": Workload("crawl_job", dedup=True, sink="write"),
    "tag_soup": Workload("tag_soup", dedup=False, sink="agg"),
}


def pages_for_kernel(spark, path: str, dedup: bool):
    pages = spark.read.parquet(path)
    return dedup_latest_crawl(pages) if dedup else pages


def aggregate(extracted) -> dict:
    """The bench.py aggregate over extract_df output."""
    row = extracted.agg(F.count("*").alias("docs"),
                        F.sum("token_count").alias("tokens"),
                        F.sum("html_bytes").alias("bytes"),
                        F.sum("errors").alias("errors")).collect()[0]
    return {k: int(row[k] or 0) for k in ("docs", "tokens", "bytes", "errors")}


def run_agg(spark, path: str, dedup: bool) -> dict:
    return aggregate(extract_df(pages_for_kernel(spark, path, dedup), "density"))


def run_job(spark, path: str, out_dir: str, dedup: bool) -> dict:
    stats = ExtractionJob(spark, out_dir, dedup=dedup).run(spark.read.parquet(path))
    return {"docs": int(stats["rows"]), "tokens": int(stats["tokens"] or 0),
            "bytes": int(stats["bytes"] or 0), "errors": int(stats["errors"] or 0)}


def run_once(spark, workload: Workload, path: str, out_dir: str) -> dict:
    """One repetition of the workload's job; ``out_dir`` must be fresh."""
    if workload.sink == "write":
        return run_job(spark, path, out_dir, workload.dedup)
    return run_agg(spark, path, workload.dedup)


def _digest(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


@dataclass
class Reference:
    digests: dict  # url -> sha256 of the expected text
    sums: dict     # docs / tokens / bytes over the kept pages


def _process_chunk(raws: list) -> list:
    from fortissimo_spark.kernel import process_document

    out = []
    for raw in raws:
        d = process_document(raw, "density")
        out.append((_digest(d["text"]), d["token_count"], d["html_bytes"]))
    return out


def reference(inputs, n_procs: int) -> Reference:
    winners = inputs.winners()
    if inputs.expected is not None:
        texts = inputs.expected
        return Reference(
            {u: _digest(t) for u, t in texts.items()},
            {"docs": len(texts),
             "tokens": sum(len(t.split()) for t in texts.values()),
             "bytes": sum(len(h) for h in winners.values())})
    urls = list(winners)
    n_chunks = 4 * n_procs
    chunks = [[winners[u] for u in urls[i::n_chunks]] for i in range(n_chunks)]
    # fork, not spawn: a spawn pool starts multiprocessing's resource
    # tracker, a process that outlives this one by a moment
    pool = multiprocessing.get_context("fork").Pool(n_procs)
    try:
        parts = pool.map(_process_chunk, chunks)
    finally:
        pool.terminate()
        pool.join()
    digests, tokens, nbytes = {}, 0, 0
    for i, part in enumerate(parts):
        for url, (digest, tok, nb) in zip(urls[i::n_chunks], part):
            digests[url] = digest
            tokens += tok
            nbytes += nb
    return Reference(digests, {"docs": len(urls), "tokens": tokens,
                               "bytes": nbytes})


def output_digests(spark, workload: Workload, path: str, out_dir: str) -> list:
    """(url, sha256(text)) rows of what the workload's job produced."""
    if workload.sink == "write":
        out = spark.read.parquet(os.path.join(out_dir, "extracted"))
    else:
        out = extract_df(pages_for_kernel(spark, path, workload.dedup), "density")
    return [(r["url"], r["h"])
            for r in out.select("url", F.sha2("text", 256).alias("h")).collect()]


def text_mismatches(ref: Reference, rows: list) -> int:
    """Urls whose text differs from the reference, is missing, extra or
    repeated."""
    got = dict(rows)
    bad = sum(1 for u, d in ref.digests.items() if got.get(u) != d)
    return bad + sum(1 for u in got if u not in ref.digests) + len(rows) - len(got)


def sums_match(ref: Reference, result: dict) -> bool:
    return all(result[k] == ref.sums[k] for k in SUM_KEYS)
