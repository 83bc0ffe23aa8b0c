"""Structured Streaming ingest for continuous crawls.

The extraction kernel is stateless per document, so streaming is the same
``mapInPandas`` plan under ``readStream``: micro-batches of pages flow
through decode→parse→extract and land in the partitioned output via
``foreachBatch`` (which reuses the batch writer, keeping one code path).

Late data / duplicates: a watermark on ``warc_ts`` plus ``dropDuplicates``
on url bounds the dedup state; recrawls older than the watermark are
resolved at read time by the batch dedup window instead (latest crawl wins),
so the streaming path only needs at-most-once per url within the watermark
horizon.

This mirrors the reference's incremental ``parseAsync``/``request-data``
surface (html-parser.ts:276-304): micro-batches play the role of the
"request more data" callback, and job cancellation replaces ``stop()``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQueryListener

from .io_tables import with_layout_columns
from .pipeline import _lm_gate, extract_df
from .schema import PAGES_SCHEMA

__all__ = ["read_pages_stream", "streaming_extract", "start_streaming_job",
           "streaming_host_stats", "streaming_crawl_rates",
           "streaming_curate", "curation_metrics", "streaming_frontier",
           "streaming_index", "streaming_wet_sink", "DOCS_STREAM_SCHEMA"]


def read_pages_stream(spark: SparkSession, input_path: str,
                      max_files_per_trigger: int = 8) -> DataFrame:
    """File-source stream over a directory of pages parquet drops."""
    return _parquet_stream(spark, PAGES_SCHEMA, input_path,
                           max_files_per_trigger)


def _parquet_stream(spark: SparkSession, schema, input_path: str,
                    max_files_per_trigger: int) -> DataFrame:
    """File-source stream of ``schema`` rows over a directory of parquet
    drops: pages for :func:`read_pages_stream`, ``DOCS_STREAM_SCHEMA``
    documents for the curation and index jobs."""
    return (spark.readStream
            .schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_path))


def _start_batches(stream: DataFrame, write_batch, checkpoint_path: str,
                   trigger_seconds: int):
    """Start ``stream`` with ``write_batch`` run on every micro-batch;
    returns the StreamingQuery handle."""
    return (stream.writeStream
            .foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint_path)
            .trigger(processingTime=f"{trigger_seconds} seconds")
            .start())


def streaming_extract(pages_stream: DataFrame, *, strip: str = "density",
                      watermark: str = "1 hour") -> DataFrame:
    """Watermarked, url-deduped streaming extraction.

    ``dropDuplicatesWithinWatermark`` (not plain ``dropDuplicates``): with
    the plain operator, a watermark only evicts dedup state when the
    event-time column is PART of the key subset — keyed on ``url`` alone
    the state would hold every url ever seen, which at 10^12 documents is
    an unbounded-state OOM. The WithinWatermark variant evicts each url's
    entry once the watermark passes its event time, so state is bounded by
    the crawl rate × watermark horizon regardless of corpus size."""
    deduped = (pages_stream
               .withWatermark("warc_ts", watermark)
               .dropDuplicatesWithinWatermark(["url"]))
    return extract_df(deduped, strip)


def streaming_crawl_rates(pages_stream: DataFrame, *, window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Event-time tumbling-window crawl rates per host with a late-data
    watermark: rows older than ``watermark`` behind the max observed
    ``warc_ts`` are dropped (bounded state); windows finalize once the
    watermark passes them."""
    return (pages_stream
            .withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window).alias("w"),
                     F.parse_url(F.col("url"), F.lit("HOST")).alias("host"))
            .agg(F.count("*").alias("n_pages"))
            .select(F.col("w.start").alias("window_start"), "host", "n_pages"))


def streaming_host_stats(extracted_stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    running per-host page/token/error counters across micro-batches — the
    kind of arbitrary keyed state Spark's built-in windowed aggregations
    can't express when the update logic grows beyond sums."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        pages = tokens = errors = 0
        if state.exists:
            pages, tokens, errors = state.get
        for pdf in pdfs:
            pages += len(pdf)
            tokens += int(pdf["token_count"].sum())
            errors += int(pdf["errors"].sum())
        state.update((pages, tokens, errors))
        yield pd.DataFrame({"host": [key[0]], "pages": [pages],
                            "tokens": [tokens], "errors": [errors]})

    keyed = extracted_stream.withColumn(
        "host", F.parse_url(F.col("url"), F.lit("HOST")))
    return keyed.groupBy("host").applyInPandasWithState(
        update,
        outputStructType="host string, pages bigint, tokens bigint, errors bigint",
        stateStructType="pages bigint, tokens bigint, errors bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout)


def start_streaming_job(spark: SparkSession, input_path: str, output_path: str,
                        checkpoint_path: str, *, strip: str = "density",
                        trigger_seconds: int = 10):
    """End-to-end streaming job; returns the StreamingQuery handle.

    Idempotency: ``foreachBatch`` is at-least-once — a batch retried after a
    failure runs again with the SAME batch_id. Each batch therefore writes to
    its own ``batch_id=N`` subdirectory with ``overwrite`` mode, so a retry
    replaces its own previous (possibly partial) output instead of appending
    duplicates. Readers of ``output_path`` see ``batch_id`` as a discovered
    partition column.
    """
    stream = read_pages_stream(spark, input_path)
    extracted = streaming_extract(stream, strip=strip)
    # same layout helper as the batch job: bucket count can't drift
    extracted = with_layout_columns(extracted)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (batch_df.write.mode("overwrite")
         .partitionBy("crawl_date", "host_bucket")
         .parquet(os.path.join(output_path, f"batch_id={batch_id}")))

    return _start_batches(extracted, write_batch, checkpoint_path,
                          trigger_seconds)


DOCS_STREAM_SCHEMA = ("doc_id long, lang string, text string, "
                      "crawl_ts timestamp")


class _SourceCountListener(StreamingQueryListener):
    """Driver-side progress listener that appends one JSON line
    ``{"batch_id": N, "docs_in": rows}`` per completed micro-batch of ONE
    query — the pre-dedup input count, which ``foreachBatch`` can never
    see (the stateful dedup drops rows upstream of it). Plain file
    appends only (no session use: listener callbacks run on an event
    thread); ``curation_metrics`` reads the lines back with
    ``spark.read.json``."""

    def __init__(self, path: str):
        self.path = path
        # None is a DROP-ALL sentinel, not a wildcard: between
        # addListener and .start() returning, progress events from any
        # OTHER concurrently-running query in the session would
        # otherwise be misattributed to this job's file. Events are
        # recorded only once the owning query's id is assigned.
        self.query_id = None  # set right after query start

    def onQueryStarted(self, event):  # noqa: N802 (Spark listener ABC)
        pass

    def onQueryProgress(self, event):  # noqa: N802
        import json as _json
        p = event.progress
        if self.query_id is None or str(p.id) != self.query_id:
            return
        with open(self.path, "a") as f:
            f.write(_json.dumps({"batch_id": p.batchId,
                                 "docs_in": p.numInputRows}) + "\n")

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


def curation_metrics(spark: SparkSession, metrics_path: str) -> DataFrame:
    """Join the two metrics legs :func:`streaming_curate` writes into the
    per-batch lineage shape: ``(batch_id, docs_in, dedup_dropped,
    gate_dropped, docs_out, committed_at)`` — the streaming mirror of
    ``pipeline.ExtractionJob``'s batch lineage table.
    ``dedup_dropped = docs_in - dedup survivors`` (rows the watermark
    dedup state swallowed before ``foreachBatch`` saw the batch).
    Retried/restarted batches append duplicate batch_id lines to the
    source-count log (at-least-once); the LAST line per batch_id wins,
    mirroring the batch dirs' overwrite semantics."""
    batches = spark.read.parquet(os.path.join(metrics_path, "batches"))
    src = (spark.read.json(os.path.join(metrics_path,
                                        "source_counts.jsonl"))
           .withColumn("_seq", F.monotonically_increasing_id())
           .groupBy("batch_id")
           .agg(F.max_by("docs_in", "_seq").alias("docs_in")))
    return (batches.join(src, "batch_id", "left")
            .withColumn("dedup_dropped",
                        F.col("docs_in") - F.col("dedup_survivors"))
            .select("batch_id", "docs_in", "dedup_dropped", "gate_dropped",
                    "docs_out", "committed_at")
            .orderBy("batch_id"))


def streaming_curate(spark: SparkSession, input_path: str, output_path: str,
                     checkpoint_path: str, *, lm=None,
                     ppl_cutoff: float = 100.0, watermark: str = "1 hour",
                     max_files_per_trigger: int = 1,
                     trigger_seconds: int = 10,
                     metrics_path: str | None = None):
    """``pipeline.curate_corpus``'s dedup + LM-gate stages as an
    INCREMENTAL job — the continuous-crawl shape of the composed recipe.

    * **exact dedup** streams as ``dropDuplicatesWithinWatermark`` on
      ``sha256(text)``: the first-seen copy of each byte-identical text
      wins (equal to the batch recipe's min-id winner whenever ids
      arrive in crawl order), and content-hash state is EVICTED once the
      watermark passes its event time — bounded by crawl rate x horizon,
      never by corpus size (the same argument as
      :func:`streaming_extract`; recrawls older than the horizon are the
      batch dedup window's job at read time).
    * **LM quality gate** runs inside ``foreachBatch``: the bounded
      count tables broadcast into each micro-batch exactly as in the
      batch plan — the gate is stateless, so batch and stream scores are
      identical by construction.
    * **mixture quotas stay batch-side**: a quota is a corpus-level
      publication decision (which K of ALL candidates), not a per-row
      predicate — applying it per micro-batch would admit the first K
      of each batch instead. Run ``corpus.stratified_sample`` over the
      accumulated output at publication time.

    Each batch writes ``batch_id=N`` with overwrite (the
    :func:`start_streaming_job` at-least-once idempotency contract).

    With ``metrics_path`` set, every batch also lands a lineage/metrics
    row — the streaming mirror of ``ExtractionJob``'s batch lineage
    table: ``foreachBatch`` counts dedup survivors and gate drops via
    ``Observation`` (piggybacking on the output write — no extra jobs),
    and a query-scoped progress listener records the PRE-dedup input
    count per batch (invisible to ``foreachBatch``: the stateful dedup
    drops rows upstream of it). Read the joined
    ``(batch_id, docs_in, dedup_dropped, gate_dropped, docs_out)`` view
    with :func:`curation_metrics`.

    Returns the StreamingQuery handle."""
    stream = _parquet_stream(spark, DOCS_STREAM_SCHEMA, input_path,
                             max_files_per_trigger)
    deduped = (stream
               .withColumn("_th", F.sha2(F.col("text"), 256))
               .withWatermark("crawl_ts", watermark)
               .dropDuplicatesWithinWatermark(["_th"])
               .drop("_th"))

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Observation
        obs_in, obs_out = Observation(), Observation()
        out = batch_df.observe(obs_in, F.count(F.lit(1)).alias("n"))
        if lm is not None:
            out = _lm_gate(out, lm, ppl_cutoff, "doc_id", "text")
        cols = ["doc_id", "lang"] + (["ppl"] if lm is not None else [])
        out = out.select(*cols).observe(obs_out,
                                        F.count(F.lit(1)).alias("n"))
        (out.write.mode("overwrite")
         .parquet(os.path.join(output_path, f"batch_id={batch_id}")))
        if metrics_path is not None:
            # Observation counts piggyback on the write action above —
            # the metrics leg adds ZERO extra jobs over the batch data.
            n_in = obs_in.get["n"]
            n_out = obs_out.get["n"]
            # batch_id comes from the partition directory on read-back
            (spark.createDataFrame(
                [(n_in, n_in - n_out, n_out)],
                "dedup_survivors long, gate_dropped long, docs_out long")
             .withColumn("committed_at", F.current_timestamp())
             .write.mode("overwrite")
             .parquet(os.path.join(metrics_path, "batches",
                                   f"batch_id={batch_id}")))

    listener = None
    if metrics_path is not None:
        os.makedirs(metrics_path, exist_ok=True)
        listener = _SourceCountListener(
            os.path.join(metrics_path, "source_counts.jsonl"))
        spark.streams.addListener(listener)

    q = _start_batches(deduped, write_batch, checkpoint_path,
                       trigger_seconds)
    if listener is not None:
        # scope the listener to this query (progress events carry the
        # query id; the listener DROPS everything until this assignment,
        # and batch 0 of THIS query cannot complete before .start()
        # returns the handle, so nothing of ours is lost and nothing
        # foreign is recorded). The caller removes the
        # listener via spark.streams.removeListener(q.metricsListener)
        # when the job is torn down.
        listener.query_id = str(q.id)
        q.metricsListener = listener
    return q


def streaming_index(spark: SparkSession, input_path: str,
                    segments_path: str, checkpoint_path: str, *,
                    ngram: int = 1, max_files_per_trigger: int = 1,
                    trigger_seconds: int = 10):
    """Incremental inverted-index maintenance — the log-structured
    segment model every production search index uses (Lucene): each
    micro-batch of documents lands one IMMUTABLE posting segment
    (``textstats.index_segment`` — stateless map + partial-agg, no
    streaming state at all), written as ``batch_id=N`` with overwrite
    (the shared at-least-once idempotency contract). The queryable
    index is produced at read/compaction time by
    ``textstats.index_from_segments`` over the accumulated segment
    rows — identical semantics to a one-shot ``inverted_index`` over
    the full corpus by construction, since both run the same
    compaction code over the same segment shape.

    Returns the StreamingQuery handle."""
    from .textstats import index_segment

    stream = _parquet_stream(spark, DOCS_STREAM_SCHEMA, input_path,
                             max_files_per_trigger)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (index_segment(batch_df, ngram=ngram)
         .write.mode("overwrite")
         .parquet(os.path.join(segments_path, f"batch_id={batch_id}")))

    return _start_batches(stream, write_batch, checkpoint_path,
                          trigger_seconds)


def streaming_frontier(spark: SparkSession, input_path: str,
                       output_path: str, checkpoint_path: str, *,
                       known_urls: DataFrame | None = None,
                       include_nofollow: bool = False,
                       watermark: str = "1 hour",
                       max_files_per_trigger: int = 1,
                       trigger_seconds: int = 10):
    """The discovery loop as an INCREMENTAL job — the streaming mirror
    of the batch sitemap/feed frontiers: a continuous crawl discovers
    its own next wave from the pages it just fetched.

    Stream of fetched pages -> outlink extraction (the stateless
    mapInPandas kernel runs directly on the stream; ``warc_ts`` rides
    through it as the event time) -> JVM href resolution -> stateful
    candidate dedup via ``dropDuplicatesWithinWatermark`` on the
    resolved url, so each candidate is emitted ONCE per watermark
    horizon and dedup state stays bounded by discovery rate x horizon
    — never by frontier size (the same eviction argument as
    :func:`streaming_extract`). Inside ``foreachBatch`` the candidates
    anti-join the ``known_urls`` seed (already-crawled corpus) — a
    per-batch broadcast against a static frame, stateless — and each
    batch lands ``batch_id=N`` with overwrite (the at-least-once
    idempotency contract shared with :func:`start_streaming_job`).

    nofollow links are excluded from discovery by default (the
    crawler-politeness convention); pass ``include_nofollow=True`` to
    keep them. Returns the StreamingQuery handle."""
    from .graph import extract_outlinks, resolve_href

    stream = read_pages_stream(spark, input_path, max_files_per_trigger)
    links = extract_outlinks(stream.select("url", "warc_ts", "html"))
    if not include_nofollow:
        links = links.filter(~F.col("nofollow"))
    cands = (links
             .select(resolve_href(F.col("url"), F.col("href"))
                     .alias("cand_url"),
                     "warc_ts")
             .filter(F.col("cand_url").isNotNull())
             .withWatermark("warc_ts", watermark)
             .dropDuplicatesWithinWatermark(["cand_url"]))

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = batch_df
        if known_urls is not None:
            out = out.join(F.broadcast(known_urls.select(
                F.col(known_urls.columns[0]).alias("cand_url"))),
                "cand_url", "left_anti")
        (out.select("cand_url", "warc_ts")
         .write.mode("overwrite")
         .parquet(os.path.join(output_path, f"batch_id={batch_id}")))

    return _start_batches(cands, write_batch, checkpoint_path,
                          trigger_seconds)


def streaming_wet_sink(spark: SparkSession, input_path: str,
                       output_path: str, checkpoint_path: str, *,
                       strip: str = "density",
                       trigger_seconds: int = 10):
    """Extract incrementally and publish WET shards as batches land —
    the streaming version of the crawl loop's OUTPUT side: pages stream
    -> extraction kernel -> warc.write_wet per micro-batch, each batch
    into its own ``batch-N/`` directory. Idempotency follows the
    engine's foreachBatch convention (start_streaming_job): a retried
    batch re-runs with the SAME batch_id and rewrites its own
    directory (write_wet's atomic per-shard rename makes the rewrite
    safe mid-crash), so at-least-once delivery never duplicates
    records across directories. Returns the StreamingQuery handle."""
    import shutil

    from .warc import write_wet

    stream = read_pages_stream(spark, input_path)
    extracted = streaming_extract(stream, strip=strip)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = os.path.join(output_path, f"batch-{batch_id}")
        if os.path.isdir(out):  # retry of the same batch: replace
            shutil.rmtree(out)
        wet_in = batch_df.select(
            "url",
            F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'")
            .alias("wet_date"),
            "text")
        write_wet(wet_in, out)

    return _start_batches(extracted, write_batch, checkpoint_path,
                          trigger_seconds)
