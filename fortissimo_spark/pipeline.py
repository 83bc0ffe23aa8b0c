"""The extraction job graph: dedup → salt → kernel → partitioned write →
lineage/metrics, with checkpoint resume (SURVEY.md §3.4, §4.2).

Scale design notes (10^12-doc target):

* **Dedup before parse** — ``row_number() over (partition by url order by
  warc_ts desc)`` keeps the latest crawl; the shuffle moves only
  (url, warc_ts) + the page payload once, and parsing cost is paid only for
  winners.
* **Skew** — hosts are Zipf-distributed; the repartition key is
  (crawl_date, host_bucket, salt) where salt spreads each host bucket over
  ``salt_factor`` subtasks. AQE (on by default in Spark 4) additionally
  splits skewed shuffle partitions at runtime.
* **Resume** — the commit unit is ``host_bucket``: a url's crawls always
  share a host, so per-url dedup stays local to the commit unit and a
  partial rerun can never resurrect a stale crawl (a date-level commit unit
  could: the loser crawl of a url spanning two dates would win inside a
  resumed date slice). Output files stay partitioned by
  (crawl_date, host_bucket) for pruning; the lineage table records
  per-bucket row/token/node/error counts; a rerun anti-joins committed
  buckets and processes only the remainder.
* **No driver-side loops** — everything is one DataFrame plan; the only
  ``collect`` is the tiny lineage summary.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .io_tables import with_layout_columns
from .kernel import make_extract_kernel
from .schema import EXTRACT_SCHEMA

__all__ = ["dedup_latest_crawl", "dedup_latest_crawl_canonical",
           "salted_repartition", "run_extraction", "extract_df",
           "ExtractionJob", "curate_corpus"]

DEFAULT_SALT_FACTOR = 8


def dedup_latest_crawl(pages: DataFrame) -> DataFrame:
    """Latest crawl wins per url (SURVEY.md §2.7 window dedup):
    ``row_number()`` over ``partition by url order by warc_ts desc``. One
    exchange on hash(url) (uniformly distributed, so no skew by
    construction); reads the source exactly once. Over a url-bucketed+sorted
    table (:func:`fortissimo_spark.io_tables.write_bucketed_pages`, the
    10^12-doc production layout) Catalyst drops both the Exchange and the
    Sort, so the plan is exchange-free there too.
    """
    return _window_dedup(pages, F.col("url"))


def _window_dedup(pages: DataFrame, key) -> DataFrame:
    """Shared window-dedup body: latest crawl wins per ``key`` expression
    (one map-side key computation, one hash(key) exchange, one scan)."""
    keyed = pages.withColumn("_dk", key)
    w = Window.partitionBy("_dk").orderBy(
        F.col("warc_ts").desc(), F.col("html").isNull(), F.col("url"))
    return (keyed.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn", "_dk"))


def dedup_latest_crawl_canonical(pages: DataFrame) -> DataFrame:
    """Latest crawl wins per CANONICAL url: tracking-parameter / case /
    default-port / fragment variants of the same page (urls.normalize_url)
    collapse into one dedup key, so per-url dedup means per-PAGE dedup.
    Same single-scan window plan as :func:`dedup_latest_crawl`; the original
    ``url`` column is preserved on the winner row. Urls the parser cannot
    canonicalize (normalize_url yields NULL) fall back to their RAW url as
    the key — malformed urls must never collapse into one NULL group."""
    from .urls import normalize_url

    key = F.coalesce(normalize_url(F.col("url")), F.col("url"))
    return _window_dedup(pages, key)


def salted_repartition(pages: DataFrame, num_partitions: int,
                       salt_factor: int = DEFAULT_SALT_FACTOR) -> DataFrame:
    """Repartition by (crawl_date, host_bucket, salt): co-locates a host's
    pages into at most ``salt_factor`` tasks while breaking up hot hosts."""
    salted = pages.withColumn("_salt", F.pmod(F.xxhash64("url"), F.lit(salt_factor)))
    out = salted.repartition(num_partitions, "crawl_date", "host_bucket", "_salt")
    return out.drop("_salt")


def extract_df(pages: DataFrame, strip: str = "density", *,
               verify_roundtrip: bool = False) -> DataFrame:
    """pages -> EXTRACT_SCHEMA rows (the core operator, Arrow-batched)."""
    return (pages.select("url", "warc_ts", "html", "lang")
            .mapInPandas(make_extract_kernel(strip, verify_roundtrip),
                         EXTRACT_SCHEMA))


class ExtractionJob:
    """Resumable corpus extraction with per-partition lineage."""

    def __init__(self, spark: SparkSession, output_path: str, *,
                 strip: str = "density", salt_factor: int = DEFAULT_SALT_FACTOR,
                 dedup: bool | str = True, engine_version: str = "0.1.0"):
        """``dedup``: True = latest crawl per raw url (default); "canonical"
        = latest crawl per canonical url (urls.normalize_url key, raw-url
        fallback for unparseable urls); False = no dedup (salted
        repartition only)."""
        self.spark = spark
        self.output_path = output_path
        self.strip = strip
        self.salt_factor = salt_factor
        self.dedup = dedup
        self.engine_version = engine_version

    @property
    def text_path(self) -> str:
        return os.path.join(self.output_path, "extracted")

    @property
    def lineage_path(self) -> str:
        return os.path.join(self.output_path, "lineage")

    def committed_partitions(self) -> DataFrame | None:
        try:
            return (self.spark.read.parquet(self.lineage_path)
                    .select("host_bucket").distinct())
        except Exception:
            return None

    def run(self, pages: DataFrame, *, resume: bool = True) -> dict:
        """Execute the job; returns a summary dict."""
        spark = self.spark
        t0 = time.time()

        pages = with_layout_columns(pages)

        committed = self.committed_partitions() if resume else None
        if committed is not None:
            # resume: drop already-committed host buckets (the commit unit)
            pages = pages.join(F.broadcast(committed),
                               on=["host_bucket"], how="left_anti")

        # The dedup window shuffles by hash(url), which is uniformly
        # distributed — after it, no host skew can exist, so the kernel runs
        # directly on the window's output partitioning (no extra shuffle).
        # salted_repartition is for the no-dedup path, where input arrives
        # clustered by (crawl_date, host_bucket) and hot hosts would
        # otherwise pin single tasks.
        if self.dedup == "canonical":
            pages = dedup_latest_crawl_canonical(pages)
        elif self.dedup:
            pages = dedup_latest_crawl(pages)
        else:
            parallelism = spark.sparkContext.defaultParallelism
            pages = salted_repartition(pages, parallelism * 2, self.salt_factor)

        extracted = extract_df(pages, self.strip)
        # layout columns re-derived post-kernel (rows are now small: the html
        # payload is gone, so this repartition moves ~1% of the input bytes).
        # Shared helper so the bucket count can never drift from the lineage
        # table / resume anti-join (both key on the same host_bucket).
        extracted = with_layout_columns(extracted)

        # dynamic partition overwrite = atomic per-partition commit, set on
        # this write alone: the caller's session keeps its own mode
        (extracted
         .repartition("crawl_date", "host_bucket")
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("crawl_date", "host_bucket")
         .parquet(self.text_path))

        out = self.spark.read.parquet(self.text_path)
        lineage = (out.groupBy("host_bucket")
                   .agg(F.count("*").alias("row_count"),
                        F.sum("token_count").alias("token_count"),
                        F.sum("node_count").alias("node_count"),
                        F.sum("errors").alias("error_count"),
                        F.sum("html_bytes").alias("input_bytes"))
                   .withColumn("engine_version", F.lit(self.engine_version))
                   .withColumn("committed_at", F.current_timestamp()))
        lineage.write.mode("overwrite").parquet(self.lineage_path)

        stats = (out.agg(F.count("*").alias("rows"),
                         F.sum("token_count").alias("tokens"),
                         F.sum("errors").alias("errors"),
                         F.sum("html_bytes").alias("bytes"))
                 .collect()[0].asDict())
        stats["wall_seconds"] = time.time() - t0
        stats["docs_per_sec"] = stats["rows"] / stats["wall_seconds"] if stats["wall_seconds"] else 0.0
        return stats


def run_extraction(spark: SparkSession, pages: DataFrame, output_path: str,
                   **kwargs) -> dict:
    return ExtractionJob(spark, output_path, **kwargs).run(pages)


def _min_id_dedup(docs: DataFrame, id_col: str, text_col: str,
                  hash_col: str) -> DataFrame:
    """The min-id copy of each byte-identical text, its sha256 in
    ``hash_col`` (the dedup stage of ``curate_corpus``)."""
    hashed = docs.withColumn(hash_col, F.sha2(F.col(text_col), 256))
    winners = hashed.groupBy(hash_col).agg(F.min(id_col).alias("_win"))
    return (hashed.join(winners, hash_col)
            .filter(F.col(id_col) == F.col("_win")).drop("_win"))


def _lm_gate(docs: DataFrame, lm, ppl_cutoff: float, id_col: str,
             text_col: str) -> DataFrame:
    """``docs`` with a non-NULL ``ppl`` <= ``ppl_cutoff`` (the LM gate)."""
    from .lm import with_perplexity_ngram

    ppl = with_perplexity_ngram(docs, lm, id_col, text_col)
    return (docs.join(ppl, id_col)
            .filter(F.col("ppl").isNotNull() & (F.col("ppl") <= ppl_cutoff)))


def curate_corpus(docs: DataFrame, lm=None, *,
                  ppl_cutoff: float = 100.0,
                  quotas: dict | None = None,
                  strata_col: str = "lang",
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """End-to-end corpus curation — the composed recipe a training-data
    user actually runs, as ONE DataFrame plan:

    1. **exact dedup**: keep the min-id copy of each byte-identical text
       (skew-safe ``groupBy(sha256).agg(min(id))`` + join back — partial
       aggregation collapses a 10^9-copy text map-side; no window over
       the hash);
    2. **LM quality gate**: stupid-backoff perplexity (``lm.py``) must be
       non-NULL and <= ``ppl_cutoff`` (drops OOV-gibberish and <2-token
       stubs); ``lm`` is any :class:`fortissimo_spark.lm.NgramLM`
       (``train_bigram_lm`` is order 2; n=5 is the CCNet KenLM shape) —
       same broadcast plan, one extra table per order;
    3. **mixture quotas** (optional): deterministic per-stratum caps
       (``corpus.stratified_sample``).

    Returns the kept rows as (id, strata, ppl). Each stage is the
    audited scale shape of its standalone operator; composing them adds
    no new shuffle beyond each stage's own.
    """
    from .corpus import stratified_sample

    survivors = _min_id_dedup(docs, id_col, text_col, "_th").drop("_th")
    if lm is not None:
        survivors = _lm_gate(survivors, lm, ppl_cutoff, id_col, text_col)
    if quotas:
        survivors = stratified_sample(survivors, quotas, strata_col,
                                      id_col=id_col)
    cols = [id_col, strata_col] + (["ppl"] if lm is not None else [])
    return survivors.select(*cols)


def incremental_curate(current: DataFrame, previous: DataFrame,
                       previous_out: DataFrame, lm=None, *,
                       ppl_cutoff: float = 100.0,
                       id_col: str = "doc_id",
                       url_col: str = "url",
                       strata_col: str = "lang",
                       text_col: str = "text") -> DataFrame:
    """Delta-curation — the production recrawl shape: re-curate ONLY the
    new/changed documents of a recrawl and union the surviving prior
    output, producing exactly what ``curate_corpus(current)`` (dedup +
    LM gate, no quotas) would, without ever shuffling the unchanged
    payloads.

    Inputs: ``current``/``previous`` are full page snapshots
    (id, url, strata, text); ``previous_out`` is the PRIOR run's output
    of this function — ``(id, strata[, ppl], url, text_hash)``, payload-
    free. Bootstrap: call with empty ``previous``/``previous_out`` and
    the recipe reduces to the full curation (everything is 'new').

    Stages, each the audited scale shape of its standalone operator:

    1. **delta** = :func:`corpus.incremental_new_pages` — both snapshots
       reduce to (url, md5) map-side, so previous payloads never cross
       the network; only new/changed rows survive.
    2. **stale retirement**: prior output rows at changed or vanished
       urls drop (their text is no longer in the corpus).
    3. **orphan re-admission**: a retired winner may leave byte-identical
       copies at UNCHANGED urls (they lost the original dedup); those
       hashes are recovered via a slim (id, url, strata, sha256) scan of
       current — payloads fetched afterwards by id for just the orphan
       rows.
    4. **delta dedup + gate**: delta rows and orphans pick per-hash
       min-id winners together, drop hashes a kept prior row already
       covers, then pass the same LM gate as ``curate_corpus``.

    Parity contract (documented, not assumed silently): ids are
    crawl-ordered (prior ids < new ids — the same first-seen == min-id
    argument ``streaming_curate`` makes) and the LM is FIXED across
    increments (retraining requires a full recompute). Mixture quotas
    stay publication-time, exactly as in the streaming recipe.

    Returns ``(id, strata[, ppl], url, text_hash)`` — feed it back as the
    next increment's ``previous_out``."""
    from .corpus import incremental_new_pages

    h = F.sha2(F.col(text_col), 256)
    slim = [id_col, url_col, strata_col]

    delta = incremental_new_pages(current, previous, url_col, text_col)
    changed_urls = delta.select(F.col(url_col).alias("_cu")).distinct()
    live_urls = current.select(F.col(url_col).alias("_ku")).distinct()
    kept = (previous_out
            .join(changed_urls,
                  previous_out[url_col] == F.col("_cu"), "left_anti")
            .join(live_urls,
                  previous_out[url_col] == F.col("_ku"), "left_semi"))

    # orphan re-admission: hashes whose prior winner went stale, with
    # surviving copies at unchanged urls
    stale_hashes = (previous_out
                    .join(kept.select(id_col), id_col, "left_anti")
                    .select("text_hash").distinct())
    cur_slim = current.select(*slim, h.alias("text_hash"))
    orphan_ids = (cur_slim
                  .join(stale_hashes, "text_hash", "left_semi")
                  .join(changed_urls,
                        cur_slim[url_col] == F.col("_cu"), "left_anti")
                  .select(id_col))
    orphans = (current.join(orphan_ids, id_col, "left_semi")
               .select(*slim, text_col))

    cand = (_min_id_dedup(delta.select(*slim, text_col).unionByName(orphans),
                          id_col, text_col, "text_hash")
            .join(kept.select("text_hash"), "text_hash", "left_anti"))
    if lm is not None:
        cand = _lm_gate(cand, lm, ppl_cutoff, id_col, text_col)
    cols = ([id_col, strata_col]
            + (["ppl"] if lm is not None else [])
            + [url_col, "text_hash"])
    return kept.select(*cols).unionByName(cand.select(*cols))


def dedup_canonical(analyzed: DataFrame) -> DataFrame:
    """rel=canonical-aware dedup over an ALREADY-ANALYZED frame
    (kernel.page_analysis output, which carries `canonical` + warc_ts):
    pages declaring a canonical target collapse onto it — the standard
    search-engine consolidation rule — and the latest capture per
    canonical group wins (url text as the deterministic tie-break).

    Shape: the key is a map-side expression over columns the one-pass
    kernel already produced (NO second parse, NO payload join-back);
    the winner pick is the same one-exchange window as
    dedup_latest_crawl. Adds `canonical_key` to the output."""
    from .graph import resolve_href
    key = F.coalesce(resolve_href(F.col("url"), F.col("canonical")),
                     F.col("url"))
    w = Window.partitionBy("canonical_key") \
        .orderBy(F.col("warc_ts").desc(), F.col("url"))
    return (analyzed.withColumn("canonical_key", key)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))
