"""Table IO: star-schema loaders and the synthetic `pages` table.

Iceberg note: the sandbox Spark has no Iceberg jars, so the pipeline uses the
documented partitioned-parquet fallback with the same partition semantics
(``crawl_date`` = days(warc_ts), ``host_bucket`` = bucket(16, host)); the
writer API is Iceberg-shaped (overwrite-by-partition) so swapping in
``writeTo(...).overwritePartitions()`` on a real cluster is a one-liner.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .batches import row_kernel
from .pages import has_second_crawl, page_for_doc
from .schema import PAGES_SCHEMA

TABLE_NAMES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings")

N_HOST_BUCKETS = 16


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _doc_pages(doc_id, text, lang):
    """PAGES_SCHEMA rows of one document: its first crawl, and a second
    crawl for the ~10% of urls that have one.  A NULL text reads as ""."""
    for crawl in ((0, 1) if has_second_crawl(doc_id) else (0,)):
        pg = page_for_doc(int(doc_id), text or "", lang, crawl)
        yield pg["url"], pg["warc_ts"], pg["html"], None, pg["lang"]


def build_pages(spark: SparkSession, sf_dir: str, *,
                num_partitions: int | None = None, amplify: int = 1) -> DataFrame:
    """Deterministic pages table derived from documents (FIXTURES.md §1/§3).

    ~10% of urls appear twice (second crawl, later ``warc_ts``) to exercise
    the dedup window. ``amplify`` replicates the corpus with distinct doc_ids
    (bench-scale corpora from the small documents table).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    if amplify > 1:
        reps = spark.range(amplify).withColumnRenamed("id", "rep")
        docs = (docs.crossJoin(reps)
                .select((F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"),
                        "text", "lang"))
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    # documents arrive as a single small parquet split; spread generation +
    # parsing across all cores (tiny shuffle, CPU-bound downstream)
    docs = docs.repartition(num_partitions, "doc_id")
    return docs.mapInPandas(
        row_kernel(PAGES_SCHEMA, _doc_pages, ("doc_id", "text", "lang")),
        PAGES_SCHEMA)


def with_layout_columns(pages: DataFrame) -> DataFrame:
    """Add the physical-layout columns: host, crawl_date, host_bucket."""
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    return (pages
            .withColumn("host", host)
            .withColumn("crawl_date", F.to_date("warc_ts"))
            .withColumn("host_bucket", F.pmod(F.xxhash64("host"), F.lit(N_HOST_BUCKETS))))


def write_pages_table(pages: DataFrame, path: str) -> None:
    """Write the pages corpus with the production partition layout."""
    (with_layout_columns(pages)
     .repartition("crawl_date", "host_bucket")
     .write.mode("overwrite")
     .partitionBy("crawl_date", "host_bucket")
     .parquet(path))


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime jar is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def write_pages_iceberg(pages: DataFrame, table_ident: str) -> None:
    """Iceberg production layout: ``days(warc_ts)`` + ``bucket(16, host)``
    partition transforms, created/replaced atomically. Requires the Iceberg
    runtime jar + a configured catalog (not present in this sandbox — see
    :func:`write_pages_production` for the auto-selected fallback)."""
    try:
        from pyspark.sql.functions import partitioning as P
        days, bucket = P.days, P.bucket
    except ImportError:  # pragma: no cover - older pyspark
        days, bucket = F.days, F.bucket
    (with_layout_columns(pages)
     .writeTo(table_ident)
     .partitionedBy(days(F.col("warc_ts")),
                    bucket(N_HOST_BUCKETS, F.col("host")))
     .using("iceberg")
     .createOrReplace())


def write_pages_production(pages: DataFrame, spark: SparkSession,
                           destination: str) -> str:
    """Write the corpus with the production layout, auto-selecting the
    engine: Iceberg partition transforms when the runtime is on the
    classpath, else the partitioned-parquet fallback with the same
    partition semantics. Returns which engine was used."""
    if iceberg_available(spark):
        write_pages_iceberg(pages, destination)
        return "iceberg"
    write_pages_table(pages, destination)
    return "parquet"


N_URL_BUCKETS = 32


def write_bucketed_pages(pages: DataFrame, table_name: str,
                         n_buckets: int = N_URL_BUCKETS,
                         location: str | None = None) -> None:
    """Warehouse-scale layout: bucket + sort by url so the per-url dedup
    window needs NO exchange (the 10^12-doc design point; at that scale this
    is the Iceberg ``bucket(N, url)`` partition transform). ``location``
    makes the table external so it survives the in-memory catalog
    (re-attach with :func:`register_bucketed_pages`)."""
    w = (pages.write.bucketBy(n_buckets, "url").sortBy("url", "warc_ts")
         .mode("overwrite").format("parquet"))
    if location:
        w = w.option("path", location)
    w.saveAsTable(table_name)


def register_bucketed_pages(spark: SparkSession, table_name: str,
                            location: str, n_buckets: int = N_URL_BUCKETS) -> DataFrame:
    """Re-attach an existing bucketed-pages directory in a fresh session
    (the default catalog is in-memory; the files + bucket spec are durable)."""
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    spark.sql(f"""
        CREATE TABLE {table_name}
        (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)
        USING parquet
        CLUSTERED BY (url) SORTED BY (url, warc_ts) INTO {n_buckets} BUCKETS
        LOCATION '{location}'
    """)
    return spark.table(table_name)
