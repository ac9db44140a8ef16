"""Sources: pages/documents tables and fixture JSONL.

Input contract (BASELINE input_hint):
``pages(url string, warc_ts timestamp, html binary, text string, lang string)``
as an Iceberg table. Local dev uses parquet stand-ins; the loader prefers
the Iceberg catalog when the format is available and falls back to parquet
transparently (same DataFrame shape downstream).

The driver's synthetic proxy is ``documents(doc_id, text, lang, source,
n_chars)`` at /root/testdata/sf*/documents.parquet.

Salted repartition: the north rule requires explicit skew handling for
mega-domains. ``repartition_salted`` spreads rows by
``xxhash64(url) % (parallelism * salt_factor)`` so one hot domain cannot
pin a single task; it is a deterministic full shuffle done ONCE before the
expensive inference stage (inference cost >> shuffle cost at scale).
"""

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F


def widen_small_scan(df: DataFrame, key: str) -> DataFrame:
    """Hash-repartition on ``key`` to one task per core ONLY when the
    upstream plan yields fewer partitions than cores.

    For CPU-dense per-row work (shingling, per-word hashing, inference) a
    small table whose parquet is a single row group pins one core no
    matter how many exist — the scan cannot be split below row-group
    granularity. At 100 TB the scan already produces far more splits
    than cores, the guard is false, and NO shuffle is added. Hash
    partitioning (not round-robin) so Spark skips the
    sort-before-repartition pass round-robin needs for retry
    determinism. Apply this inside compute-heavy operators, not at the
    loader: cheap queries and broadcast-friendly plans (e.g. ANN top-k)
    are faster WITHOUT the extra exchange.

    Exactly one task per core, never more: every Python task carries a
    fixed cost (worker hand-off, Arrow batch setup) of ~40-60 ms that
    does not spread across cores. A no-op ``mapInPandas`` over 400 docs
    took 0.28-0.31 s at 4 partitions, 0.93-1.06 s at 16 and 2.74-3.08 s
    at 64, against 0.08-0.21 s for a JVM-only ``count`` of the same
    repartition (local[4], 4 vCPUs). Extra tasks to smooth doc-length
    stragglers cost more than the stragglers on the encoder path too:
    one task per core cut ``encoder_extract`` job_s 24-25% against 4.
    """
    cores = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= cores:
        return df
    return df.repartition(cores, F.col(key))


def read_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def read_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def read_pages(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Read the pages table (Iceberg in production, parquet stand-in in dev).

    A table with ``html`` and no ``text`` column (the raw crawl shape)
    gets ``text`` derived by extract_pages_text."""
    pages = spark.read.format(fmt).load(path)
    if "html" in pages.columns and "text" not in pages.columns:
        return extract_pages_text(pages)
    return pages


def extract_pages_text(pages: DataFrame) -> DataFrame:
    """[NORTH-RULE] html(binary) -> text(string), byte-identical per url.

    Arrow-batched pandas UDF over the deterministic pure function
    (functions/text.extract_text_from_html); goldens pin the bytes->text
    mapping. Re-running over the same html bytes always reproduces the
    text column exactly — the invariant the correctness gate requires.
    """
    from pyspark.sql.functions import pandas_udf

    from glinerswift_spark.functions.text import extract_text_from_html

    @pandas_udf("string")
    def _extract(html: pd.Series) -> pd.Series:
        return html.map(lambda b: extract_text_from_html(b))

    return pages.withColumn("text", _extract(F.col("html")))


def documents_as_pages(docs: DataFrame) -> DataFrame:
    """Wrap the synthetic documents table in the exact input_hint shape
    pages(url, warc_ts, html, text, lang): deterministic url from doc_id,
    html = a minimal page embedding the text, warc_ts fixed epoch + doc_id
    seconds. Used by tests to exercise the pages path end to end."""
    html = F.concat(
        F.lit("<html><body><p>"), F.col("text"), F.lit("</p></body></html>")
    ).cast("binary")
    return docs.select(
        F.concat(F.lit("https://example.org/doc/"), F.col("doc_id")).alias("url"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id")).alias("warc_ts"),
        html.alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def repartition_salted(
    df: DataFrame, key_col: str = "url", num_partitions: int | None = None
) -> DataFrame:
    """Deterministic salt-spread by key hash ([NORTH-RULE] skew handling)."""
    salt = F.pmod(F.xxhash64(F.col(key_col)), F.lit(1 << 20)).alias("__salt")
    out = df.withColumn("__salt", salt)
    out = (
        out.repartition(num_partitions, "__salt")
        if num_partitions
        else out.repartition("__salt")
    )
    return out.drop("__salt")


def write_table(df: DataFrame, path: str, partition_by: list[str] | None = None, fmt: str = "parquet"):
    """Idempotent materialization (S8): overwrite semantics so re-runs of a
    stage converge to the same bytes."""
    w = df.write.mode("overwrite").format(fmt)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def iceberg_catalog_available(spark: SparkSession, catalog: str = "spark_catalog") -> bool:
    """True iff ``catalog`` is backed by an Iceberg SparkCatalog (the
    production deployment; this container ships no Iceberg runtime jar)."""
    impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
    return impl is not None and "iceberg" in impl.lower()


def write_table_iceberg(
    df: DataFrame,
    table: str,
    partition_by: list[str] | None = None,
    catalog: str = "spark_catalog",
):
    """Idempotent Iceberg materialization (S8, the north rule's named
    target): createOrReplace on first write, overwritePartitions on
    re-runs — dynamic partition overwrite, so a resumed stage replaces
    exactly the partitions it recomputed and a full re-run converges to
    the same table state. Requires an Iceberg catalog on the session
    (spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-*
    with spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog);
    raises a clear error when absent rather than writing to a
    non-transactional fallback.
    """
    spark = df.sparkSession
    if not iceberg_catalog_available(spark, catalog):
        raise RuntimeError(
            f"catalog {catalog!r} is not an Iceberg catalog on this session; "
            "configure spark.sql.catalog.* for Iceberg or use write_table() "
            "for plain-path parquet output"
        )
    if spark.catalog.tableExists(table):
        # dynamic overwrite of exactly the partitions present in df
        df.writeTo(table).overwritePartitions()
    else:
        w = df.writeTo(table).using("iceberg")
        if partition_by:
            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        w.createOrReplace()
