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


STRAGGLER_WAVES = 4  # tasks per core for chunky per-row work (see below)

# Minimum rows per widened task before extra waves pay for themselves:
# every task carries fixed Python-worker + Arrow setup cost, so widening
# 50 rows to waves*cores tasks leaves most tasks empty and every one
# paying overhead (the round-5 regression: 50 docs -> 128 partitions
# halved the driver's encoder-file throughput, 56.1 -> 28.1 docs/s).
WIDEN_ROWS_PER_TASK = 2


def widen_small_scan(df: DataFrame, key: str, waves: int = 1) -> DataFrame:
    """Hash-repartition on ``key`` ONLY when the upstream plan yields
    fewer partitions than cores.

    For CPU-dense per-row work (shingling, per-word hashing) a small
    table whose parquet is a single row group pins one core no matter how
    many exist — the scan cannot be split below row-group granularity.
    At 100 TB the scan already produces far more splits than cores, the
    guard is false, and NO shuffle is added. Hash partitioning (not
    round-robin) so Spark skips the sort-before-repartition pass
    round-robin needs for retry determinism. Apply this inside
    compute-heavy operators, not at the loader: cheap queries and
    broadcast-friendly plans (e.g. ANN top-k) are faster WITHOUT the
    extra exchange.

    ``waves`` — tasks per core, and the right value depends on per-ROW
    cost, measured both ways on sf0.1 at local[32]:

    * cheap rows (hash/gazetteer extraction, shingling: micro-seconds
      per row) → waves=1. Per-task fixed overhead (python worker spin,
      Arrow batch setup) dominates extra tasks: waves=4 measured ~2x
      SLOWER on the fused flagship (0.84-1.43 s -> 1.81-2.69 s) and on
      minhash_pairs.
    * chunky rows (a d=512 file-loaded encoder at ~0.1-0.2 s/doc) →
      STRAGGLER_WAVES. With one task per core the job's wall time is
      the slowest hash bucket; doc-length plus bucket-count variance
      cost 30-50% at the tail (the d=512 bench scaled N->4N at 0.53
      with one wave). Several waves let the scheduler smooth
      stragglers — why real clusters run 2-4x tasks per slot.

    Callers with a configurable backend pick per spec: an attached
    hidden_states_provider means chunky rows (operators/extract.py).

    For ``waves > 1`` the widened partition count is additionally CAPPED
    by input size: ``min(waves * cores, max(cores, ceil(n_rows /
    WIDEN_ROWS_PER_TASK)))``. Straggler smoothing only pays when there
    are enough rows to fill the extra task waves; below that, every
    extra task is pure fixed overhead (the round-5 encoder-file
    regression: 50 docs widened to 128 partitions). The row count costs
    one extra scan job, capped at ``waves * cores * WIDEN_ROWS_PER_TASK``
    rows and paid ONLY on the chunky-row path where the guard already
    established the input is a sub-core-count scan and per-row inference
    cost dwarfs it.
    """
    sc = df.sparkSession.sparkContext
    cores = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= cores:
        return df
    n = waves * cores
    if waves > 1:
        # the formula never needs more than n * WIDEN_ROWS_PER_TASK rows,
        # so the probe stops there instead of counting the whole input.
        # collect() of the limit runs as a take (no exchange): 0.09 s
        # against 0.16 s for limit().count() and 0.13 s for a full
        # count() (400-row single-file scan, local[4], 4 vCPUs)
        n_rows = len(df.limit(n * WIDEN_ROWS_PER_TASK).select(F.lit(1)).collect())
        n = min(n, max(cores, -(-n_rows // WIDEN_ROWS_PER_TASK)))
    return df.repartition(n, F.col(key))


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
