"""[NORTH-RULE, no ref] per-partition checkpoint / lineage / counters.

Write-audit-publish per stage:
  * a stage writes its output partitioned by a deterministic bucket column
    ``part_bucket = pmod(xxhash64(key), num_buckets)``;
  * per-bucket counters (rows in/out) land in a ``_STATUS`` table keyed by
    (stage, part_bucket) with status=done + lineage (input fingerprint);
  * on resume, buckets already marked done are skipped (anti-join), so a
    killed run re-processes only missing buckets and converges to the
    identical output (idempotent overwrite of bucket directories).

This is deliberately BATCH with resumable checkpoints (the north rule asks
for resumability, not Structured Streaming); every stage remains a pure
DataFrame transform so it can also run under foreachBatch unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

STATUS_SCHEMA = "stage string, part_bucket int, status string, rows_in long, rows_out long, lineage string"


def with_bucket(df: DataFrame, key_col: str, num_buckets: int) -> DataFrame:
    return df.withColumn(
        "part_bucket",
        F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(num_buckets)).cast("int"),
    )


def _status_path(root: str) -> str:
    return os.path.join(root, "_STATUS")


def read_status(spark: SparkSession, root: str, stage: str) -> DataFrame:
    path = _status_path(root)
    # local-path existence check first: letting spark.read probe a missing
    # path logs a full WARN stack trace on every fresh run (FileStreamSink
    # metadata lookup) before the except fires. Remote URIs (s3://,
    # hdfs://) skip the check — os.path can't see them — and rely on the
    # try/except below, exactly as before.
    if "://" not in path and not os.path.exists(path):
        return spark.createDataFrame([], STATUS_SCHEMA)
    try:
        df = spark.read.parquet(path)
    except Exception:
        return spark.createDataFrame([], STATUS_SCHEMA)
    return df.where(F.col("stage") == stage)


def pending_buckets(
    spark: SparkSession, df_bucketed: DataFrame, root: str, stage: str
) -> DataFrame:
    """Anti-join input buckets against completed ones -> rows still to do."""
    done = read_status(spark, root, stage).where(F.col("status") == "done").select(
        "part_bucket"
    )
    return df_bucketed.join(done, "part_bucket", "left_anti")


def run_stage_with_checkpoint(
    spark: SparkSession,
    df: DataFrame,
    transform,
    root: str,
    stage: str,
    key_col: str,
    num_buckets: int = 64,
    lineage: str = "",
) -> DataFrame:
    """Execute ``transform`` only over buckets not yet marked done; write
    output per bucket + status rows; return the full stage output (old +
    new buckets)."""
    out_path = os.path.join(root, stage)
    bucketed = with_bucket(df, key_col, num_buckets)
    todo = pending_buckets(spark, bucketed, root, stage)

    # bucket ids, not rows: bounded by num_buckets, safe to collect
    todo_buckets = [r[0] for r in todo.select("part_bucket").distinct().collect()]
    if todo_buckets:
        result = transform(todo)
        if "part_bucket" not in result.columns:
            result = result.join(
                bucketed.select(key_col, "part_bucket").distinct(), key_col
            )
        (
            result.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("part_bucket")
            .parquet(out_path)
        )
        # rows_out from the JUST-WRITTEN files, never by re-evaluating the
        # transform: re-evaluation doubles the stage cost and, for a
        # nondeterministic transform, could disagree with what was
        # actually persisted
        written = spark.read.parquet(out_path).where(
            F.col("part_bucket").isin(todo_buckets)
        )
        counters = (
            written.groupBy("part_bucket")
            .agg(F.count(F.lit(1)).alias("rows_out"))
            .join(
                todo.groupBy("part_bucket").agg(F.count(F.lit(1)).alias("rows_in")),
                "part_bucket",
                "full",
            )
            .select(
                F.lit(stage).alias("stage"),
                "part_bucket",
                F.lit("done").alias("status"),
                F.coalesce("rows_in", F.lit(0)).alias("rows_in"),
                F.coalesce("rows_out", F.lit(0)).alias("rows_out"),
                F.lit(lineage).alias("lineage"),
            )
        )
        counters.write.mode("append").parquet(_status_path(root))
    return spark.read.parquet(out_path)

