"""Per-stage timing metrics for the extraction pipeline.

The reference prints a per-request stage split —
"Tokenize: Xms | Encode: Xms | Score: Xms | Decode: Xms"
(ref GLiNERModel.swift:388-392). The Spark analogue: a mapInPandas pass
that runs the shipped ``extract_documents_batch`` with its stage entry
points wrapped in timers, and emits one row per (partition, stage) with
the accumulated seconds and doc count; aggregating those rows gives the
cluster-wide stage split. Used by bench.py; it is a PROFILING op (a
second extraction pass over its input), not a hook on the hot path."""

from __future__ import annotations

import time
from contextlib import contextmanager
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from glinerswift_spark.config import Configuration, DEFAULT_CONFIG
from glinerswift_spark.scoring import pipeline
from glinerswift_spark.scoring.backends import get_backend

STAGES = ("split", "chunk", "score", "decode", "merge")

TIMING_SCHEMA = StructType(
    [
        StructField("stage", StringType()),
        StructField("seconds", DoubleType()),
        StructField("docs", LongType()),
        StructField("entities", LongType()),
    ]
)

# pipeline module attribute -> stage; the backend's scoring methods
# (whichever of them it has) time as "score"
_PIPELINE_STAGES = {
    "word_spans": "split",
    "chunk_text": "chunk",
    "decode_document_logits": "decode",
    "decode_candidates": "decode",
    "merge_chunk_entities": "merge",
}
_SCORE_METHODS = ("score_document", "score_documents", "score_document_sparse")


def _timed(fn, t: dict, stage: str):
    def wrapper(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t[stage] += time.perf_counter() - t0

    return wrapper


@contextmanager
def _stage_timers(backend, t: dict):
    """Add the wall time of each stage entry point the pipeline calls
    into ``t[stage]`` while the block runs. None of the wrapped calls
    nests inside another, so the sums do not double count."""
    originals = {a: getattr(pipeline, a) for a in _PIPELINE_STAGES}
    methods = [m for m in _SCORE_METHODS if hasattr(backend, m)]
    try:
        for a, stage in _PIPELINE_STAGES.items():
            setattr(pipeline, a, _timed(originals[a], t, stage))
        for m in methods:  # instance attributes shadow the class methods
            setattr(backend, m, _timed(getattr(backend, m), t, "score"))
        yield
    finally:
        for a, fn in originals.items():
            setattr(pipeline, a, fn)
        for m in methods:
            vars(backend).pop(m, None)


def stage_timing_report(
    df: DataFrame,
    labels: list[str],
    backend_spec,
    text_col: str = "text",
    threshold: float | None = None,
    config: Configuration = DEFAULT_CONFIG,
) -> DataFrame:
    """-> (stage, seconds, docs, entities): cluster-wide stage split."""
    labels = list(labels)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        backend = get_backend(backend_spec)
        t = {s: 0.0 for s in STAGES}
        docs = 0
        ents = 0
        with _stage_timers(backend, t):
            for pdf in batches:
                texts = pdf[text_col].tolist()
                docs += sum(1 for x in texts if x)
                ents += sum(
                    len(e)
                    for e in pipeline.extract_documents_batch(
                        texts, labels, backend, threshold=threshold,
                        config=config,
                    )
                )
        yield pd.DataFrame(
            {
                "stage": list(STAGES),
                "seconds": [t[s] for s in STAGES],
                "docs": [docs] * len(STAGES),
                "entities": [ents] * len(STAGES),
            }
        )

    from glinerswift_spark.sources.pages import widen_small_scan

    # widen when the scan is narrower than core count (a single-row-group
    # parquet ran the whole instrumented pass on one task; no-op at
    # scale). Keyed on the text itself — the only column this pass ships.
    # Stage sums/doc counts are invariant to partitioning.
    per_partition = widen_small_scan(df.select(text_col), text_col).mapInPandas(
        run, TIMING_SCHEMA
    )
    return per_partition.groupBy("stage").agg(
        F.round(F.sum("seconds"), 4).alias("seconds"),
        F.sum("docs").alias("docs"),
        F.sum("entities").alias("entities"),
    )


def span_prf(
    pred: DataFrame,
    gold: DataFrame,
    keys: tuple = ("doc_id", "label", "entity", "start", "end"),
    label_col: str = "label",
) -> DataFrame:
    """Per-label span precision / recall / F1 under EXACT-match scoring —
    the north rule's own acceptance criterion (triple/entity P/R >= 0.95
    vs reference fixtures) as a distributed operator, so a production
    run can score a candidate extraction config against a gold slice
    without collecting either side.

    Exact match = equality on ``keys`` (doc, label, surface, offsets);
    both sides are de-duplicated to set semantics first. tp is one
    equi-join on the full key; per-label counts are map-side-combined
    aggregates of the three relations; precision/recall/F1 divide
    BIGINT counts (IEEE division + round — deterministic; no libm).
    Labels with zero predictions or zero gold report 0.0, not null.

    Scale shape: the join shuffles on the full composite key (high
    cardinality, evenly distributed); per-label aggregation is tiny.
    """
    p = pred.select(*keys).distinct()
    g = gold.select(*keys).distinct()
    tp = (
        p.join(g, list(keys))
        .groupBy(label_col)
        .agg(F.count(F.lit(1)).alias("tp"))
    )
    np_ = p.groupBy(label_col).agg(F.count(F.lit(1)).alias("n_pred"))
    ng = g.groupBy(label_col).agg(F.count(F.lit(1)).alias("n_gold"))
    out = (
        ng.join(np_, label_col, "full")
        .join(tp, label_col, "left")
        .select(
            label_col,
            F.coalesce("n_pred", F.lit(0)).cast("long").alias("n_pred"),
            F.coalesce("n_gold", F.lit(0)).cast("long").alias("n_gold"),
            F.coalesce("tp", F.lit(0)).cast("long").alias("tp"),
        )
    )
    prec = F.when(F.col("n_pred") > 0, F.col("tp") / F.col("n_pred")).otherwise(0.0)
    rec = F.when(F.col("n_gold") > 0, F.col("tp") / F.col("n_gold")).otherwise(0.0)
    f1 = F.when(
        (prec + rec) > 0, F.lit(2.0) * prec * rec / (prec + rec)
    ).otherwise(0.0)
    return out.select(
        label_col,
        "n_pred",
        "n_gold",
        "tp",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )
