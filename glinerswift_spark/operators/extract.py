"""Batched NER extraction over a DataFrame of documents.

The single biggest capability upgrade over the reference: GLiNERSwift
processes one document at a time on-device (explicit TODO at ref
GLiNERModel.swift:179); here extraction is an Arrow-batched
``mapInPandas`` over micro-batches of the text column — never per-row
Python, never a driver loop.

Scale design (100 TB / 1000 executors):
  * Only ``id_cols + [text_col]`` are selected before the UDF — Catalyst
    prunes every other column at the parquet/Iceberg scan.
  * Chunking of long pages, per-chunk scoring, greedy NMS, and cross-chunk
    merge all happen INSIDE one task (see scoring/pipeline.py) — chunk
    reassembly costs zero shuffles.
  * The scoring backend is built once per Python worker
    (scoring/backends.get_backend); the spec travels with the closure
    (tiny, picklable) — the Spark analogue of broadcast model weights.
  * Output is long-format entity rows, ready for relational post-ops.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from glinerswift_spark.config import Configuration, DEFAULT_CONFIG
from glinerswift_spark.scoring.backends import get_backend
from glinerswift_spark.scoring.pipeline import extract_documents_batch

ENTITY_FIELDS = [
    StructField("label", StringType()),
    StructField("entity", StringType()),
    StructField("score", DoubleType()),
    StructField("start", IntegerType()),
    StructField("end", IntegerType()),
]


def entity_output_schema(df: DataFrame, id_cols: list[str]) -> StructType:
    id_fields = [f for f in df.schema.fields if f.name in set(id_cols)]
    return StructType(id_fields + ENTITY_FIELDS)


def _append_entity_rows(
    rows: dict[str, list], pdf: pd.DataFrame, id_cols: list[str],
    doc_idxs, ents_per_doc,
) -> None:
    """One long-format row per entity; ``doc_idxs[k]`` is the ``pdf`` row
    whose entities are ``ents_per_doc[k]``."""
    ids = {c: pdf[c] for c in id_cols}
    for i, ents in zip(doc_idxs, ents_per_doc):
        for e in ents:
            for c in id_cols:
                rows[c].append(ids[c].iat[i])
            rows["label"].append(e.label)
            rows["entity"].append(e.text)
            rows["score"].append(e.score)
            rows["start"].append(e.start)
            rows["end"].append(e.end)


def extract_entities(
    df: DataFrame,
    labels: list[str],
    backend_spec,
    text_col: str = "text",
    id_cols: list[str] | None = None,
    threshold: float | None = None,
    config: Configuration = DEFAULT_CONFIG,
    label_groups: list[int] | None = None,
) -> DataFrame:
    """documents -> long-format entities(id..., label, entity, score, start, end).

    ``label_groups``: per-label task-group ids — scoring stays one pass,
    greedy NMS runs per group (task isolation for fused multi-task runs;
    see scoring/pipeline.extract_document)."""
    id_cols = list(id_cols or ["doc_id"])
    labels = list(labels)
    out_schema = entity_output_schema(df, id_cols)
    out_cols = [f.name for f in out_schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        backend = get_backend(backend_spec)  # per-worker singleton
        for pdf in batches:
            rows: dict[str, list] = {c: [] for c in out_cols}
            ents_per_doc = extract_documents_batch(
                pdf[text_col].tolist(), labels, backend, threshold=threshold,
                config=config, label_groups=label_groups,
            )
            _append_entity_rows(
                rows, pdf, id_cols, range(len(ents_per_doc)), ents_per_doc
            )
            yield pd.DataFrame(rows, columns=out_cols)

    from glinerswift_spark.sources.pages import widen_small_scan

    # explicit narrow projection => column pruning reaches the scan;
    # widen_small_scan gives the inference pass one task per core when
    # the scan is narrower than that (single-row-group test parquet) —
    # a no-op at real scale, and never a shuffle of the (much larger)
    # output. One task per core for every backend: each Python task
    # costs ~40-60 ms fixed, more than extra tasks win back from
    # doc-length stragglers even on the encoder path.
    return (
        widen_small_scan(df.select(*id_cols, text_col), id_cols[0])
        .mapInPandas(run, schema=out_schema)
    )


def extract_entities_per_request(
    df: DataFrame,
    backend_spec,
    text_col: str = "text",
    labels_col: str = "labels",
    threshold_col: str = "threshold",
    id_cols: list[str] | None = None,
    config: Configuration = DEFAULT_CONFIG,
) -> DataFrame:
    """Extraction where EACH ROW carries its own labels (+ threshold) —
    the reference's benchmark-fixture shape {id, text, labels, threshold}
    (ref Scripts/test_fixtures.jsonl, BenchmarkCLI decodeFixtures).

    Same fused per-task dataflow; the backend sees the row's label list.
    Rows with IDENTICAL (labels, threshold) inside an Arrow batch are
    grouped and scored through the backend's cross-document batch path
    (extract_documents_batch) — the common benchmark shape is one label
    set repeated across every request, which then costs one batched
    scoring call per 64 rows instead of one per row.
    """
    id_cols = list(id_cols or ["id"])
    out_schema = entity_output_schema(df, id_cols)
    out_cols = [f.name for f in out_schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        backend = get_backend(backend_spec)
        for pdf in batches:
            rows: dict[str, list] = {c: [] for c in out_cols}
            has_thr = threshold_col in pdf.columns
            request_groups: dict = {}
            for i in range(len(pdf)):
                raw_labels = pdf[labels_col].iat[i]
                labels = () if raw_labels is None else tuple(raw_labels)
                thr = float(pdf[threshold_col].iat[i]) if has_thr else None
                request_groups.setdefault((labels, thr), []).append(i)
            for (labels, thr), idxs in request_groups.items():
                ents_per_doc = extract_documents_batch(
                    [pdf[text_col].iat[i] for i in idxs], list(labels),
                    backend, threshold=thr, config=config,
                )
                _append_entity_rows(rows, pdf, id_cols, idxs, ents_per_doc)
            yield pd.DataFrame(rows, columns=out_cols)

    keep = [*id_cols, text_col, labels_col]
    if threshold_col in df.columns:
        keep.append(threshold_col)
    return df.select(*keep).mapInPandas(run, schema=out_schema)
