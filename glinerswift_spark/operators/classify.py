"""Classification + structured-extraction tasks (multi-task Schema API).

Mirrors the reference's task dispatch (ref API/GLiNER2.swift:80-163):
  * classification: label scores -> sigmoid (multi-label) or stable
    softmax (single-label) -> threshold filter -> sort desc
    (ref GLiNERModel.swift:207-302); top-1 = max score
    (ref GLiNER2.swift:330-332).
  * structured extraction: per field, run entity extraction with the
    field's choices/description as labels, apply regex validators, apply
    dtype projection ("str" -> first match, "list" -> all)
    (ref GLiNER2.swift:234-299, 107-118).

Spark shape: classification scores come from the same pluggable backend
(label embedding vs document embedding) inside mapInPandas; validator and
dtype projection are plain column expressions (rlike / element_at) —
UDF-free post-processing.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from glinerswift_spark.schema import ClassificationSpec, FieldSpec
from glinerswift_spark.scoring.backends import get_backend
from glinerswift_spark.scoring.core import sigmoid


def stable_softmax(x: np.ndarray) -> np.ndarray:
    """Max-subtracted softmax (ref GLiNERModel.swift:293-302)."""
    z = np.exp(x - np.max(x, axis=-1, keepdims=True))
    return z / np.sum(z, axis=-1, keepdims=True)


def classify_documents(
    df: DataFrame,
    specs: list[ClassificationSpec],
    backend_spec,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """-> (id, task, label, score, is_top): per-label classification rows
    for every task in ``specs``, in ONE corpus pass — the per-task loop
    runs inside the UDF over each document, so T tasks cost one scan.

    Document-level label logits come from the backend's
    ``classify_logits`` (the gazetteer's max term logit, the stub
    backends' width-1 span max, the prompt backend's classifier head,
    ref GLiNERModel.swift:218). Scores >= cls_threshold only; is_top
    marks the max-score label (kept regardless of threshold, like
    topPrediction).
    """
    specs = list(specs)
    (id_field,) = [f for f in df.schema.fields if f.name == id_col]
    out_schema = StructType(
        [
            id_field,
            StructField("task", StringType()),
            StructField("label", StringType()),
            StructField("score", DoubleType()),
            StructField("is_top", BooleanType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from glinerswift_spark.functions.text import word_spans

        backend = get_backend(backend_spec)
        for pdf in batches:
            rows = {c: [] for c in out_schema.fieldNames()}
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                spans = word_spans(text or "")
                if not spans:
                    continue
                for spec in specs:
                    labels = list(spec.labels)
                    doc_logits = np.asarray(
                        backend.classify_logits(text, spans, labels), dtype=float
                    )
                    probs = (
                        sigmoid(doc_logits)
                        if spec.multi_label
                        else stable_softmax(doc_logits)
                    )
                    top_idx = int(np.argmax(probs))
                    for i, lb in enumerate(labels):
                        if probs[i] >= spec.cls_threshold or i == top_idx:
                            rows[id_col].append(doc_id)
                            rows["task"].append(spec.task)
                            rows["label"].append(lb)
                            rows["score"].append(float(probs[i]))
                            rows["is_top"].append(i == top_idx)
            yield pd.DataFrame(rows, columns=out_schema.fieldNames())

    return df.select(id_col, text_col).mapInPandas(run, schema=out_schema)


def predict_structure_counts(
    df: DataFrame,
    structure_name: str,
    backend_spec,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_count: int = 20,
) -> DataFrame:
    """A4: per-document predicted structure-instance count — argmax over
    the backend's 20 count logits, clamped to max_count
    (ref GLiNER2SpanPipeline.swift:114-123,173-198)."""
    import numpy as np

    from glinerswift_spark.scoring.backends import predict_count

    from pyspark.sql.types import IntegerType

    (id_field,) = [f for f in df.schema.fields if f.name == id_col]
    out_schema = StructType([id_field, StructField("predicted_count", IntegerType())])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        backend = get_backend(backend_spec)
        for pdf in batches:
            ids, counts = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                ids.append(doc_id)
                counts.append(
                    predict_count(
                        backend.count_logits(text or "", structure_name), max_count
                    )
                )
            yield pd.DataFrame({id_col: ids, "predicted_count": counts})

    return df.select(id_col, text_col).mapInPandas(run, out_schema)


def extract_structure(
    df: DataFrame,
    structure_name: str,
    fields: list[FieldSpec],
    backend_spec,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float | None = None,
    use_count_predictor: bool = False,
    max_count: int = 20,
) -> DataFrame:
    """Structured extraction, FUSED: the union of every field's labels
    goes through ONE entity-extraction pass, then a broadcast
    label -> field-config join applies each field's validators (P4) and
    dtype projection (P5) downstream — one corpus scan + one MapInPandas
    stage regardless of field count. (The reference re-invokes extraction
    per field, ref API/GLiNER2.swift:234-299 — an O(fields) cost this
    plan avoids at cluster scale; per-(span,label) scores are unchanged
    because every backend scores labels independently.) One long row per
    (doc, structure, field, label). With use_count_predictor, "list"
    fields keep only the first predicted_count instances (the reference
    takes the first predictedCount count-embed projections,
    ref GLiNER2SpanPipeline.swift:119-120)."""
    from glinerswift_spark.operators.extract import extract_entities

    if not fields:
        return None
    labels, groups = structure_label_groups(fields)
    ents = extract_entities(
        df, labels, backend_spec, text_col=text_col,
        id_cols=[id_col], threshold=threshold, label_groups=groups,
    )
    counts = (
        predict_structure_counts(
            df, structure_name, backend_spec, text_col, id_col, max_count
        )
        if use_count_predictor
        else None
    )
    return structure_from_entities(
        ents, structure_name, fields, counts=counts,
        max_count=max_count, id_col=id_col,
    )


def structure_labels(fields: list[FieldSpec]) -> list[str]:
    """Union of every field's labels, first-occurrence order."""
    return structure_label_groups(fields)[0]


def structure_label_groups(
    fields: list[FieldSpec], base: int = 0
) -> tuple[list[str], list[int]]:
    """(labels, group ids) for a fused pass: one NMS group per FIELD
    (the reference extracts per field, so fields never suppress each
    other's spans). A label shared by two fields keeps the first field's
    group; its entities still reach every declaring field through the
    label-config join."""
    labels: list = []
    groups: list = []
    for fi, fld in enumerate(fields):
        for lb in (fld.choices if fld.choices else [fld.description or fld.name]):
            if lb not in labels:
                labels.append(lb)
                groups.append(base + fi)
    return labels, groups


def _field_config(spark, fields: list[FieldSpec]) -> DataFrame:
    cfg_rows = []
    for fld in fields:
        bad = [v.mode for v in fld.validators
               if v.mode not in ("full", "partial", "exclude")]
        if bad:
            raise ValueError(bad[0])
        for lb in (fld.choices if fld.choices else [fld.description or fld.name]):
            cfg_rows.append((
                lb, fld.name, fld.dtype,
                [v.pattern for v in fld.validators if v.mode == "full"],
                [v.pattern for v in fld.validators if v.mode == "partial"],
                [v.pattern for v in fld.validators if v.mode == "exclude"],
            ))
    return spark.createDataFrame(
        cfg_rows,
        "label string, field string, dtype string, full_pats array<string>, "
        "partial_pats array<string>, exclude_pats array<string>",
    )


def _validated_field_entities(
    ents: DataFrame, fields: list[FieldSpec]
) -> DataFrame:
    """entities joined to the broadcast label -> field config, validator-
    filtered; forall([]) is true, so validator-free fields pass all."""
    cfg = _field_config(ents.sparkSession, fields)
    keep = (
        F.forall("full_pats", lambda p: F.regexp_like(
            "entity", F.concat(F.lit("^(?:(?i)"), p, F.lit(")$"))))
        & F.forall("partial_pats", lambda p: F.regexp_like(
            "entity", F.concat(F.lit("(?i)"), p)))
        & F.forall("exclude_pats", lambda p: ~F.regexp_like(
            "entity", F.concat(F.lit("(?i)"), p)))
    )
    return ents.join(F.broadcast(cfg), "label").where(keep)


def _ordered_field_values(
    kept: DataFrame, id_col: str
) -> DataFrame:
    """-> (id, field, label, dtype, __o) with __o the (start asc, score
    desc) ordered struct list — the SpanDecoder output order."""
    ordered = F.sort_array(F.collect_list(F.struct(
        F.col("start"), (-F.col("score")).alias("negscore"), F.col("entity"))))
    return kept.groupBy(id_col, "field", "label", "dtype").agg(
        ordered.alias("__o")
    )


def structure_from_entities(
    ents: DataFrame,
    structure_name: str,
    fields: list[FieldSpec],
    counts: DataFrame | None = None,
    max_count: int = 20,
    id_col: str = "doc_id",
) -> DataFrame:
    """Post-extraction half of the fused structure path: validated field
    entities -> per-(doc, field, label) ordered values -> dtype-projected
    long rows. Takes an existing entity DataFrame so a multi-task run can
    share one extraction pass across tasks."""
    agg = _ordered_field_values(_validated_field_entities(ents, fields), id_col)
    values = F.transform(F.col("__o"), lambda s: s["entity"])
    capped = values
    if counts is not None:
        agg = agg.join(counts, id_col, "left")  # per-doc table: NOT broadcastable
        capped = F.slice(
            values, 1, F.coalesce("predicted_count", F.lit(max_count))
        )
    value = F.when(
        F.col("dtype") == "str", F.element_at(values, 1)
    ).otherwise(F.concat_ws("|", capped))
    return agg.select(
        id_col,
        F.lit(structure_name).alias("structure"),
        F.col("field"),
        value.alias("value"),
    )


def structure_instances(
    df: DataFrame,
    structure_name: str,
    fields: list[FieldSpec],
    backend_spec,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float | None = None,
    max_count: int = 20,
) -> DataFrame:
    """Per-INSTANCE structured rows — the count-embed semantics as a
    relational operator: the count predictor says how many instances of
    the structure a document holds, the count-embed head produces one
    label projection per instance, and instance i decodes the i-th match
    (ref Models/GLiNER2CountEmbedModel.swift:27-57 projectedEmbeddings ->
    GLiNER2SpanPipeline.swift:119-124 prefix(predictedCount); for the
    deterministic backends projection i selecting the i-th positional
    occurrence is the exact analogue). Output: one row per
    (doc, field, label, instance) with the instance's value and char
    offset, instances capped at predicted_count."""
    from glinerswift_spark.operators.extract import extract_entities

    if not fields:
        return None
    labels, groups = structure_label_groups(fields)
    ents = extract_entities(
        df, labels, backend_spec, text_col=text_col,
        id_cols=[id_col], threshold=threshold, label_groups=groups,
    )
    counts = predict_structure_counts(
        df, structure_name, backend_spec, text_col, id_col, max_count
    )
    agg = _ordered_field_values(_validated_field_entities(ents, fields), id_col)
    agg = agg.join(counts, id_col, "left")
    inst = F.posexplode(
        F.slice(
            F.col("__o"), 1, F.coalesce("predicted_count", F.lit(max_count))
        )
    )
    return agg.select(
        id_col, "field", "label", inst.alias("__i", "__s")
    ).select(
        id_col,
        F.lit(structure_name).alias("structure"),
        "field",
        "label",
        (F.col("__i") + 1).cast("int").alias("instance"),
        F.col("__s.entity").alias("value"),
        F.col("__s.start").alias("start"),
    )
