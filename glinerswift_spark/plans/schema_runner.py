"""Single-pass multi-task schema execution.

The reference runs entities + classifications + structures off ONE
encoding per document (ref API/GLiNER2.swift:80-163). The Spark analogue:
every span-scoring task — the entity task and every structure field —
shares ONE extraction pass over the union of their labels; the split
back into tasks is a broadcast label-config join downstream.
ALL classification tasks run fused in one document-level classifier-head
pass (operators/classify.classify_documents), which computes no
span representations at all — a single second, much cheaper pass
regardless of how many classification tasks the schema declares.

Per-task thresholds apply AFTER the shared pass: extraction runs at the
minimum threshold any task needs, each task re-filters to its own. That
is exactly the reference's structure too — one encoding, per-task
decoding thresholds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from glinerswift_spark.schema import Schema


def run_schema(
    df: DataFrame,
    schema: Schema,
    backend_spec,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    use_count_predictor: bool = False,
    max_count: int = 20,
) -> dict:
    """Execute every task a Schema declares over one corpus scan.

    Returns {"entities": DF | None, "classifications": DF | None,
    "structures": DF | None} — long-format rows per task, with all
    span-scoring tasks fed by a single extract_entities pass.
    """
    from glinerswift_spark.operators.classify import (
        classify_documents,
        predict_structure_counts,
        structure_from_entities,
        structure_label_groups,
        structure_labels,
    )
    from glinerswift_spark.operators.extract import extract_entities
    from glinerswift_spark.operators.thresholds import apply_label_thresholds

    entity_labels = schema.entity_labels
    per_label = schema.entity_thresholds

    # task groups: the entity task is group 0 (flat NMS across its
    # labels, the single-task reference behavior); every structure FIELD
    # is its own group (the reference extracts per field) — one scoring
    # pass, per-task NMS isolation
    union_labels = list(entity_labels)
    union_groups = [0] * len(entity_labels)
    next_group = 1
    for st in schema.structure_specs:
        st_labels, st_groups = structure_label_groups(st.fields, base=next_group)
        next_group += len(st.fields)
        for lb, g in zip(st_labels, st_groups):
            if lb not in union_labels:
                union_labels.append(lb)
                union_groups.append(g)

    entities = structures = None
    if union_labels:
        # one shared pass at the LOOSEST threshold any task needs;
        # post-filtering to each task's threshold is exact: a greedy-NMS
        # suppressor always outscores what it suppresses, so every
        # surviving row >= tau is exactly what NMS-at-tau would keep
        floor = min([threshold, *per_label.values()]) if per_label else threshold
        ents_all = extract_entities(
            df, union_labels, backend_spec, text_col=text_col,
            id_cols=[id_col], threshold=floor, label_groups=union_groups,
        )
        if entity_labels:
            entities = ents_all.where(F.col("label").isin(entity_labels))
            entities = apply_label_thresholds(entities, per_label, threshold)
        st_parts = []
        for st in schema.structure_specs:
            st_labels = structure_labels(st.fields)
            st_ents = ents_all.where(
                (F.col("label").isin(st_labels))
                & (F.col("score") >= threshold)
            )
            counts = (
                predict_structure_counts(
                    df, st.name, backend_spec, text_col, id_col, max_count
                )
                if use_count_predictor
                else None
            )
            st_parts.append(structure_from_entities(
                st_ents, st.name, st.fields, counts=counts,
                max_count=max_count, id_col=id_col,
            ))
        if st_parts:
            structures = st_parts[0]
            for p in st_parts[1:]:
                structures = structures.unionByName(p)

    # all classification tasks fused into ONE head-only pass
    classifications = None
    if schema.classification_specs:
        classifications = classify_documents(
            df, schema.classification_specs, backend_spec, text_col, id_col
        )

    return {
        "entities": entities,
        "classifications": classifications,
        "structures": structures,
    }
