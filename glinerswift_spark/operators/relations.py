"""[NORTH-RULE, no ref] relation templating: entities -> (subj, pred, obj) triples.

Deterministic semantics (see config.RelationConfig): within one document,
an ordered entity pair (a before b: a.start < b.start, or equal start and
a.end < b.end) whose gap ``b.start - a.end`` is in [0, window_chars] and
whose (a.label, b.label) has a template emits
(subj=a.entity, pred=template, obj=b.entity, score=min(a.score, b.score)).

One engine emitter holds the rule: ``emit_triples_coded``, a windowed
sweep over one document's entities sorted by (start, end), linear in
entities x window. ``coded_triples_frame`` runs it over a batch of
documents and is the only caller, shared by both triple paths:
``entities_to_triples`` (entity rows -> one shuffle on the doc key ->
per-document sweep) and plans/kg_pipeline.extract_triples_fused
(extraction and the sweep in one task, zero shuffles).
``triples_from_entity_list`` is the plain reading of the rule, kept as
the spec the tests and perfbench check the engine against.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from glinerswift_spark.config import RelationConfig
from glinerswift_spark.scoring.core import Entity


def triple_output_schema(df: DataFrame, doc_col: str) -> StructType:
    (doc_field,) = [f for f in df.schema.fields if f.name == doc_col]
    return StructType(
        [
            StructField("subj", StringType()),
            StructField("pred", StringType()),
            StructField("obj", StringType()),
            doc_field,
            StructField("score", DoubleType()),
        ]
    )


def entities_to_triples(
    entities: DataFrame,
    cfg: RelationConfig | None = None,
    doc_col: str = "doc_id",
) -> DataFrame:
    """entities(doc..., label, entity, score, start, end) -> triples.

    One shuffle of entity rows on the doc key puts each document's rows
    in one partition, contiguous after the sort; the sweep then emits
    each document's triples once all its rows are in hand. A document's
    rows can span Arrow batches, so the rows of a batch's last document
    wait for the next batch, or for the end of the partition. Rows with
    a null doc key match no document and emit nothing."""
    cfg = cfg or RelationConfig()
    cols = [doc_col, "label", "entity", "score", "start", "end"]
    rows = entities.where(F.col(doc_col).isNotNull()).select(*cols)
    out_schema = triple_output_schema(rows, doc_col)
    out_cols = [f.name for f in out_schema.fields]

    def sweep_triples(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pred_codes = build_pred_codes(cfg)

        def first_rows(docs):
            return np.flatnonzero(np.r_[True, docs[1:] != docs[:-1]])

        def emit(frames: list[pd.DataFrame]) -> pd.DataFrame:
            pdf = pd.concat(frames, ignore_index=True)
            docs = pdf[doc_col].to_numpy()
            firsts = first_rows(docs)
            ents = list(map(Entity, pdf["entity"].tolist(), pdf["label"].tolist(),
                            pdf["score"].tolist(), pdf["start"].tolist(),
                            pdf["end"].tolist()))
            bounds = [*firsts.tolist(), len(ents)]
            ents_per_doc = [ents[a:b] for a, b in zip(bounds, bounds[1:])]
            return coded_triples_frame(
                out_cols, docs[firsts], ents_per_doc, pred_codes, cfg.window_chars
            )

        pending: list[pd.DataFrame] = []  # the rows of one open document
        for pdf in batches:
            if pdf.empty:
                continue
            docs = pdf[doc_col].to_numpy()
            tail = int(first_rows(docs)[-1])  # the batch's last document
            if tail > 0 or (pending and pending[0][doc_col].iat[0] != docs[0]):
                yield emit([*pending, pdf.iloc[:tail]])
                pending = []
            pending.append(pdf.iloc[tail:])
        if pending:
            yield emit(pending)

    return (
        rows.repartition(F.col(doc_col))
        .sortWithinPartitions(doc_col)
        .mapInPandas(sweep_triples, schema=out_schema)
    )


def build_pred_codes(cfg: RelationConfig):
    """(pred_categories, label_a -> {label_b: pred_code}) for the coded
    emitter — two dict hits per candidate pair instead of a per-pair
    (label_a, label_b) tuple allocation."""
    pred_cats: list[str] = []
    pred_code_of: dict[str, int] = {}
    tmap: dict[str, dict[str, int]] = {}
    for (la, lb), p in cfg.templates.items():
        code = pred_code_of.get(p)
        if code is None:
            code = pred_code_of[p] = len(pred_cats)
            pred_cats.append(p)
        tmap.setdefault(la, {})[lb] = code
    return pred_cats, tmap


def coded_triples_frame(
    cols: list[str], doc_ids, ents_per_doc, pred_codes, window: int
) -> pd.DataFrame:
    """One triples frame (columns ``cols``: subj, pred, obj, doc, score)
    from a batch of documents: ``doc_ids[i]``'s entities are
    ``ents_per_doc[i]``, and ``pred_codes`` is build_pred_codes' output.

    The (heavily repeated) string columns are dictionary-encoded AS
    codes while emitting: surface/pred appends are small cached ints,
    not strings, and Categorical.from_codes skips the factorization
    pass. Arrow then ships int codes + a small per-batch dictionary — at
    ~100 triples/doc this cuts both the python->JVM IPC volume and the
    per-triple Python object churn (the measured scaling bottleneck:
    allocator/kernel time, not compute)."""
    pred_cats, tmap = pred_codes
    surf_code: dict[str, int] = {}
    subj_c: list[int] = []
    pred_c: list[int] = []
    obj_c: list[int] = []
    scores: list[float] = []
    counts = np.zeros(len(ents_per_doc), dtype=np.int64)
    for i, ents in enumerate(ents_per_doc):
        counts[i] = emit_triples_coded(
            ents, tmap, window, surf_code, subj_c, pred_c, obj_c, scores
        )
    cats = list(surf_code)
    return pd.DataFrame(
        {
            cols[0]: pd.Categorical.from_codes(subj_c, cats),
            cols[1]: pd.Categorical.from_codes(pred_c, pred_cats),
            cols[2]: pd.Categorical.from_codes(obj_c, cats),
            cols[3]: np.repeat(doc_ids, counts),
            cols[4]: scores,
        }
    )


def emit_triples_coded(
    entities: list,
    tmap: dict,
    window: int,
    surf_code: dict,
    subj_c: list,
    pred_c: list,
    obj_c: list,
    scores: list,
) -> int:
    """The engine's relation emitter for one document, dictionary-coded:
    appends (subj_code, pred_code, obj_code, score) to the caller's
    batch-level accumulators, interning surface strings in
    ``surf_code``. All appends are small ints / existing floats — no
    per-triple tuples or strings (per-triple Python allocation is the
    measured N->4N scaling bottleneck). Its triples and their order are
    the spec's, triples_from_entity_list (tests assert it). Returns the
    number of triples emitted. ``entities`` are mutated (sorted in place
    by (start, end))."""
    entities.sort(key=lambda e: (e.start, e.end))
    n_ents = len(entities)
    emitted = 0
    for ai in range(n_ents):
        ea = entities[ai]
        row = tmap.get(ea.label)
        ea_start, ea_end, ea_score = ea.start, ea.end, ea.score
        sc = -1  # subj surface code, assigned on first emission
        for bi in range(ai + 1, n_ents):
            eb = entities[bi]
            gap = eb.start - ea_end
            if gap > window:
                break  # sorted by start: gap only grows
            if gap < 0 or row is None:
                continue
            if not (ea_start < eb.start or (ea_start == eb.start and ea_end < eb.end)):
                continue
            pcode = row.get(eb.label)
            if pcode is None:
                continue
            if sc < 0:
                sc = surf_code.get(ea.text, -1)
                if sc < 0:
                    sc = surf_code[ea.text] = len(surf_code)
            oc = surf_code.get(eb.text, -1)
            if oc < 0:
                oc = surf_code[eb.text] = len(surf_code)
            subj_c.append(sc)
            pred_c.append(pcode)
            obj_c.append(oc)
            scores.append(eb.score if eb.score < ea_score else ea_score)
            emitted += 1
    return emitted


def triples_from_entity_list(entities: list, cfg: RelationConfig, doc_id) -> list[tuple]:
    """The relation rule as a spec: the plain per-pair reading the
    engine's emitter (emit_triples_coded, behind both triple paths) is
    checked against. Output tuples: (subj, pred, obj, doc, score).
    ``entities`` are scoring.core.Entity, already NMS'd/merged.
    """
    out = []
    ents = sorted(entities, key=lambda e: (e.start, e.end))
    for i, ea in enumerate(ents):
        for eb in ents[i + 1 :]:
            gap = eb.start - ea.end
            if gap > cfg.window_chars:
                break  # ents sorted by start: gap only grows
            if gap < 0:
                continue
            if not (ea.start < eb.start or (ea.start == eb.start and ea.end < eb.end)):
                continue
            pred = cfg.templates.get((ea.label, eb.label))
            if pred is not None:
                out.append((ea.text, pred, eb.text, doc_id, min(ea.score, eb.score)))
    return out
