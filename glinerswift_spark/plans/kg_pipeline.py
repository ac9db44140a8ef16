"""Flagship KG-construction pipeline compositions.

Two equivalent shapes:

``extract_triples_fused``
    documents -> mapInPandas(chunk + score + NMS + merge + relation
    templating) -> triples. ZERO shuffles from scan to triples — the whole
    per-document dataflow runs inside one task. This is the 100 TB path:
    at a trillion documents, any per-stage materialization/shuffle of
    entity rows would dominate; fusing keeps the only shuffles in the
    (much smaller) downstream graph stages.

``build_kg``
    the composable version: extract -> triples (self-join) -> linking ->
    connected components -> nodes/edges. Each stage is a pure
    DataFrame -> DataFrame transform (foreachBatch-compatible), except
    one: ``attach_embeddings`` returns the mentions relation as a
    materialized lineage cut. Every linking output (surfaces, mention
    map, nodes, edges) and the job's mentions snapshot reads mentions,
    and Spark reuses no common subexpression across those plans, so a
    lazy mentions relation would replay the extraction UDF in each of
    them.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from glinerswift_spark.config import Configuration, DEFAULT_CONFIG, RelationConfig
from glinerswift_spark.operators.extract import extract_entities
from glinerswift_spark.operators.relations import (
    build_pred_codes,
    emit_triples_coded,
    entities_to_triples,
)
from glinerswift_spark.scoring.backends import get_backend
from glinerswift_spark.scoring.pipeline import extract_document, extract_documents_batch


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


def extract_triples_fused(
    df: DataFrame,
    labels: list[str],
    backend_spec,
    text_col: str = "text",
    doc_col: str = "doc_id",
    threshold: float | None = None,
    config: Configuration = DEFAULT_CONFIG,
    relation_cfg: RelationConfig | None = None,
) -> DataFrame:
    """documents -> triples with zero shuffles (single mapInPandas stage)."""
    rcfg = relation_cfg or RelationConfig()
    labels = list(labels)
    out_schema = triple_output_schema(df, doc_col)
    cols = [f.name for f in out_schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        backend = get_backend(backend_spec)
        pred_cats, tmap = build_pred_codes(rcfg)
        window = rcfg.window_chars

        for pdf in batches:
            docs_np = pdf[doc_col].to_numpy()
            texts = pdf[text_col]
            # dictionary-encode the (heavily repeated) string columns AS
            # codes while emitting: surface/pred appends are small cached
            # ints, not strings, and Categorical.from_codes skips the
            # factorization pass. Arrow then ships int codes + a small
            # per-batch dictionary — at ~100 triples/doc this cuts both
            # the python->JVM IPC volume and the per-triple Python object
            # churn (the measured scaling bottleneck: allocator/kernel
            # time, not compute).
            surf_code: dict[str, int] = {}
            subj_c: list[int] = []
            pred_c: list[int] = []
            obj_c: list[int] = []
            scores: list[float] = []
            counts = np.zeros(len(pdf), dtype=np.int64)
            # cross-document batched scoring when the backend supports it
            # (neural path: one BiLSTM/FFN batch pass per 64 docs);
            # falls back to per-doc extract_document otherwise
            ents_per_doc = extract_documents_batch(
                texts.tolist(), labels, backend, threshold=threshold,
                config=config,
            )
            for i, ents in enumerate(ents_per_doc):
                counts[i] = emit_triples_coded(
                    ents, tmap, window, surf_code, subj_c, pred_c, obj_c, scores
                )
            cats = list(surf_code)
            yield pd.DataFrame(
                {
                    cols[0]: pd.Categorical.from_codes(subj_c, cats),
                    cols[1]: pd.Categorical.from_codes(pred_c, pred_cats),
                    cols[2]: pd.Categorical.from_codes(obj_c, cats),
                    cols[3]: np.repeat(docs_np, counts),
                    cols[4]: scores,
                }
            )

    from glinerswift_spark.sources.pages import widen_small_scan

    # widen when the scan is narrower than core count (no-op at scale);
    # the triple OUTPUT is never shuffled — zero exchanges above the UDF
    return (
        widen_small_scan(df.select(doc_col, text_col), doc_col)
        .mapInPandas(run, schema=out_schema)
    )


def extract_and_link(
    documents: DataFrame,
    labels: list[str],
    backend_spec,
    text_col: str = "text",
    doc_col: str = "doc_id",
    threshold: float | None = None,
    config: Configuration = DEFAULT_CONFIG,
    relation_cfg: RelationConfig | None = None,
    entities: DataFrame | None = None,
):
    """Composable flagship: returns (entities, triples) DataFrames.

    ``entities`` injects a precomputed (possibly persisted) extraction
    relation — extraction is per-document, so a caller holding one
    session-cached pass can fan out N downstream analytics without
    paying N extraction re-runs (Spark shares no common subexpressions
    across separately-built DataFrames)."""
    if entities is None:
        entities = extract_entities(
            documents,
            labels,
            backend_spec,
            text_col=text_col,
            id_cols=[doc_col],
            threshold=threshold,
            config=config,
        )
    triples = entities_to_triples(entities, relation_cfg, doc_col=doc_col)
    return entities, triples


def attach_embeddings(
    mentions: DataFrame, embeddings: DataFrame, n_vecs: int | None = None
) -> DataFrame:
    """Deterministic surface->embedding assignment (FIXTURES.md §5): each
    distinct lowercased surface maps to
    embeddings[int(md5(surface)[:8], 16) % N]. Same surface => identical
    vector => cosine 1.0, so linking clusters same-surface mentions across
    documents; distinct surfaces get pseudo-random vectors. md5 (not
    xxhash64) so the DuckDB oracle replays the assignment exactly:
    CAST(concat('0x', substring(md5(surface), 1, 8)) AS BIGINT) % N.
    The embeddings side is broadcast (it is the small dimension table).

    Returns a materialized lineage cut, not a lazy plan, so calling it
    runs one Spark job: the whole KG tail fans out from mentions, and the
    cut runs extraction once instead of once per consumer."""
    if n_vecs is None:
        n_vecs = embeddings.count()
    keyed = mentions.withColumn(
        "vec_id",
        F.pmod(
            F.conv(F.substring(F.md5(F.lower(F.col("text"))), 1, 8), 16, 10).cast(
                "long"
            ),
            F.lit(n_vecs),
        ),
    )
    emb = embeddings.select("vec_id", "embedding")
    # a cut, not persist(): a persisted plan stays in the cache manager,
    # and once its blocks are unpersisted by handle every consumer replays
    return (
        keyed.join(F.broadcast(emb), "vec_id", "left")
        .drop("vec_id")
        .localCheckpoint(eager=True)
    )


def build_kg(
    documents: DataFrame,
    embeddings: DataFrame,
    labels: list[str],
    backend_spec,
    text_col: str = "text",
    doc_col: str = "doc_id",
    threshold: float | None = None,
    config: Configuration = DEFAULT_CONFIG,
    relation_cfg: RelationConfig | None = None,
    linking_cfg=None,
    entities: DataFrame | None = None,
) -> dict:
    """Full north-rule pipeline: documents -> entities -> triples ->
    linking -> connected components -> nodes/edges. Returns every
    intermediate as a DataFrame, each a pure transform except
    ``mentions``: it is the lineage cut attach_embeddings makes, so this
    call runs one eager Spark job (extraction + embedding join). See
    operators/checkpoint.py for the resumable materialization wrapper.
    ``entities`` (optional) skips the extraction stage — see
    extract_and_link."""
    from glinerswift_spark.config import LinkingConfig
    from glinerswift_spark.operators.graph import (
        materialize_edges,
        mentions_from_entities,
        surface_to_canonical,
    )
    from glinerswift_spark.operators.linking import link_mentions

    lcfg = linking_cfg or LinkingConfig()
    entities, triples = extract_and_link(
        documents, labels, backend_spec,
        text_col=text_col, doc_col=doc_col, threshold=threshold,
        config=config, relation_cfg=relation_cfg, entities=entities,
    )
    mentions = attach_embeddings(
        mentions_from_entities(entities, doc_col), embeddings
    )
    mention_map, nodes, verified = link_mentions(mentions, lcfg)
    surface_map = surface_to_canonical(
        mentions.join(mention_map, "mention_id")
    )
    edges = materialize_edges(triples, surface_map, doc_col)
    return {
        "entities": entities,
        "triples": triples,
        "mentions": mentions,
        "mention_map": mention_map,
        "nodes": nodes,
        "edges": edges,
        "verified_pairs": verified,
    }


def update_kg(
    prior_mentions: DataFrame,
    prior_triples: DataFrame,
    new_documents: DataFrame,
    embeddings: DataFrame,
    labels: list[str],
    backend_spec,
    text_col: str = "text",
    doc_col: str = "doc_id",
    threshold: float | None = None,
    config: Configuration = DEFAULT_CONFIG,
    relation_cfg: RelationConfig | None = None,
    linking_cfg=None,
) -> dict:
    """Incremental KG maintenance: a new crawl batch arrives AFTER a full
    build. Extraction — the dominant cost, mapInPandas over every page —
    runs ONLY on the new documents; the prior run's materialized
    `mentions` / `triples` relations (parquet from the checkpointed
    stages) are unioned in, and the comparatively cheap GLOBAL stages
    (LSH blocking + cosine verify + connected components + node/edge
    aggregation) re-run over the union, because linking is inherently
    corpus-global (a new mention can merge two old clusters).

    Equivalence to a full rebuild is structural, and pinned by test
    (tests/test_kg_pipeline.py::test_incremental_update_equals_full_rebuild):
    extraction is per-document (old docs' mentions/triples are identical
    either way) and every downstream stage is a pure function of the
    union. Deterministic ids (mention_id = 'doc:start:end:label',
    canonical = min id) make the re-link reproduce the full build's ids
    exactly — re-running a batch is idempotent, per the north rule.

    The new batch's mentions are a lineage cut (see attach_embeddings),
    so this call runs one eager Spark job over the new documents.
    """
    from glinerswift_spark.config import LinkingConfig
    from glinerswift_spark.operators.graph import (
        materialize_edges,
        mentions_from_entities,
        surface_to_canonical,
    )
    from glinerswift_spark.operators.linking import link_mentions

    lcfg = linking_cfg or LinkingConfig()
    new_entities, new_triples = extract_and_link(
        new_documents, labels, backend_spec,
        text_col=text_col, doc_col=doc_col, threshold=threshold,
        config=config, relation_cfg=relation_cfg,
    )
    new_mentions = attach_embeddings(
        mentions_from_entities(new_entities, doc_col), embeddings
    )
    mentions = prior_mentions.unionByName(new_mentions)
    triples = prior_triples.unionByName(new_triples)
    mention_map, nodes, verified = link_mentions(mentions, lcfg)
    surface_map = surface_to_canonical(
        mentions.join(mention_map, "mention_id")
    )
    edges = materialize_edges(triples, surface_map, doc_col)
    return {
        "mentions": mentions,
        "triples": triples,
        "mention_map": mention_map,
        "nodes": nodes,
        "edges": edges,
        "verified_pairs": verified,
    }


def top_relations(triples: DataFrame) -> DataFrame:
    """Headline aggregate: most frequent (subj, pred, obj) edges."""
    return (
        triples.groupBy("subj", "pred", "obj")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("score"), 4).alias("avg_score"))
        .orderBy(F.desc("n"), "subj", "pred", "obj")
    )
