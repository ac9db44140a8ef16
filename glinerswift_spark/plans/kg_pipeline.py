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
    the one place the KG stage sequence is written: extract (skipped when
    the caller passes ``entities``) -> triples (one shuffle of entity
    rows on the doc key, then the fused path's per-document sweep) ->
    fold of a prior snapshot (when the caller passes ``prior``) -> linking ->
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

from glinerswift_spark.config import Configuration, DEFAULT_CONFIG, RelationConfig
from glinerswift_spark.operators.extract import extract_entities
from glinerswift_spark.operators.relations import (
    build_pred_codes,
    coded_triples_frame,
    entities_to_triples,
    triple_output_schema,
)
from glinerswift_spark.scoring.backends import get_backend
from glinerswift_spark.scoring.pipeline import extract_documents_batch


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
        backend = get_backend(backend_spec)
        pred_codes = build_pred_codes(rcfg)
        for pdf in batches:
            # cross-document batched scoring when the backend supports it
            # (neural path: one BiLSTM/FFN batch pass per 64 docs);
            # falls back to per-doc extract_document otherwise
            ents_per_doc = extract_documents_batch(
                pdf[text_col].tolist(), labels, backend, threshold=threshold,
                config=config,
            )
            yield coded_triples_frame(
                cols, pdf[doc_col].to_numpy(), ents_per_doc, pred_codes,
                rcfg.window_chars,
            )

    from glinerswift_spark.sources.pages import widen_small_scan

    # widen when the scan is narrower than core count (no-op at scale);
    # the triple OUTPUT is never shuffled — zero exchanges above the UDF
    return (
        widen_small_scan(df.select(doc_col, text_col), doc_col)
        .mapInPandas(run, schema=out_schema)
    )


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
    prior: tuple[DataFrame, DataFrame] | None = None,
) -> dict:
    """Full north-rule pipeline: documents -> entities -> triples ->
    linking -> connected components -> nodes/edges. Triples come from
    operators/relations.entities_to_triples, which runs the same
    per-document emitter as extract_triples_fused. Returns every
    intermediate as a DataFrame. The call runs one eager Spark job, the
    mentions lineage cut attach_embeddings makes (extraction + embedding
    join), then the connected-components rounds inside link_mentions;
    the rest is lazy, and no plan built on ``mentions`` replays
    extraction.

    ``entities`` injects a precomputed extraction relation (persisted,
    or a checkpointed stage read back from parquet) and skips
    extraction, so a caller holding one materialized pass fans out
    without re-extracting.

    ``prior=(mentions, triples)`` folds in a previous build's published
    snapshot: ``documents`` (or ``entities``) is then only the new crawl
    batch, extraction runs on it alone, and the global stages (LSH
    blocking + cosine verify + connected components + node/edge
    aggregation) re-run over the union, because linking is
    corpus-global (a new mention can merge two old clusters). The
    result equals a full rebuild: extraction is per-document, every
    later stage is a pure function of the union, and deterministic ids
    (mention_id = 'doc:start:end:label', canonical = min id) make the
    re-link reproduce the full build's ids exactly (pinned by
    tests/test_kg_pipeline.py::test_incremental_update_equals_full_rebuild).
    With a prior, ``mentions`` and ``triples`` are cumulative and
    ``entities`` is the new batch's."""
    from glinerswift_spark.operators.graph import (
        materialize_edges,
        mentions_from_entities,
        surface_to_canonical,
    )
    from glinerswift_spark.operators.linking import link_mentions

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
    mentions = attach_embeddings(
        mentions_from_entities(entities, doc_col), embeddings
    )
    triples = entities_to_triples(entities, relation_cfg, doc_col=doc_col)
    if prior is not None:
        prior_mentions, prior_triples = prior
        mentions = prior_mentions.unionByName(mentions)
        triples = prior_triples.unionByName(triples)
    mention_map, nodes, verified = link_mentions(mentions, linking_cfg)
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


def top_relations(triples: DataFrame) -> DataFrame:
    """Headline aggregate: most frequent (subj, pred, obj) edges."""
    return (
        triples.groupBy("subj", "pred", "obj")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("score"), 4).alias("avg_score"))
        .orderBy(F.desc("n"), "subj", "pred", "obj")
    )
