"""[NORTH-RULE, no ref] entity linking: blocking -> verification -> canonicalization.

mentions(mention_id, url, text, label, embedding) ->
  1. blocking: MinHash-LSH over character shingles of the lowercased
     surface form (same banded-min-md5 construction as document dedup) —
     candidate pairs only ever come from an equi-join on (band, sig),
     never an all-pairs join; same-label pairs only.
  2. verification: cosine(embedding_a, embedding_b) >= threshold
     (cosine math mirrors ref Inference/SimilarityScorer.swift:77-100).
  3. canonicalization: connected components over verified pairs;
     canonical_id = min(mention_id) in the component.

Output: nodes(canonical_id, label, surface_forms, n_mentions),
        mention_map(mention_id -> canonical_id).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F

from glinerswift_spark.config import LinkingConfig
from glinerswift_spark.functions.hashing import (
    band_signatures,
    cosine,
    shingle_hashes,
)
from glinerswift_spark.operators.components import connected_components


def char_shingles(col, n: int):
    lower = F.lower(col)
    idx = F.sequence(F.lit(1), F.greatest(F.length(lower) - (n - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: F.substr(lower, i, F.lit(n))))


def mention_signatures(
    mentions: DataFrame, cfg: LinkingConfig | None = None
) -> DataFrame:
    """(mention_id, label, band, sig): one row per LSH band of the
    lowercased surface's character shingles."""
    cfg = cfg or LinkingConfig()
    sh = mentions.select(
        "mention_id",
        "label",
        shingle_hashes(char_shingles(F.col("text"), cfg.shingle_size)).alias("__h"),
    )
    return sh.select(
        "mention_id", "label", band_signatures(F.col("__h"), cfg.num_bands).alias("bs")
    ).select("mention_id", "label", "bs.band", "bs.sig")


def mention_candidate_pairs(sigs: DataFrame) -> DataFrame:
    """(mention_a, mention_b) candidates: same label, shared LSH band sig.
    Both self-join halves read ``sigs``: persist it so the per-mention
    shingle md5 work runs once (see dedup.minhash_candidate_pairs)."""
    a = sigs.select("label", "band", "sig", F.col("mention_id").alias("mention_a"))
    b = sigs.select("label", "band", "sig", F.col("mention_id").alias("mention_b"))
    return (
        a.join(b, ["label", "band", "sig"])
        .where(F.col("mention_a") < F.col("mention_b"))
        .select("mention_a", "mention_b")
        .distinct()
    )


def verify_pairs_by_cosine(
    pairs: DataFrame, mentions: DataFrame, cfg: LinkingConfig | None = None
) -> DataFrame:
    """Join candidate pairs to embeddings twice; keep cosine >= threshold."""
    cfg = cfg or LinkingConfig()
    ea = mentions.select(
        F.col("mention_id").alias("mention_a"), F.col("embedding").alias("__ea")
    )
    eb = mentions.select(
        F.col("mention_id").alias("mention_b"), F.col("embedding").alias("__eb")
    )
    c = cosine(F.col("__ea"), F.col("__eb"))
    return (
        pairs.join(ea, "mention_a")
        .join(eb, "mention_b")
        .select("mention_a", "mention_b", F.round(c, 6).alias("cos"))
        .where(F.col("cos") >= cfg.cosine_threshold)
    )


def link_mentions(mentions: DataFrame, cfg: LinkingConfig | None = None):
    """Full linking stage -> (mention_map, nodes, verified_pairs).

    Scale-critical design: blocking/verification/CC run over DISTINCT
    (lowercased surface, label) pairs, NOT raw mentions. Mention counts
    follow a Zipf law — one hot surface can have millions of mentions, and
    mention-level LSH buckets would go quadratic in exactly those cases.
    Collapsing first is semantics-preserving (identical surfaces share
    identical shingles and — via the deterministic surface->embedding
    assignment — identical embeddings, so they always land in one cluster)
    and makes linking cost scale with VOCABULARY size, not corpus size.
    canonical_id is still min(mention_id) over the whole component.
    """
    cfg = cfg or LinkingConfig()
    surfaces = mentions.groupBy(
        F.lower(F.col("text")).alias("surface"), "label"
    ).agg(
        F.min("mention_id").alias("surface_id"),
        F.min_by("embedding", "mention_id").alias("embedding"),
    )
    sdf = surfaces.select(
        F.col("surface_id").alias("mention_id"),
        F.col("surface").alias("text"),
        "label",
        "embedding",
    )
    sigs = mention_signatures(sdf, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    pairs = mention_candidate_pairs(sigs)
    verified = verify_pairs_by_cosine(pairs, sdf, cfg)
    cc = connected_components(
        verified, src="mention_a", dst="mention_b",
        max_iterations=cfg.max_cc_iterations,
    )
    # connected_components checkpointed the verified edges first thing,
    # so nothing reads sigs again; the returned ``verified`` plan
    # recomputes from its lineage
    sigs.unpersist()
    surface_canon = surfaces.join(
        cc.withColumnRenamed("node", "surface_id"), "surface_id", "left"
    ).select(
        "surface",
        "label",
        F.coalesce("component", "surface_id").alias("canonical_id"),
    )
    mention_map = (
        mentions.withColumn("surface", F.lower(F.col("text")))
        .join(surface_canon, ["surface", "label"])
        .select("mention_id", "canonical_id")
    )
    nodes = (
        mentions.join(mention_map, "mention_id")
        .groupBy("canonical_id", "label")
        .agg(
            F.sort_array(F.collect_set("text")).alias("surface_forms"),
            F.count(F.lit(1)).alias("n_mentions"),
        )
    )
    return mention_map, nodes, verified
