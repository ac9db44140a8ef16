"""Deduplication operators over a documents table.

Training-data-pipeline staples, each a pure DataFrame -> DataFrame
transform designed for the 100 TB shape:

  exact_dedup            hash-groupBy: one shuffle on md5(text); map-side
                         partial aggregation keeps the shuffle tiny.
  minhash_candidate_pairs
                         banded MinHash LSH: signatures computed scan-side
                         (no Python), candidates from an equi-join on
                         (band, signature) — never an all-pairs join.
  ngram_jaccard_pairs    exact verification: shared-shingle equi-join ->
                         intersection counts -> jaccard filter. Pair
                         blowup bounded by dropping shingles with document
                         frequency > max_df (boilerplate guard) before the
                         join.
  embedding_neardup_pairs
                         cosine >= tau within a blocking key (label),
                         fold-based dot product in whole-stage codegen.

All signatures/scores are recomputable in ANSI SQL — the DuckDB oracle in
__spark_entry__.py runs the same formulas verbatim.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from glinerswift_spark.functions.hashing import (
    band_signatures,
    shingle_hashes,
    shingles_expr,
    words_col,
)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct text: (text_hash, n_docs, keeper). keeper = min id."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keeper"),
        )
    )


def doc_shingles(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, shingles array) for docs with at least n words.

    Shingle construction is the CPU-dense part of every dedup operator,
    so the input is widened to core count if the scan is narrower
    (no-op at scale — see widen_small_scan)."""
    from glinerswift_spark.sources.pages import widen_small_scan

    w = words_col(text_col)
    return (
        widen_small_scan(df, id_col)
        .select(F.col(id_col), w.alias("__w"))
        .where(F.size("__w") >= n)
        .select(id_col, shingles_expr(F.col("__w"), n).alias("shingles"))
    )


def _pair_expansion(ds, make):
    """All i<j element pairs of a SORTED array column, as one flat array.

    The in-partition replacement for a bucket self-join (guide §2.4 —
    remove shuffles outright): a relation already grouped by its blocking
    key holds each bucket as one sorted array, and this expression emits
    every unordered pair exactly once (array sorted asc + i<j ⇒ first
    element < second). Width bound: callers cap the bucket size BEFORE
    collecting (max_df / max_bucket_size), so the expansion array holds
    at most k(k-1)/2 structs — the same rows the self-join would stream,
    built in one allocation instead of a sort-merge join of two branches.
    """
    k = F.size(ds)
    return F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + F.lit(2), k - i - F.lit(1)),
                lambda y: make(x, y),
            ),
        )
    )


def minhash_candidate_pairs(
    df: DataFrame,
    n: int = 3,
    num_bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int = 1000,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs (doc_a < doc_b) sharing any band signature.

    ``max_bucket_size`` drops degenerate buckets (identical boilerplate at
    web scale) before pairs are generated — the quadratic guard.

    Shape (round-6): ONE exchange of the signature relation by
    (band, sig) feeds both the bucket-size census and the candidate
    generation; surviving buckets are collected into sorted id arrays
    (buffer <= max_bucket_size ids — bounded BECAUSE the census filter
    runs first) and pairs come from an in-partition expansion
    (_pair_expansion), replacing the previous sort-merge self-join of two
    cached branches. Row set is identical: every unordered pair sharing a
    surviving (band, sig) appears exactly once per bucket, then distinct.
    """
    sh = doc_shingles(df, n, text_col, id_col) if shingles is None else shingles
    # md5 per shingle materialized ONCE as its own projection; the band
    # signatures below reference it 4x, which CollapseProject leaves
    # un-inlined (expensive expr, multiple references) — 1 hash/shingle
    # instead of num_bands
    hashed = sh.select(F.col(id_col), shingle_hashes(F.col("shingles")).alias("__h"))
    sigs = hashed.select(
        id_col, band_signatures(F.col("__h"), num_bands).alias("bs")
    ).select(id_col, "bs.band", "bs.sig")

    # the signature relation is referenced twice below (census + join
    # side); persisting it makes the scan-side md5 work run once.
    # Signatures are 4 small rows per doc — negligible next to the corpus
    # — and persist keeps a recomputable lineage (unlike localCheckpoint)
    # for executor loss at cluster scale. Both consumers shuffle by
    # (band, sig), so the exchange itself is reused too.
    from pyspark import StorageLevel

    sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)

    # census filter: buckets above the quadratic guard AND singleton
    # buckets (count == 1) — a lone doc in a bucket can produce no pair,
    # so dropping it here is result-identical and at web scale removes
    # the (dominant) unique-signature mass before any postings collect
    bounded = sigs.join(
        sigs.groupBy("band", "sig")
        .count()
        .where((F.col("count") <= max_bucket_size) & (F.col("count") >= 2))
        .select("band", "sig"),
        ["band", "sig"],
    )
    # bounded is partitioned by (band, sig) post-join: the group-collect
    # below adds NO exchange, and per-bucket buffers are <= max_bucket_size
    grp = bounded.groupBy("band", "sig").agg(
        F.sort_array(F.collect_list(F.col(id_col))).alias("__ids")
    )
    pairs = _pair_expansion(
        F.col("__ids"),
        lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
    )
    # a duplicated id sorts next to itself, so the expansion would pair
    # it with itself; input ids are meant to be unique, but dirty input
    # must not surface a self-pair
    return (
        grp.select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .where(F.col("doc_a") != F.col("doc_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int = 1000,
    hi_chunks: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for pairs with n-gram jaccard >= threshold.

    Candidates = pairs sharing >= 1 shingle with document frequency
    <= ``max_df``. The df guard is ON BY DEFAULT: one boilerplate shingle
    shared by k documents creates k^2/2 join rows, and at web scale a
    navigation footer shingle with k in the millions is a job-killer.
    The guard only prunes CANDIDATES — the jaccard itself is computed
    exactly over the FULL distinct-shingle sets, so for any pair that
    still surfaces the value is identical to the unguarded form.

    ``hi_chunks``: width bound for the high-df correction (PLANS.md
    "jaccard high-df width bound"). The default single-array form gives
    every pair row one sorted array per side whose width is the doc's
    ABOVE-max_df shingle count — fine under a production max_df that
    scales with corpus size (boilerplate is a few shingles per doc), but
    O(doc) on a boilerplate-saturated corpus. With ``hi_chunks=K`` each
    doc's high-df set is hash-split into <= K chunks (chunk =
    xxhash64(shingle) % K, consistent across docs, so per-chunk
    intersections sum EXACTLY to the total); pair rows join per matching
    chunk and a pair-keyed sum folds them back. Row width drops to
    ~|hi|/K for one extra pair-keyed aggregate; values are bit-identical
    to the unchunked form (pinned in tests/test_dedup.py).

    The verification is NARROW by construction — no row anywhere carries
    a document-sized shingle array, so join-row width stays O(1) as
    documents grow (the previous array_intersect form shipped BOTH full
    shingle arrays per candidate pair). It is also nearly FREE: shingles
    split disjointly by document frequency into guarded (df <= max_df)
    and high-df, so |A∩B| = |A∩B ∩ guarded| + |A∩B ∩ high|. The first
    term falls out of the SAME grouped pass that generates candidates
    (a pair-keyed count over the in-partition pair expansion, with
    |A|/|B| riding along as one int per row — see the round-6 comment
    below); the second term joins only the high-df slice of the exploded
    relation (boilerplate — a few shingles per doc) restricted to
    candidate pairs.

    Duplicate ids: the df guard counts distinct ids and the (doc,
    shingle) postings are deduplicated, so rows that repeat an id with
    the same text count as one document. An id repeated with DIFFERENT
    texts has no single shingle set; ids are expected to be unique
    there (dedup them at input).
    """
    from pyspark import StorageLevel

    # ONE exploded (doc, |shingles|, shingle) relation feeds the df
    # guard, both candidate sides, and the high-df correction — persist
    # it so shingling + explode run once for all scans
    sh_rel = doc_shingles(df, n, text_col, id_col) if shingles is None else shingles
    exz = (
        sh_rel
        .select(
            F.col(id_col), F.size("shingles").alias("__z"),
            F.explode("shingles").alias("sh"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # distinct ids, so a repeated id counts once here too (see
    # "Duplicate ids")
    dfreq = exz.groupBy("sh").agg(F.countDistinct(id_col).alias("count"))
    # guarded = df <= max_df AND df >= 2: a shingle appearing in ONE doc
    # can be shared by no pair, contributes nothing to any intersection
    # count (per-doc set sizes ride in __z, not in this relation), and
    # at web scale unique shingles are the dominant mass — dropping them
    # here shrinks the postings build by that mass, result-identical
    keep = dfreq.where(
        (F.col("count") <= max_df) & (F.col("count") >= 2)
    ).select("sh")
    ex = exz.join(keep, "sh")
    # Candidate generation + intersection counting in ONE grouped pass
    # (round-6, guide §2.4): the guarded exploded relation, grouped by
    # shingle, holds each shingle's (doc, |shingles|) postings as a
    # sorted array — bounded by max_df BECAUSE the df filter runs first —
    # and the shared-shingle incidence rows come from an in-partition
    # pair expansion instead of the previous sort-merge self-join of two
    # branches (two 10^6-row sorts at sf0.1; the expansion emits the
    # exact same rows straight out of the grouped partition, with the
    # (sh -> postings) groupBy riding the df-guard join's partitioning,
    # so no new exchange). Per-shingle expansion width <= C(max_df, 2)
    # structs — the same quadratic the guard already bounds. Postings
    # are a SET so a repeated id counts once (see "Duplicate ids").
    grouped = ex.groupBy("sh").agg(
        F.array_sort(
            F.collect_set(F.struct(F.col(id_col).alias("d"), F.col("__z").alias("z")))
        ).alias("__ds")
    )
    inc = _pair_expansion(
        F.col("__ds"),
        lambda x, y: F.struct(
            x["d"].alias("doc_a"),
            y["d"].alias("doc_b"),
            x["z"].alias("__za"),
            y["z"].alias("__zb"),
        ),
    )
    guarded_stats = (
        grouped.select(F.explode(inc).alias("p"))
        .select("p.*")
        .where(F.col("doc_a") != F.col("doc_b"))  # duplicate ids: see minhash
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("__ig"),
            F.max("__za").alias("__za"),
            F.max("__zb").alias("__zb"),
        )
    )
    # candidate pairs share >= 1 guarded shingle, so guarded_stats IS
    # the candidate set; correct its count with the high-df overlap.
    # Shape matters here: the previous form exploded each candidate
    # pair by docA's high-df shingles (join on doc_a) before matching
    # docB — row count |pairs| x |hi-per-docA|, all landing in ONE
    # sort-merge partition when a hot doc_a sits in millions of
    # candidate pairs (measured: a single straggler task, 30+ GB,
    # unbounded, at the 10x scale step where replication pushes most
    # shingles over the df guard). Instead: aggregate each doc's
    # high-df shingles into ONE sorted array and give every pair row
    # its two arrays via 1:1 joins — zero row amplification, skew
    # splittable by AQE, intersection computed per row. Row width is
    # bounded by the doc's HIGH-DF shingle count (boilerplate — a few
    # per doc under a production max_df that scales with corpus
    # size), not by document size.
    hikeep = dfreq.where(F.col("count") > max_df).select("sh")
    hi = exz.join(hikeep, "sh")
    if hi_chunks:
        # width-bounded variant: hash-split each doc's high-df set
        # into <= hi_chunks rows. chunk = xxhash64(sh) % K is the
        # SAME for a shingle in every doc, so Ahi∩Bhi partitions
        # disjointly by chunk and the per-chunk intersect sizes sum
        # exactly. Missing chunks (either side) contribute 0 via the
        # inner chunk join + left pair join below.
        hic = (
            hi.withColumn(
                "__c", F.pmod(F.xxhash64("sh"), F.lit(hi_chunks)).cast("int")
            )
            .groupBy(id_col, "__c")
            .agg(F.sort_array(F.collect_set("sh")).alias("__hs"))
        )
        ha = hic.select(
            F.col(id_col).alias("doc_a"), "__c", F.col("__hs").alias("__ha")
        )
        hb = hic.select(
            F.col(id_col).alias("doc_b"), "__c", F.col("__hs").alias("__hb")
        )
        hi_overlap = (
            guarded_stats.select("doc_a", "doc_b")
            .join(ha, "doc_a")
            .join(hb, ["doc_b", "__c"])
            .withColumn("__ihc", F.size(F.array_intersect("__ha", "__hb")))
            .groupBy("doc_a", "doc_b")
            .agg(F.sum("__ihc").alias("__ih"))
        )
        pair_stats = (
            guarded_stats.join(hi_overlap, ["doc_a", "doc_b"], "left")
            .withColumn(
                "__i",
                F.col("__ig") + F.coalesce(F.col("__ih"), F.lit(0)).cast("long"),
            )
        )
    else:
        hi_sets = hi.groupBy(id_col).agg(
            F.sort_array(F.collect_set("sh")).alias("__hs")
        )
        ha = hi_sets.select(
            F.col(id_col).alias("doc_a"), F.col("__hs").alias("__ha")
        )
        hb = hi_sets.select(
            F.col(id_col).alias("doc_b"), F.col("__hs").alias("__hb")
        )
        pair_stats = (
            guarded_stats.join(ha, "doc_a", "left")
            .join(hb, "doc_b", "left")
            .withColumn(
                "__ih",
                F.when(
                    F.col("__ha").isNotNull() & F.col("__hb").isNotNull(),
                    F.size(F.array_intersect("__ha", "__hb")),
                ).otherwise(F.lit(0)),
            )
            .withColumn("__i", F.col("__ig") + F.col("__ih"))
        )
    jac = F.col("__i") / (F.col("__za") + F.col("__zb") - F.col("__i"))
    return pair_stats.select(
        "doc_a",
        "doc_b",
        F.round(jac, 6).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)


def contamination_counts(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    min_shared: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: (doc_id, n_shared) for corpus docs
    sharing >= ``min_shared`` distinct n-gram shingles with ANY benchmark
    document — the standard eval-leakage filter for training corpora.

    Scale shape: the benchmark shingle set is deduped first and is
    orders of magnitude smaller than the corpus (eval suites are
    thousands of docs, the corpus is billions), so the join's small side
    broadcasts (AQE) and corpus shingles stream map-side — NOTHING
    corpus-sized shuffles; only matching (doc, shingle) rows reach the
    per-doc count, with map-side partial aggregation.
    Per-doc shingles are distinct by construction, so count(*) after the
    join IS the distinct-shared count."""
    corpus = doc_shingles(df, n, text_col, id_col).select(
        F.col(id_col), F.explode("shingles").alias("sh")
    )
    bench = (
        doc_shingles(benchmark, n, text_col, id_col)
        .select(F.explode("shingles").alias("sh"))
        .distinct()
    )
    return (
        corpus.join(bench, "sh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def dedup_corpus_keep(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """The end-to-end dedup pipeline consumer: the KEPT training corpus
    after (1) exact dedup (min-id keeper per identical text) and
    (2) near-dup canonicalization (min-id representative per jaccard
    connected component). Returns (doc_id, lang, n_tokens) for survivors
    — the training-shard manifest every downstream mixture/sampling
    stage consumes.

    Scale shape: exact keepers are one md5-groupBy + a semi-join back on
    id; near-dup non-representatives are an ANTI-join against the
    component relation (bounded by #near-dup docs, a small fraction of
    the corpus — the anti-join's small side). Composes the already
    guarded/banded pair generation; nothing new shuffles corpus-wide."""
    from glinerswift_spark.operators.components import connected_components

    keepers = exact_dedup(df, text_col, id_col).select(
        F.col("keeper").alias(id_col)
    )
    pairs = ngram_jaccard_pairs(
        df, n=n, threshold=threshold, max_df=max_df,
        text_col=text_col, id_col=id_col, shingles=shingles,
    )
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    non_reps = cc.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return (
        df.join(keepers, id_col, "semi")
        .join(non_reps, id_col, "anti")
        .select(
            id_col,
            "lang",
            F.size(words_col(text_col)).alias("n_tokens"),
        )
    )


def boilerplate_ngrams(
    df: DataFrame,
    n: int = 3,
    top_n: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide boilerplate census: the top_n n-gram shingles by
    DOCUMENT frequency (ties: gram asc) — the C4-style "same line in
    many documents" detector that feeds both the ngram-jaccard max_df
    guard and line-level boilerplate stripping.

    Scale shape: per-doc shingles are distinct by construction
    (doc_shingles), so one groupBy(gram).count() IS document frequency —
    map-side partial aggregation absorbs the hot grams, and the top_n
    is a TakeOrdered, never a full sort."""
    ex = doc_shingles(df, n, text_col, id_col).select(
        F.explode("shingles").alias("gram")
    )
    return (
        ex.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), "gram")
        .limit(top_n)
    )


BLOOM_NUM_BITS = 1 << 20
BLOOM_NUM_HASHES = 4


def bloom_positions_expr(gram_col, num_bits: int = BLOOM_NUM_BITS):
    """k Bloom bit positions per gram: the 4 disjoint 8-hex slices of ONE
    md5(gram), each mod num_bits — one hash call yields all k positions
    (the md5-slicing trick the MinHash bands already use), and the
    arithmetic is replayable verbatim in ANSI SQL."""
    return F.array(*[
        (
            F.conv(F.substring(F.md5(gram_col), 1 + 8 * i, 8), 16, 10)
            .cast("long") % num_bits
        )
        for i in range(BLOOM_NUM_HASHES)
    ])


def build_bloom_bits(
    benchmark: DataFrame,
    n: int = 3,
    num_bits: int = BLOOM_NUM_BITS,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Aggregate the benchmark's n-gram Bloom filter: a numpy bool array
    of ``num_bits`` entries. The ONLY driver-side materialization is the
    distinct bit-position relation — bounded by num_bits (2^20 -> a
    128 KiB bitmap once packed), NOT by benchmark size; eval suites of
    any row count collapse to the same fixed-size filter."""
    import numpy as np

    pos = (
        doc_shingles(benchmark, n, text_col, id_col)
        .select(F.explode("shingles").alias("gram"))
        .distinct()
        .select(F.explode(bloom_positions_expr(F.col("gram"), num_bits)).alias("p"))
        .distinct()
    )
    bits = np.zeros(num_bits, dtype=bool)
    idx = np.fromiter((r["p"] for r in pos.toLocalIterator()), dtype=np.int64)
    if idx.size:
        bits[idx] = True
    return bits


def bloom_decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    min_shared: int = 1,
    num_bits: int = BLOOM_NUM_BITS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Eval-leakage filter WITHOUT a corpus-side shuffle: (doc_id,
    n_flagged) for corpus docs whose distinct n-grams hit the
    benchmark's Bloom filter >= min_shared times.

    Where contamination_counts joins corpus shingles against the
    benchmark set (fine when AQE broadcasts the eval side),
    this is the 100 TB shape: the benchmark collapses to a fixed-size
    bitmap broadcast to every executor, and the corpus plan is
    Scan -> project -> Arrow pandas UDF -> local filter — ZERO shuffle,
    zero join, one pass. False-positive rate is the standard
    (1-e^(-kn/m))^k, and the decision procedure is EXACTLY replayable
    (oracle included, false positives and all) because the positions are
    md5 arithmetic, not a seeded private hash.

    Bit positions are computed JVM-side (bloom_positions_expr, one md5
    per gram); the Python side only does the numpy bitmap gather."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    bits = build_bloom_bits(benchmark, n, num_bits, text_col, id_col)
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(bits)
    k = BLOOM_NUM_HASHES

    @pandas_udf("int")
    def n_flagged(pos_lists: pd.Series) -> pd.Series:
        b = bc.value
        out = np.empty(len(pos_lists), dtype=np.int32)
        for i, doc_pos in enumerate(pos_lists):
            if doc_pos is None or len(doc_pos) == 0:
                out[i] = 0
                continue
            flat = np.concatenate([np.asarray(p, dtype=np.int64) for p in doc_pos])
            hits = b[flat].reshape(-1, k)
            out[i] = int(hits.all(axis=1).sum())
        return pd.Series(out)

    pos = doc_shingles(df, n, text_col, id_col).select(
        F.col(id_col),
        F.transform(
            "shingles", lambda g: bloom_positions_expr(g, num_bits)
        ).alias("__pos"),
    )
    return (
        pos.select(id_col, n_flagged(F.col("__pos")).alias("n_flagged"))
        .where(F.col("n_flagged") >= min_shared)
    )


SIMHASH_BITS = 16


def simhash_word_values(words: Column) -> Column:
    """Per-word 16-bit hash values: conv(first 4 hex chars of md5, 16, 10).
    Computed ONCE per word; `simhash16_from_values` extracts all 16 bits
    from this integer. Materialize as its own projection so the planner
    never duplicates the md5 across the 16 bit-sums."""
    return F.transform(
        words, lambda w: F.conv(F.substring(F.md5(w), 1, 4), 16, 10).cast("long")
    )


def simhash16_from_values(vals: Column) -> Column:
    """16-bit SimHash from per-word 16-bit hash values.

    Document bit i is the majority vote of word-bit i, where word-bit i =
    bit (15 - i) of the word's hash value — identical to reading hex digit
    i//4 of the md5 and taking bit 3-(i%4), i.e. the exact construction
    the DuckDB oracle replays per hex digit. One md5 per word total,
    versus one per (word, bit) if each bit-sum re-hashed."""
    n = F.size(vals)

    def make_merge(i):
        return lambda acc, v: acc + F.shiftright(v, 15 - i) % 2

    bit_sums = [
        F.aggregate(vals, F.lit(0).cast("long"), make_merge(i))
        for i in range(SIMHASH_BITS)
    ]
    out = F.lit(0).cast("long")
    for i, s in enumerate(bit_sums):
        out = out + F.when(s * 2 >= n, F.lit(1 << i)).otherwise(F.lit(0)).cast("long")
    return out


def simhash16(words: Column) -> Column:
    """16-bit SimHash over a words array, pure column expressions.

    Per word: first 4 hex chars of md5(word) = 16 bits. Document bit i is
    the majority vote of word-bit i. Built from ANSI constructs only
    (md5/substring/conv/arithmetic) so the DuckDB oracle replays it
    verbatim. 16 bits is plenty for blocking duplicates at hamming<=3;
    widen by taking more hex chars if needed.
    """
    return simhash16_from_values(simhash_word_values(words))


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str = "lang",
) -> DataFrame:
    """(doc_a, doc_b, hamming) pairs with hamming(simhash) <= max_hamming.

    Candidate generation is HAMMING-BAND blocked: the 16-bit fingerprint
    splits into ``max_hamming + 1`` bit bands, and by pigeonhole any pair
    within max_hamming flips shares at least one band verbatim — so
    candidates come from per-(block, band_index, band_value) equi-joins,
    never an all-pairs join within a language block. The final exact
    hamming filter makes the result IDENTICAL to the all-pairs form
    (blocking only prunes candidates that could not pass), so the DuckDB
    oracle replays the simple quadratic formulation. At web scale the
    band join is the difference between O(pairs-per-16-bit-bucket) and
    O(block^2)."""
    from glinerswift_spark.sources.pages import widen_small_scan

    sh = widen_small_scan(df, id_col).select(
        F.col(id_col),
        F.col(block_col),
        simhash_word_values(words_col(text_col)).alias("__v"),
    ).select(
        id_col, block_col, simhash16_from_values(F.col("__v")).alias("sh")
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))

    n_bands = max_hamming + 1
    if n_bands > SIMHASH_BITS:
        # degenerate radius: banding can't help; fall back to block join
        a = sh.select(block_col, F.col(id_col).alias("doc_a"), F.col("sh").alias("sa"))
        b = sh.select(block_col, F.col(id_col).alias("doc_b"), F.col("sh").alias("sb"))
        cand = a.join(b, block_col).where(F.col("doc_a") < F.col("doc_b"))
        return cand.select(
            "doc_a", "doc_b", ham.cast("int").alias("hamming")
        ).where(F.col("hamming") <= max_hamming)

    widths = [SIMHASH_BITS // n_bands] * n_bands
    for i in range(SIMHASH_BITS % n_bands):
        widths[i] += 1
    los = [sum(widths[:i]) for i in range(n_bands)]
    band = F.explode(F.array(*[
        F.struct(
            F.lit(i).alias("bi"),
            (F.shiftright(F.col("sh"), los[i]) % (1 << widths[i])).alias("bv"),
        )
        for i in range(n_bands)
    ])).alias("band")
    tagged = sh.select(id_col, block_col, "sh", band).select(
        id_col, block_col, "sh", "band.bi", "band.bv"
    )
    a = tagged.select(
        block_col, "bi", "bv",
        F.col(id_col).alias("doc_a"), F.col("sh").alias("sa"),
    )
    b = tagged.select(
        block_col, "bi", "bv",
        F.col(id_col).alias("doc_b"), F.col("sh").alias("sb"),
    )
    cand = (
        a.join(b, [block_col, "bi", "bv"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sa", "sb")
        .distinct()
    )
    return cand.select(
        "doc_a", "doc_b", ham.cast("int").alias("hamming")
    ).where(F.col("hamming") <= max_hamming)


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    n_buckets: int = 8,
) -> DataFrame:
    """(vec_a, vec_b, cos) pairs with cosine >= threshold, blocked by
    ``block_col`` so the join is an equi-join, never a cross join.

    Triangle bucketing: a plain blocked self-join has parallelism equal to
    the number of distinct block values (a handful of labels -> a handful
    of tasks doing ALL the pairwise cosines). Each row is hashed into one
    of ``n_buckets``; an unordered pair with buckets {p, q} (p <= q) is
    produced in exactly one grid cell — the row in bucket p arrives on the
    left (replicated for every q >= p), the row in bucket q on the right
    (replicated for every p <= q) — so the join key (block, p, q) has
    ~|blocks| * B(B+1)/2 values and the cosine work spreads across that
    many tasks. Replication factor is ~B/2 on the row count (vectors are
    small next to the quadratic pair work this parallelizes). Result set
    is identical to the plain self-join: same-bucket cells keep id< order,
    cross-bucket cells emit least/greatest ids."""
    from glinerswift_spark.sources.pages import widen_small_scan

    from glinerswift_spark.functions.hashing import dot_product, l2_norm

    cols = [id_col, vec_col] + ([block_col] if block_col else [])
    bk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets)).cast("int")
    # per-row l2 norm precomputed BEFORE the grid-cell explode: one fold
    # per vector instead of one per candidate pair (and per replica) —
    # same expression, same fold order, bit-identical cosines
    base = widen_small_scan(emb, id_col).select(
        *cols, bk.alias("__bk"), l2_norm(F.col(vec_col)).alias("__n")
    )
    blk = [F.col(block_col)] if block_col else []
    a = base.select(
        *blk,
        F.col(id_col).alias("__ia"),
        F.col(vec_col).alias("__va"),
        F.col("__n").alias("__na"),
        F.col("__bk").alias("__p"),
        F.explode(F.sequence(F.col("__bk"), F.lit(n_buckets - 1))).alias("__q"),
    )
    b = base.select(
        *blk,
        F.col(id_col).alias("__ib"),
        F.col(vec_col).alias("__vb"),
        F.col("__n").alias("__nb"),
        F.explode(F.sequence(F.lit(0), F.col("__bk"))).alias("__p"),
        F.col("__bk").alias("__q"),
    )
    on = ([block_col] if block_col else []) + ["__p", "__q"]
    joined = a.join(b, on=on).where(
        (F.col("__p") < F.col("__q")) | (F.col("__ia") < F.col("__ib"))
    )
    c = dot_product(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))
    return (
        joined.select(
            F.least("__ia", "__ib").alias("vec_a"),
            F.greatest("__ia", "__ib").alias("vec_b"),
            F.round(c, 6).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )
