"""Hash/shingle column expressions shared by dedup + linking operators.

All hashes are built from ``md5`` over explicit string salts so that the
exact same signature is computable in any ANSI SQL engine (the DuckDB
correctness oracle recomputes them verbatim). MinHash uses the classic
min-over-hashed-shingles construction; banding with one hash per band
gives LSH candidate generation whose recall/precision is tuned by
``num_bands`` (candidates are always verified downstream — exact jaccard
or embedding cosine — so false positives only cost work, not accuracy).

Scale notes: signatures are computed scan-side (narrow, codegen'd
expressions — no Python), so the only shuffle is the groupBy/join on
(band, signature), whose key cardinality ~= num_bands * num_docs. Hot
buckets (boilerplate pages sharing a signature) are the classic LSH skew
case: AQE skew-join splitting plus the ``max_bucket_size`` guard in
operators/dedup.py bound the blowup.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

MOD = 1_000_000_007


def words_col(text_col: str = "text") -> Column:
    return F.split(F.col(text_col), " ")


def shingles_expr(words: Column, n: int = 3) -> Column:
    """Distinct n-word shingles (space-joined) of a words array."""
    idx = F.sequence(F.lit(0), F.size(words) - n)
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)))
    )


def shingle_hashes(shingles: Column) -> Column:
    """md5 hex per shingle — computed ONCE; band signatures slice it."""
    return F.transform(shingles, F.md5)


def minhash_band_sig_from_hashes(hashes: Column, band: int) -> Column:
    """Band signature = lexicographic min over 8-hex-char slices of the
    per-shingle md5. One md5 serves all bands (slices of a cryptographic
    hash are independent), so signature computation costs 1 hash per
    shingle instead of num_bands — at 10^12 docs the scan-side hash work
    is the dominant CPU cost of LSH. Bands 1..4 for a 32-char md5."""
    return F.array_min(
        F.transform(hashes, lambda h: F.substring(h, 8 * (band - 1) + 1, 8))
    )


def band_signatures(hashes: Column, num_bands: int) -> Column:
    """One (band, sig) struct per band 1..num_bands, exploded into rows —
    the LSH bucket keys shared by document dedup and mention linking.
    A 32-char md5 holds four 8-char band slices; a fifth band would be
    the empty string for every row (one bucket holding everything)."""
    if not 1 <= num_bands <= 4:
        raise ValueError(f"num_bands must be in 1..4, got {num_bands}")
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    minhash_band_sig_from_hashes(hashes, b).alias("sig"),
                )
                for b in range(1, num_bands + 1)
            ]
        )
    )


def rolling_word_fingerprint(words: Column) -> Column:
    """Polynomial rolling hash over word codes, mod 1e9+7.

    code(word) = ascii(first char) * 131 + length(word); fold
    acc -> (acc * 31 + code) % MOD. Order-sensitive document fingerprint
    (two docs with the same words in different order differ), exactly
    recomputable in SQL (list_reduce in DuckDB).
    """
    codes = F.transform(words, lambda w: F.ascii(w) * 131 + F.length(w))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + c.cast("long")) % F.lit(MOD).cast("long"),
    )


def dot_product(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two float arrays, in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity (math mirrors ref Inference/SimilarityScorer.swift:77-100)."""
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))
