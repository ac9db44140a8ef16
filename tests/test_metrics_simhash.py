"""Stage-timing metrics + simhash operator."""

from pyspark.sql import functions as F

from glinerswift_spark.operators.dedup import simhash16, simhash_pairs
from glinerswift_spark.operators.metrics import STAGES, stage_timing_report
from glinerswift_spark.functions.hashing import words_col
from glinerswift_spark.scoring.backends import (
    FLAGSHIP_LABELS,
    PromptEncodingSpec,
    flagship_gazetteer,
)
from glinerswift_spark.sources.pages import read_documents


def test_stage_timing_report(spark, sf_dir):
    from glinerswift_spark.operators.extract import extract_entities

    # a 48-subword encoder window: the long doc overflows and takes the
    # shipped path's re-chunk instead of failing the profiling pass
    overflow_docs = spark.createDataFrame(
        [
            (1, "john smith"),
            (2, " ".join(["apple", "inc.", "hires", "john"] * 15)),
            (3, "works at apple"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    cases = [
        (read_documents(spark, sf_dir).limit(50), 50,
         FLAGSHIP_LABELS, flagship_gazetteer(), 0.5),
        (overflow_docs, 3,
         ["person", "organization"], PromptEncodingSpec(max_seq_len=48), 0.05),
    ]
    for docs, n_docs, labels, spec, thr in cases:
        rep = stage_timing_report(docs, labels, spec, threshold=thr)
        rows = {r.stage: r for r in rep.collect()}
        assert set(rows) == set(STAGES)
        assert all(r.seconds >= 0 for r in rows.values())
        assert rows["score"].docs == n_docs
        assert rows["score"].entities > 0
        # the profile runs the shipped extraction: same entity count
        assert rows["score"].entities == extract_entities(
            docs, labels, spec, threshold=thr
        ).count()
        assert rows["score"].seconds > 0


def test_simhash_identical_and_different(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h", "en"),
            (2, "a b c d e f g h", "en"),       # identical -> hamming 0
            (3, "q r s t u v w x", "en"),       # disjoint vocab
            (4, "a b c d e f g h", "fr"),       # other block: never paired
        ],
        "doc_id long, text string, lang string",
    )
    sh = df.select("doc_id", simhash16(words_col()).alias("sh")).collect()
    vals = {r.doc_id: r.sh for r in sh}
    assert vals[1] == vals[2] and 0 <= vals[1] < (1 << 16)

    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_pairs(df, max_hamming=0).collect()}
    assert pairs == {(1, 2): 0}


def test_simhash_banding_equals_bruteforce(spark):
    """End-to-end: the hamming-band candidate join loses NO qualifying
    pair vs brute-force hamming over the same fingerprints."""
    import hashlib
    import itertools
    import random

    from glinerswift_spark.operators.dedup import simhash_pairs

    rng = random.Random(7)
    vocab = ["aa", "bb", "cc", "dd", "ee", "ff"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 12))), "en")
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {(r.doc_a, r.doc_b, r.hamming)
           for r in simhash_pairs(df, max_hamming=3).collect()}

    def sh16(text):
        words = text.split(" ")
        vals = [int(hashlib.md5(w.encode()).hexdigest()[:4], 16) for w in words]
        out = 0
        for i in range(16):
            ones = sum((v >> (15 - i)) & 1 for v in vals)
            if ones * 2 >= len(vals):
                out |= 1 << i
        return out

    fps = {doc_id: sh16(text) for doc_id, text, _ in rows}
    want = {
        (a, b, bin(fps[a] ^ fps[b]).count("1"))
        for a, b in itertools.combinations(sorted(fps), 2)
        if bin(fps[a] ^ fps[b]).count("1") <= 3
    }
    assert got == want
