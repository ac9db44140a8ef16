"""Dedup / similarity / textstats / CC / linking / checkpoint operators."""

import math

import pytest
from pyspark.sql import functions as F

from glinerswift_spark.config import LinkingConfig
from glinerswift_spark.operators.components import connected_components
from glinerswift_spark.operators.dedup import (
    embedding_neardup_pairs,
    exact_dedup,
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
)
from glinerswift_spark.operators.linking import link_mentions
from glinerswift_spark.operators.similarity import cosine_topk, lsh_bucketed_topk
from glinerswift_spark.operators.textstats import (
    classify_keyword,
    doc_fingerprint,
    lang_id,
    quality_score,
    token_count,
)
from glinerswift_spark.sources.pages import read_documents, read_embeddings


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    # unpersist at teardown: a cached RAW scan leaks into every later
    # plan over the same file (CacheManager substitutes the full-width
    # InMemoryRelation), silently un-pruning scans in the plan tests
    df = read_documents(spark, sf_dir).cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = read_embeddings(spark, sf_dir).cache()
    yield df
    df.unpersist()


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "c")], "doc_id long, text string"
    )
    got = {(r.n_docs, r.keeper) for r in exact_dedup(df).collect()}
    assert got == {(2, 1), (1, 3)}


def test_minhash_pairs_find_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, base), (2, base + " tail"), (3, "completely different words here now ok")],
        "doc_id long, text string",
    )
    pairs = {(r.doc_a, r.doc_b) for r in minhash_candidate_pairs(df).collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs
    # one 32-char md5 holds 4 band slices; a 5th band would key every
    # doc to the empty signature (one bucket, all pairs)
    with pytest.raises(ValueError, match="num_bands"):
        minhash_candidate_pairs(df, num_bands=5)


def test_ngram_jaccard_exact_values(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d x"), (3, "z z z z z")],
        "doc_id long, text string",
    )
    rows = ngram_jaccard_pairs(df, n=3, threshold=0.0).collect()
    got = {(r.doc_a, r.doc_b): r.jaccard for r in rows}
    # doc1 shingles {abc,bcd,cde}, doc2 {abc,bcd,cdx}: inter 2, union 4
    assert got[(1, 2)] == 0.5
    assert (1, 3) not in got


def test_duplicate_doc_ids_yield_no_self_pairs(spark):
    # dirty input: doc 1 appears twice with the same text; the pair
    # expansion sees the id next to itself in the sorted postings
    t = "the quick brown fox jumps over the lazy dog"
    u = "an entirely unrelated sentence with other words"
    df = spark.createDataFrame(
        [(1, t), (1, t), (2, u)], "doc_id long, text string"
    )
    jac = ngram_jaccard_pairs(df, n=3, threshold=0.0, max_df=1000).collect()
    lsh = minhash_candidate_pairs(df).collect()
    assert [r for r in jac if r.doc_a == r.doc_b] == []
    assert [r for r in lsh if r.doc_a == r.doc_b] == []


def test_ngram_jaccard_duplicate_doc_id_counts_once(spark):
    # a doc id repeated with the same text is one document: its shingle
    # postings must not count once per copy (that gave jaccard 2.0)
    df = spark.createDataFrame(
        [(1, "a b c d e"), (1, "a b c d e"), (2, "a b c d x")],
        "doc_id long, text string",
    )
    # max_df=2 puts the shared shingles (3 rows, 2 docs) at the df-guard
    # edge: counting copies would move them to the high-df slice and
    # drop the pair from the candidates
    for kw in ({}, {"hi_chunks": 4}, {"max_df": 2}):
        rows = ngram_jaccard_pairs(df, n=3, threshold=0.0, **kw).collect()
        assert [(r.doc_a, r.doc_b, r.jaccard) for r in rows] == [(1, 2, 0.5)]


def test_embedding_neardup_and_topk(spark, emb):
    pairs = embedding_neardup_pairs(emb, threshold=0.4)
    for r in pairs.collect():
        assert r.cos >= 0.4 and r.vec_a < r.vec_b
    queries = emb.where(F.col("vec_id") < 3)
    topk = cosine_topk(emb, queries, k=5).collect()
    by_q = {}
    for r in topk:
        by_q.setdefault(r.query_id, []).append((r.rank, r.cos))
    for q, rows in by_q.items():
        rows.sort()
        assert [r[0] for r in rows] == list(range(1, len(rows) + 1))
        assert all(rows[i][1] >= rows[i + 1][1] for i in range(len(rows) - 1))


def test_lsh_topk_subset_of_bruteforce_space(spark, emb):
    queries = emb.where(F.col("vec_id") < 3)
    approx = lsh_bucketed_topk(emb, queries, k=3, num_bits=4, num_tables=2)
    rows = approx.collect()
    assert len(rows) > 0
    assert all(r.rank <= 3 for r in rows)


def test_ivf_topk_invariants(spark, emb):
    from glinerswift_spark.operators.similarity import ivf_topk

    queries = emb.where(F.col("vec_id") < 3)
    exact = {
        (r.query_id, r.neighbor_id): r.cos
        for r in cosine_topk(emb, queries, k=1000).collect()
    }
    got = ivf_topk(emb, queries, k=5, num_centroids=8, n_probe=2).collect()
    assert got
    by_q = {}
    for r in got:
        # every IVF hit is a real (query, neighbor) pair with the exact cosine
        assert exact[(r.query_id, r.neighbor_id)] == r.cos
        by_q.setdefault(r.query_id, []).append((r.rank, r.cos, r.neighbor_id))
    for rows in by_q.values():
        rows.sort()
        # dense ranks, scores non-increasing, no duplicate neighbors
        assert [r[0] for r in rows] == list(range(1, len(rows) + 1))
        assert all(rows[i][1] >= rows[i + 1][1] for i in range(len(rows) - 1))
        assert len({r[2] for r in rows}) == len(rows)
    # probing every cell == brute force (n_probe >= n_centroids)
    full = ivf_topk(emb, queries, k=3, num_centroids=8, n_probe=10_000).collect()
    brute = cosine_topk(emb, queries, k=3).collect()
    assert {(r.query_id, r.neighbor_id, r.rank) for r in full} == {
        (r.query_id, r.neighbor_id, r.rank) for r in brute
    }


def test_textstats_ops(spark, docs):
    tc = token_count(docs.limit(5)).collect()
    for r in tc:
        assert r.n_tokens > 0 and r.n_types <= r.n_tokens
    qs = quality_score(docs.limit(5)).collect()
    for r in qs:
        assert 0.0 < r.quality <= 1.0
    li = lang_id(docs.limit(5)).collect()
    assert all(r.lang_pred in ("en", "und") for r in li)
    fp = doc_fingerprint(docs.limit(5)).collect()
    assert all(0 <= r.fingerprint < 1_000_000_007 for r in fp)
    cl = classify_keyword(docs.limit(5)).collect()
    assert all(r.top_label in ("data_heavy", "query_heavy", "stream_heavy") for r in cl)


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "c b a")], "doc_id long, text string"
    )
    fps = {r.doc_id: r.fingerprint for r in doc_fingerprint(df).collect()}
    assert fps[1] != fps[2]


def test_connected_components_known_graph(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "src long, dst long"
    )
    got = {(r.node, r.component) for r in connected_components(edges).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20)}


def test_linking_clusters_surface_variants(spark):
    # FIXTURES.md §5: {"Apple Inc.", "apple inc", "Apple"} cluster via
    # shared shingles + identical embeddings; distant embedding separates.
    v_close = [1.0, 0.0, 0.0, 0.0]
    v_far = [0.0, 1.0, 0.0, 0.0]
    rows = [
        (1, "u1", "Apple Inc.", "org", v_close),
        (2, "u2", "apple inc", "org", v_close),
        (3, "u3", "Apple Incorporated", "org", v_far),   # shingle-similar, far embedding
        (4, "u4", "Zebra", "org", v_close),              # no shingle overlap
    ]
    mentions = spark.createDataFrame(
        rows, "mention_id long, url string, text string, label string, embedding array<double>"
    )
    cfg = LinkingConfig(shingle_size=3, num_bands=4, cosine_threshold=0.99)
    mention_map, nodes, verified = link_mentions(mentions, cfg)
    mapping = {r.mention_id: r.canonical_id for r in mention_map.collect()}
    assert mapping[1] == mapping[2] == 1
    assert mapping[3] == 3 and mapping[4] == 4
    node_rows = nodes.collect()
    forms = {r.canonical_id: list(r.surface_forms) for r in node_rows}
    assert forms[1] == ["Apple Inc.", "apple inc"]


def test_checkpoint_resume_idempotent(spark, docs, tmp_path):
    from glinerswift_spark.operators.checkpoint import run_stage_with_checkpoint

    root = str(tmp_path / "ckpt")
    sample = docs.limit(40)

    calls = []

    def transform(df):
        calls.append(1)
        return token_count(df)

    out1 = run_stage_with_checkpoint(
        spark, sample, transform, root, "tokstats", "doc_id", num_buckets=8
    ).collect()
    # second run: everything done -> transform not invoked again
    out2 = run_stage_with_checkpoint(
        spark, sample, transform, root, "tokstats", "doc_id", num_buckets=8
    ).collect()
    assert len(calls) == 1
    key = lambda r: r.doc_id
    assert sorted(map(key, out1)) == sorted(map(key, out2))
    assert len(out1) == 40


def test_connected_components_long_chain_pointer_jumping(spark):
    # a 200-hop path needs ~200 hash-min rounds but only O(log n) with
    # the label-of-label doubling term — must converge well inside the
    # default budget
    from glinerswift_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "src long, dst long"
    )
    got = connected_components(edges, max_iterations=12).collect()
    assert len(got) == 201
    assert {r.component for r in got} == {0}


def test_connected_components_exhaustion_raises(spark):
    import pytest as _pytest

    from glinerswift_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "src long, dst long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iterations=2)


def test_salted_join_equals_plain_join_on_hot_key(spark):
    from glinerswift_spark.operators.skew import salted_join

    # 95% of rows share one key — the mega-domain shape
    rows = [(i, "hot.com" if i % 20 else f"site{i}.com", i * 3) for i in range(400)]
    big = spark.createDataFrame(rows, "row_id long, domain string, v long")
    small = big.groupBy("domain").count().withColumnRenamed("count", "n")
    got = salted_join(big, small, ["domain"], salt_buckets=8)
    plain = big.join(small, "domain")
    key = lambda r: (r.row_id, r.domain, r.v, r.n)
    assert sorted(map(key, got.collect())) == sorted(map(key, plain.collect()))
    # the hot key's rows really spread across salts
    from pyspark.sql import functions as F

    salts = (
        big.where(F.col("domain") == "hot.com")
        .select(F.pmod(F.xxhash64("row_id", "domain", "v"), F.lit(8)).alias("s"))
        .groupBy("s").count().collect()
    )
    assert len(salts) == 8
    # left join keeps unmatched big rows exactly once
    part = small.where(F.col("domain") != "hot.com")
    left = salted_join(big, part, ["domain"], salt_buckets=4, how="left")
    assert left.count() == 400
    assert left.where(F.col("n").isNull()).count() == 380


def test_checkpoint_partial_resume_processes_only_missing_buckets(spark, docs, tmp_path):
    # simulate a mid-run kill: some buckets written+marked done, others
    # missing — the re-run must process ONLY the missing buckets and
    # converge to the complete output
    import glob
    import os

    from pyspark.sql import functions as F

    from glinerswift_spark.operators.checkpoint import (
        run_stage_with_checkpoint,
        with_bucket,
    )

    root = str(tmp_path / "ckpt")
    sample = docs.limit(40)
    seen_rows = []

    def transform(df):
        seen_rows.append(df.count())
        return token_count(df)

    full = run_stage_with_checkpoint(
        spark, sample, transform, root, "tok", "doc_id", num_buckets=8
    ).collect()
    assert len(full) == 40 and seen_rows == [40]

    # "crash": drop two buckets' data and their status rows
    victims = {1, 5}
    status = spark.read.parquet(os.path.join(root, "_STATUS"))
    kept = status.where(~F.col("part_bucket").isin(list(victims)))
    kept_rows = kept.collect()
    for f in glob.glob(os.path.join(root, "_STATUS", "*.parquet")):
        os.remove(f)
    spark.createDataFrame(kept_rows, status.schema).write.mode("overwrite").parquet(
        os.path.join(root, "_STATUS")
    )
    import shutil
    for b in victims:
        shutil.rmtree(os.path.join(root, "tok", f"part_bucket={b}"))

    resumed = run_stage_with_checkpoint(
        spark, sample, transform, root, "tok", "doc_id", num_buckets=8
    ).collect()
    assert len(resumed) == 40
    # the second transform invocation saw ONLY the victims' rows
    expected_victim_rows = (
        with_bucket(sample, "doc_id", 8)
        .where(F.col("part_bucket").isin(list(victims)))
        .count()
    )
    assert seen_rows == [40, expected_victim_rows]
    assert sorted(r.doc_id for r in resumed) == sorted(r.doc_id for r in full)


def test_bloom_decontaminate_matches_join_path(spark):
    # the Bloom fast path must reach the same verdicts as the exact
    # shingle join (contamination_counts) — with 2^20 bits and a tiny
    # benchmark the false-positive probability is ~(1e-5)^4 per gram,
    # so set equality (not superset) is the right assertion here.
    from glinerswift_spark.operators.dedup import (
        bloom_decontaminate,
        contamination_counts,
    )

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id int, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon contaminated"),  # 3 shared
            (2, "zeta eta theta iota kappa lambda"),             # 0 shared
            (3, "beta gamma delta epsilon zeta more text"),      # 3 shared
            (4, "completely unrelated words here now"),          # 0 shared
        ],
        "doc_id int, text string",
    )
    exact = {
        (r["doc_id"], r["n_shared"])
        for r in contamination_counts(corpus, bench, n=3, min_shared=2).collect()
    }
    bloom = {
        (r["doc_id"], r["n_flagged"])
        for r in bloom_decontaminate(corpus, bench, n=3, min_shared=2).collect()
    }
    assert bloom == exact and {d for d, _ in exact} == {1, 3}


def test_bloom_decontaminate_plan_has_no_join(spark):
    # the whole point of the Bloom path: the corpus side never joins —
    # benchmark knowledge travels as a broadcast bitmap, not a relation.
    from glinerswift_spark.operators.dedup import bloom_decontaminate

    bench = spark.createDataFrame(
        [(0, "a b c d e")], "doc_id int, text string"
    )
    corpus = spark.createDataFrame(
        [(1, "a b c x y"), (2, "p q r s t")], "doc_id int, text string"
    )
    plan = bloom_decontaminate(corpus, bench, n=3)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_boilerplate_ngrams_counts_document_frequency(spark):
    from glinerswift_spark.operators.dedup import boilerplate_ngrams

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox the quick brown"),  # dup gram within doc
            (2, "the quick brown bear"),
            (3, "one two three four"),
        ],
        "doc_id int, text string",
    )
    top = boilerplate_ngrams(docs, n=3, top_n=2).collect()
    # "the quick brown" appears twice in doc 1 but counts once per doc
    assert top[0]["gram"] == "the quick brown" and top[0]["df"] == 2
    assert top[1]["df"] == 1


def test_sq8_quantization_codes_and_edges(spark):
    from glinerswift_spark.operators.similarity import sq8_topk

    # dim 0 spans [0, 1]; dim 1 is CONSTANT (must quantize to 0 not NaN);
    # dim 2 spans [-2, 2]
    emb = spark.createDataFrame(
        [(1, [0.0, 5.0, -2.0]), (2, [1.0, 5.0, 2.0]), (3, [0.5, 5.0, 0.0])],
        "vec_id int, embedding array<float>",
    )
    out = sq8_topk(emb, emb.where(F.col("vec_id") == 1), k=2).collect()
    got = {(r["rank"]): (r["neighbor_id"], r["cos"]) for r in out}
    # codes: v1=[0,0,0], v2=[255,0,255], v3=[127,0,127]; dequantized the
    # constant dim reconstructs to exactly 5.0 (no NaN/zero-div), and v3
    # (~[0.498, 5, -0.008]) is much closer in angle to v1 than v2 is
    assert got[1][0] == 3 and got[2][0] == 2
    assert all(v[1] is not None and v[1] == v[1] for v in got.values())


def test_sq8_topk_recall_vs_exact(spark):
    # quantized ranking should recover most exact-cosine neighbors on the
    # real embeddings table (recall@5 >= 0.6 is loose; observed ~0.9)
    from glinerswift_spark.operators.similarity import cosine_topk, sq8_topk

    emb = read_embeddings(spark, "/root/testdata/sf0.001")
    queries = emb.where(F.col("vec_id") % 97 == 0)
    exact = {}
    for r in cosine_topk(emb, queries, k=5).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx = {}
    for r in sq8_topk(emb, queries, k=5).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert set(approx) == set(exact)
    hits = sum(len(exact[q] & approx[q]) for q in exact)
    total = sum(len(exact[q]) for q in exact)
    assert hits / total >= 0.6, f"recall {hits}/{total}"


def test_pii_scan_counts_and_redaction_order(spark):
    from glinerswift_spark.operators.textstats import pii_scan

    docs = spark.createDataFrame(
        [
            (1, "mail a.b+c@x9.co and b@y.org, ip 10.0.0.1, call +44 123-45678"),
            (2, "clean text with version 1.2 and no contacts"),
            (3, "server at 192.168.254.254 only"),
            # digits-and-dots email host: the IPv4 pattern matches the
            # RAW text but the email pass consumes it first — n_ipv4
            # must count the post-email text so counts always equal the
            # placeholders emitted (round-3 advice item)
            (4, "ping a@1.2.3.44.co now"),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in pii_scan(docs).collect()}
    assert (out[1]["n_email"], out[1]["n_ipv4"], out[1]["n_phone"]) == (2, 1, 1)
    # email redacted BEFORE ipv4, so the digit-dot host x9.co never
    # becomes a spurious <IP>
    assert out[1]["redacted"] == (
        "mail <EMAIL> and <EMAIL>, ip <IP>, call <PHONE>"
    )
    assert not out[2]["has_pii"] and out[2]["redacted"] == out[2]["redacted"]
    assert (out[2]["n_email"], out[2]["n_ipv4"], out[2]["n_phone"]) == (0, 0, 0)
    assert out[3]["n_ipv4"] == 1 and out[3]["has_pii"]
    assert (out[4]["n_email"], out[4]["n_ipv4"], out[4]["n_phone"]) == (1, 0, 0)
    assert out[4]["redacted"] == "ping <EMAIL> now"


def test_dedup_corpus_keep_combines_exact_and_near(spark):
    from glinerswift_spark.operators.dedup import dedup_corpus_keep

    base = "the quick brown fox jumps over the lazy dog again and again ok"
    docs = spark.createDataFrame(
        [
            (1, base, "en"),                 # kept: exact keeper + component rep
            (2, base, "en"),                 # dropped: exact duplicate of 1
            (3, base + " tail", "en"),       # dropped: near-dup of 1 (component rep is 1)
            (4, "totally different words entirely here now yes", "de"),  # kept
        ],
        "doc_id long, text string, lang string",
    )
    kept = {r["doc_id"]: r["n_tokens"] for r in dedup_corpus_keep(
        docs, n=3, threshold=0.5, max_df=1000
    ).collect()}
    assert set(kept) == {1, 4}
    assert kept[1] == 13 and kept[4] == 7


def test_kmv_distinct_sketch(spark):
    from glinerswift_spark.operators.sketches import kmv_distinct

    # below resolution: the sketch IS the distinct set -> exact count
    small = spark.createDataFrame(
        [(v,) for v in ["a", "b", "c", "a", "b"]], "v string"
    )
    r = kmv_distinct(small, "v", k=256).first()
    assert r["k_used"] == 3 and r["est_distinct"] == 3.0

    # above resolution: estimate within 20% of truth for 5000 distincts
    big = spark.createDataFrame([(f"val{i}",) for i in range(5000)], "v string")
    r = kmv_distinct(big, "v", k=256).first()
    assert r["k_used"] == 256
    assert abs(r["est_distinct"] - 5000) / 5000 < 0.2, r["est_distinct"]

    # duplicates never change the sketch (it sees distinct hashes)
    dup = big.union(big)
    r2 = kmv_distinct(dup, "v", k=256).first()
    assert r2 == r


def test_jaccard_hi_chunked_correction_exact_on_boilerplate_corpus(spark):
    """PLANS.md "jaccard high-df width bound": on a boilerplate-saturated
    corpus (EVERY shared shingle above max_df — the adversarial case
    where the per-doc high-df array is O(doc)), the hash-chunked
    correction (hi_chunks=K) must return bit-identical rows to the
    single-array form, and both must match an independent python
    ground truth."""
    boiler = " ".join(f"b{i}" for i in range(300))
    docs = []
    for k in range(6):
        # docs (2k, 2k+1) share a 5-word unique tail -> below-max_df
        # shingles keep the pair in the candidate set
        tail = " ".join(f"t{k}_{j}" for j in range(5))
        docs.append((2 * k, f"{boiler} {tail} u{2*k}"))
        docs.append((2 * k + 1, f"{boiler} {tail} u{2*k+1}"))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    kw = dict(n=3, threshold=0.0, max_df=5)
    plain = sorted(map(tuple, ngram_jaccard_pairs(df, **kw).collect()))
    chunked = sorted(
        map(tuple, ngram_jaccard_pairs(df, hi_chunks=4, **kw).collect())
    )
    assert plain == chunked
    assert len(plain) == 6  # exactly the six tail-sharing pairs

    # independent ground truth: word-3-gram distinct shingle sets
    def sh(text):
        w = text.split(" ")
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}
    sets = {d: sh(t) for d, t in docs}
    for a, b, j in plain:
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        assert j == round(inter / union, 6), (a, b)
