"""Spark extraction + relations operators on real testdata."""

import pytest

from glinerswift_spark.config import RelationConfig
from glinerswift_spark.operators.extract import extract_entities
from glinerswift_spark.operators.relations import (
    entities_to_triples,
    triples_from_entity_list,
)
from glinerswift_spark.plans.kg_pipeline import extract_triples_fused
from glinerswift_spark.scoring.backends import (
    FLAGSHIP_LABELS,
    flagship_gazetteer,
    term_score,
)
from glinerswift_spark.scoring.pipeline import extract_document
from glinerswift_spark.sources.pages import read_documents


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return read_documents(spark, sf_dir)


def test_extract_entities_matches_local_pipeline(spark, docs):
    spec = flagship_gazetteer()
    sample = docs.limit(20).cache()
    got = (
        extract_entities(sample, FLAGSHIP_LABELS, spec, threshold=0.5)
        .orderBy("doc_id", "start", "label")
        .collect()
    )
    backend = spec.build()
    exp = []
    for row in sample.orderBy("doc_id").collect():
        for e in extract_document(row.text, FLAGSHIP_LABELS, backend, threshold=0.5):
            exp.append((row.doc_id, e.label, e.text, e.start, e.end))
    assert [(r.doc_id, r.label, r.entity, r.start, r.end) for r in got] == sorted(
        exp, key=lambda t: (t[0], t[3], t[1])
    )
    assert len(got) > 0


def test_fused_triples_equal_composable_triples(spark, docs):
    spec = flagship_gazetteer()
    sample = docs.limit(50)
    rcfg = RelationConfig()
    fused = extract_triples_fused(sample, FLAGSHIP_LABELS, spec, relation_cfg=rcfg)
    composed = entities_to_triples(extract_entities(sample, FLAGSHIP_LABELS, spec), rcfg)
    key = lambda r: (r.doc_id, r.subj, r.pred, r.obj, round(r.score, 9))
    assert sorted(map(key, fused.collect())) == sorted(map(key, composed.collect()))
    assert fused.count() > 0


def test_relation_templating_semantics(spark):
    rcfg = RelationConfig(window_chars=10, templates={("a", "b"): "rel"})
    rows = [
        (1, "a", "s1", 0.9, 0, 5),
        (1, "b", "o1", 0.8, 7, 9),    # gap 2 -> triple
        (1, "b", "o2", 0.8, 30, 32),  # gap 25 -> too far
        (1, "b", "o3", 0.8, 3, 4),    # overlaps -> no triple
        (2, "b", "x", 0.5, 0, 1),     # wrong order (b then nothing)
        (3, "a", "s3", 0.7, 0, 5),
        (3, "b", "o3", 0.9, 15, 17),  # gap == window_chars -> triple
        (4, "a", "s4", 0.6, 0, 5),
        (4, "b", "o4", 0.95, 5, 8),   # gap 0 -> triple
        (5, "a", "s5", 0.9, 5, 5),
        (5, "b", "o5", 0.5, 5, 9),    # equal start, shorter first -> triple
        (6, "a", "s6", 0.9, 4, 4),
        (6, "b", "o6", 0.9, 4, 4),    # identical (start, end) -> no triple
        (7, "b", "o7", 0.9, 0, 5),
        (7, "a", "s7", 0.9, 7, 9),    # (b, a) has no template -> no triple
    ]
    df = spark.createDataFrame(rows, "doc_id int, label string, entity string, score double, start int, end int")
    got = [(r.subj, r.pred, r.obj, r.doc_id, r.score) for r in entities_to_triples(df, rcfg).collect()]
    assert sorted(got) == [
        ("s1", "rel", "o1", 1, 0.8),
        ("s3", "rel", "o3", 3, 0.7),
        ("s4", "rel", "o4", 4, 0.6),
        ("s5", "rel", "o5", 5, 0.5),
    ]


def test_relation_sweep_documents_spanning_arrow_batches(spark):
    """With 3 rows per Arrow batch, a dense document's rows and most
    small documents' rows arrive split across batches; the per-document
    sweep must still see every document whole. Int and string doc keys."""
    import random

    from glinerswift_spark.scoring.core import Entity

    rng = random.Random(11)
    rcfg = RelationConfig(
        window_chars=30,
        templates={("p", "o"): "r1", ("o", "p"): "r2", ("p", "p"): "r3"},
    )
    docs = {0: [Entity(f"e{i}", "po"[i % 2], 0.5 + i / 100, 12 * i, 12 * i + 5) for i in range(40)]}
    for d in range(1, 12):
        docs[d] = [
            Entity(f"d{d}w{i}", rng.choice("po"), rng.random(), s, s + rng.randint(0, 6))
            for i, s in enumerate(sorted(rng.sample(range(60), rng.randint(1, 6))))
        ]
    key = {"doc_id": lambda d: d, "url": lambda d: f"https://example.org/doc/{d}"}
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "3")
        for col, typ in (("doc_id", "long"), ("url", "string")):
            rows = [(key[col](d), e.label, e.text, e.score, e.start, e.end)
                    for d, ents in docs.items() for e in ents]
            df = spark.createDataFrame(
                rows, f"{col} {typ}, label string, entity string, score double, start int, end int"
            )
            got = {}
            for r in entities_to_triples(df, rcfg, doc_col=col).collect():
                got.setdefault(r[col], []).append((r.subj, r.pred, r.obj, r[col], r.score))
            want = {}
            for d, ents in docs.items():
                ts = triples_from_entity_list(ents, rcfg, key[col](d))
                if ts:
                    want[key[col](d)] = sorted(ts)
            assert {k: sorted(v) for k, v in got.items()} == want
            assert len(want[key[col](0)]) > 40
    finally:
        spark.conf.set(conf, old)


def test_gazetteer_scores_sql_recomputable():
    # score formula must match the DuckDB oracle expression exactly
    assert term_score("scan") == 0.6 + (4 % 40) / 100.0
    spec = flagship_gazetteer()
    assert all(0 < s < 1 for _, s in spec.entries)


def test_randomized_differential_spark_vs_pure_python(spark):
    """Randomized corpora (seeded): the Spark mapInPandas extraction and
    the pure-python per-document pipeline must agree exactly — across
    backends, thresholds, chunking boundaries, and unicode words."""
    import random

    from glinerswift_spark.operators.extract import extract_entities
    from glinerswift_spark.scoring.backends import (
        GazetteerSpec,
        NeuralStubSpec,
        get_backend,
    )
    from glinerswift_spark.scoring.pipeline import extract_document

    rng = random.Random(20260816)
    vocab = ["scan", "join", "table", "row", "café", "日本", "alpha",
             "beta", "x1", "zz", "the", "of"]
    lex = {("scan", "op"): 0.9, ("join", "op"): 0.8, ("table", "obj"): 0.7,
           ("scan join", "phrase"): 0.85, ("café", "obj"): 0.75}
    docs_rows = []
    for i in range(60):
        n = rng.choice([0, 1, 3, 12, 80, 300])  # incl. empty + chunked
        docs_rows.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    df = spark.createDataFrame(docs_rows, "doc_id long, text string")

    for spec, thr, labels in [
        (GazetteerSpec.from_dict(lex), 0.5, ["op", "obj", "phrase"]),
        (NeuralStubSpec(dim=32, lstm_hidden=16, rep_dim=32), 0.35, ["op", "obj"]),
    ]:
        got = {}
        for r in extract_entities(df, labels, spec, threshold=thr).collect():
            got.setdefault(r.doc_id, []).append(
                (r.label, r.entity, round(r.score, 9), r.start, r.end)
            )
        backend = get_backend(spec)
        for doc_id, text in docs_rows:
            want = [
                (e.label, e.text, round(e.score, 9), e.start, e.end)
                for e in extract_document(text, labels, backend, threshold=thr)
            ]
            assert sorted(got.get(doc_id, [])) == sorted(want), (spec, doc_id)


def test_adversarial_inputs_long_doc_and_extreme_threshold(spark):
    from glinerswift_spark.operators.extract import extract_entities
    from glinerswift_spark.scoring.backends import GazetteerSpec

    lex = {("needle", "x"): 0.9}
    # 25k-word doc with needles sprinkled at known positions
    words = ["filler"] * 25_000
    for pos in (0, 12_345, 24_999):
        words[pos] = "needle"
    long_text = " ".join(words)
    df = spark.createDataFrame(
        [(0, long_text), (1, None), (2, "   "), (3, "needle")],
        "doc_id long, text string",
    )
    rows = extract_entities(df, ["x"], GazetteerSpec.from_dict(lex),
                            threshold=0.5).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # chunked doc: offsets must be GLOBAL and slice back to the surface
    assert {long_text[r.start:r.end] for r in by_doc[0]} == {"needle"}
    # chunk-merge dedup collapses repeated same-label same-text entities
    # on chunked docs (faithful-to-reference quirk) — at least one found
    assert len(by_doc[0]) >= 1
    assert 3 in by_doc and len(by_doc[3]) == 1
    assert 1 not in by_doc and 2 not in by_doc
    # threshold above every score -> clean empty result
    assert extract_entities(df, ["x"], GazetteerSpec.from_dict(lex),
                            threshold=0.99).count() == 0


def test_widen_one_task_per_core_every_backend(spark, tmp_path):
    # every backend widens a narrow scan to EXACTLY one task per core:
    # each Python task costs ~40-60 ms fixed, so neither a small input
    # (mostly empty tasks) nor a large one (straggler waves) may get
    # more tasks — basis in sources/pages.widen_small_scan. Building the
    # plan runs no Spark job (no eager row probe).
    from glinerswift_spark.scoring.backends import PromptEncodingSpec
    from glinerswift_spark.scoring.encoder import (
        FileEncoderProvider,
        NumpyEncoder,
    )

    sc = spark.sparkContext
    cores = sc.defaultParallelism
    enc = NumpyEncoder.seeded(dim=16, n_layers=1, vocab=64)
    enc.save(str(tmp_path))
    chunky = PromptEncodingSpec(
        dim=16,
        hidden_states_provider=FileEncoderProvider(weights_dir=str(tmp_path)),
    )
    plans = []
    sc.setJobGroup("build", "extract_entities plan building")
    try:
        for n_rows in (50, 2000):
            df = spark.createDataFrame(
                [(i, "john smith works at apple") for i in range(n_rows)],
                "doc_id long, text string",
            ).coalesce(1)  # narrower than cores => widen_small_scan fires
            plans.append(extract_entities(
                df, ["x"], flagship_gazetteer(), threshold=0.5
            ))
            plans.append(
                extract_entities(df, ["person"], chunky, threshold=0.3)
            )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("build")) == []
    assert [p.rdd.getNumPartitions() for p in plans] == [cores] * 4
