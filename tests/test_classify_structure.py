"""Classification + structured extraction Spark operators."""

from pyspark.sql import functions as F

from glinerswift_spark.operators.classify import (
    classify_documents,
    extract_structure,
    stable_softmax,
)
from glinerswift_spark.schema import ClassificationSpec, FieldSpec, RegexValidator
from glinerswift_spark.scoring.backends import GazetteerSpec

import numpy as np


def test_stable_softmax():
    x = np.array([1000.0, 1001.0, 999.0])
    p = stable_softmax(x)
    assert abs(p.sum() - 1.0) < 1e-12 and p[1] == p.max()


def _sentiment_spec():
    # gazetteer doubles as a classifier backend: label score = max span logit
    lex = {
        ("good", "positive"): 0.9,
        ("great", "positive"): 0.95,
        ("bad", "negative"): 0.9,
        ("fine", "neutral"): 0.6,
    }
    return GazetteerSpec.from_dict(lex)


def test_classification_single_label_top1(spark):
    df = spark.createDataFrame(
        [(1, "this product is good and great"), (2, "this is bad"), (3, "meh")],
        "doc_id long, text string",
    )
    spec = ClassificationSpec("sentiment", ["positive", "negative", "neutral"],
                              multi_label=False, cls_threshold=0.2)
    out = classify_documents(df, [spec], _sentiment_spec())
    top = {r.doc_id: r.label for r in out.where(F.col("is_top")).collect()}
    assert top[1] == "positive" and top[2] == "negative"
    # doc 3 has no markers: softmax uniform -> argmax = first label index
    assert top[3] == "positive"


def test_classification_multilabel_threshold(spark):
    df = spark.createDataFrame(
        [(1, "good and bad together")], "doc_id long, text string"
    )
    spec = ClassificationSpec("sentiment", ["positive", "negative", "neutral"],
                              multi_label=True, cls_threshold=0.5)
    rows = classify_documents(df, [spec], _sentiment_spec()).collect()
    kept = {r.label for r in rows}
    assert {"positive", "negative"} <= kept
    scores = {r.label: r.score for r in rows}
    assert scores["positive"] >= 0.5 and scores["negative"] >= 0.5


def test_stub_backend_classifier_fast_path_is_width1_slice_max():
    """Hash and neural stub backends ship a classify_logits fast path:
    the dense span tensor's width-1 slice max (to float round-off — the
    dense width-1 mean is a prefix-sum difference), so a doc-level
    classification job never pays max_width x the FLOPs."""
    from glinerswift_spark.functions.text import word_spans
    from glinerswift_spark.scoring.backends import (
        HashEmbeddingSpec,
        NeuralStubSpec,
    )

    text = "scan the table then join rows by key and sort the output"
    spans = word_spans(text)
    labels = ["operator", "object"]
    for spec in (
        HashEmbeddingSpec(),
        HashEmbeddingSpec(pooling="concat", similarity="dot"),
        HashEmbeddingSpec(pooling="max"),
        NeuralStubSpec(),
    ):
        backend = spec.build()
        fast = backend.classify_logits(text, spans, labels)
        dense = backend.score_document(text, spans, labels)
        width1_max = dense[:, 0, :].max(axis=0)
        assert np.allclose(fast, width1_max, rtol=0, atol=1e-12), spec
    # empty document path
    backend = HashEmbeddingSpec().build()
    assert (backend.classify_logits("", [], labels) < -1e29).all()


def test_classify_logits_finite_for_shipped_backends(sf_dir):
    """classify_documents feeds classify_logits straight into
    sigmoid/softmax with no clamp: every shipped backend returns finite
    logits (the gazetteer's absent labels sit at NEG_INF = -1e30)."""
    import pandas as pd

    from glinerswift_spark.functions.text import word_spans
    from glinerswift_spark.scoring.backends import (
        FLAGSHIP_LABELS,
        HashEmbeddingSpec,
        NeuralStubSpec,
        PromptEncodingSpec,
        flagship_gazetteer,
    )

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    texts = docs.sort_values("doc_id")["text"].head(8).tolist()
    for spec in (
        flagship_gazetteer(), HashEmbeddingSpec(), NeuralStubSpec(),
        PromptEncodingSpec(),
    ):
        backend = spec.build()
        for text in texts:
            logits = np.asarray(backend.classify_logits(
                text, word_spans(text), list(FLAGSHIP_LABELS)
            ))
            assert logits.shape == (len(FLAGSHIP_LABELS),), spec
            assert np.isfinite(logits).all(), spec


def test_classify_documents_with_stub_backend(spark):
    from glinerswift_spark.scoring.backends import HashEmbeddingSpec

    df = spark.createDataFrame(
        [(1, "scan the table"), (2, "sort by key")], "doc_id long, text string"
    )
    spec = ClassificationSpec("topic", ["operator", "object"],
                              multi_label=False, cls_threshold=0.0)
    rows = classify_documents(df, [spec], HashEmbeddingSpec()).collect()
    assert {r.doc_id for r in rows} == {1, 2}
    tops = [r for r in rows if r.is_top]
    assert len(tops) == 2  # exactly one top label per doc


def test_structured_extraction_with_validators(spark):
    # FIXTURES.md §3: contact{email(regex-full), phone}
    text = "John Smith at Apple Inc. Contact: john@apple.com, 555-1234"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    lex = {
        ("john@apple.com", "email address"): 0.9,
        ("apple", "email address"): 0.8,      # fails full-regex validation
        ("555-1234", "phone number"): 0.9,
    }
    spec = GazetteerSpec.from_dict(lex)
    fields = [
        FieldSpec("email address", dtype="str",
                  validators=[RegexValidator(r"[\w.-]+@[\w.-]+\.\w+", mode="full")]),
        FieldSpec("phone number", dtype="str"),
    ]
    out = extract_structure(df, "contact", fields, spec, threshold=0.5)
    got = {r.field: r.value for r in out.collect()}
    assert got["email address"] == "john@apple.com"
    assert got["phone number"] == "555-1234"


def test_run_schema_multitask_single_pass(spark):
    from glinerswift_spark.plans.schema_runner import run_schema
    from glinerswift_spark.schema import RegexValidator, Schema
    from glinerswift_spark.scoring.backends import GazetteerSpec

    lex = {
        ("alice", "person"): 0.9,
        ("acme", "company"): 0.8,
        ("alice@x.com", "email address"): 0.85,
        ("sports", "topic:sports"): 0.7,
    }
    docs = spark.createDataFrame(
        [(0, "alice works at acme contact alice@x.com"),
         (1, "acme acme sports")],
        "doc_id long, text string",
    )
    schema = (
        Schema()
        .entities(["person", "company"])
        .structure("contact")
        .field("email", dtype="str", choices=["email address"],
               validators=[RegexValidator(r"[\w.@]+@[\w.]+", mode="full")])
        .classification("topic", ["topic:sports", "person"])
    )
    out = run_schema(docs, schema, GazetteerSpec.from_dict(lex), threshold=0.5)

    ents = {(r.doc_id, r.label, r.entity) for r in out["entities"].collect()}
    assert (0, "person", "alice") in ents
    assert (1, "company", "acme") in ents
    assert not any(lb == "email address" for _, lb, _ in ents)

    (srow,) = out["structures"].collect()
    assert (srow.structure, srow.field, srow.value) == ("contact", "email", "alice@x.com")

    cls = out["classifications"].collect()
    assert any(r.label == "topic:sports" and r.doc_id == 1 and r.is_top for r in cls)

    # single shared extraction: entity rows + structure rows come from ONE
    # MapInPandas pass each branch references (classification adds its own
    # head-only pass)
    plan = out["entities"]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1


def test_structure_instances_cap_and_order(spark):
    from glinerswift_spark.operators.classify import structure_instances
    from glinerswift_spark.schema import FieldSpec
    from glinerswift_spark.scoring.backends import GazetteerSpec

    lex = {("scan", "scan"): 0.9, ("join", "join"): 0.8}
    docs = spark.createDataFrame(
        [(0, "scan then scan then join then scan")],
        "doc_id long, text string",
    )
    fields = [FieldSpec(name="ops", dtype="list", choices=["scan", "join"])]
    rows = structure_instances(
        docs, "pipeline", fields, GazetteerSpec.from_dict(lex), threshold=0.5
    ).collect()
    # count predictor: 2 distinct lexicon surfaces -> pc=2: first TWO
    # positional occurrences per label survive, in char-offset order
    scans = sorted((r.instance, r.start) for r in rows if r.label == "scan")
    assert scans == [(1, 0), (2, 10)]
    joins = [(r.instance, r.start) for r in rows if r.label == "join"]
    assert joins == [(1, 20)]
    assert all(r.value in ("scan", "join") for r in rows)


def test_classify_multi_matches_per_task(spark):
    lex = {("alice", "person"): 0.9, ("sports", "t:sports"): 0.7,
           ("acme", "t:business"): 0.8}
    docs = spark.createDataFrame(
        [(0, "alice likes sports"), (1, "acme ships software")],
        "doc_id long, text string",
    )
    specs = [
        ClassificationSpec("topic", ["t:sports", "t:business"], False, 0.4),
        ClassificationSpec("has_person", ["person"], True, 0.5),
    ]
    spec_df = GazetteerSpec.from_dict(lex)
    fused = classify_documents(docs, specs, spec_df)
    rows_fused = {tuple(r) for r in fused.collect()}
    rows_single = set()
    for s in specs:
        rows_single |= {tuple(r) for r in classify_documents(docs, [s], spec_df).collect()}
    assert rows_fused == rows_single
    # one corpus pass for BOTH tasks
    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1


def test_run_schema_with_prompt_backend(spark):
    # the full GLiNER2-shaped stack: prompt/schema encoding -> span +
    # classifier + count heads, all tasks off run_schema's single fused
    # extraction pass — deterministic end to end
    from glinerswift_spark.plans.schema_runner import run_schema
    from glinerswift_spark.schema import Schema
    from glinerswift_spark.scoring.backends import PromptEncodingSpec

    docs = spark.createDataFrame(
        [(0, "john smith works at apple inc"),
         (1, "plain words without strong signals here")],
        "doc_id long, text string",
    )
    schema = (
        Schema()
        .entities(["person", "organization"])
        .structure("mention").field("who", dtype="list", choices=["person name"])
        .classification("tone", ["formal", "casual"])
    )

    def run():
        out = run_schema(docs, schema, PromptEncodingSpec(), threshold=0.05)
        return (
            sorted(map(tuple, out["entities"].collect())),
            sorted(map(tuple, out["structures"].collect())),
            sorted(map(tuple, out["classifications"].collect())),
        )

    e1, s1, c1 = run()
    e2, s2, c2 = run()
    assert (e1, s1, c1) == (e2, s2, c2)
    assert e1, "prompt backend produced no entities at permissive threshold"
    assert c1 and all(r[1] == "tone" for r in c1)
    for r in c1:
        assert 0.0 <= r[3] <= 1.0


def test_structure_field_description_as_label(spark):
    # a field with no choices extracts with its DESCRIPTION as the label
    # (falling back to the field name) — ref GLiNER2.swift:234-299
    from glinerswift_spark.operators.classify import extract_structure
    from glinerswift_spark.schema import FieldSpec
    from glinerswift_spark.scoring.backends import GazetteerSpec

    lex = {("acme", "company name"): 0.9, ("bob", "person"): 0.8}
    docs = spark.createDataFrame(
        [(0, "bob founded acme yesterday")], "doc_id long, text string"
    )
    fields = [
        FieldSpec(name="employer", dtype="str", description="company name"),
        FieldSpec(name="person", dtype="str"),  # falls back to field name
    ]
    rows = {r.field: r.value for r in extract_structure(
        docs, "job", fields, GazetteerSpec.from_dict(lex), threshold=0.5
    ).collect()}
    assert rows == {"employer": "acme", "person": "bob"}
