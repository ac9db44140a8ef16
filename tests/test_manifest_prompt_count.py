"""Manifest loader (S1), schema-prompt formatting (F11), count predictor
(A4), text-file chunk source (S5)."""

import json

import numpy as np
import pytest

from glinerswift_spark.functions.prompt import (
    TOKEN_SEP_TEXT,
    format_classification_prompt,
    format_entity_prompt,
    prompt_token_count,
    schema_input_tokens,
)
from glinerswift_spark.scoring.backends import (
    GazetteerSpec,
    HashEmbeddingSpec,
    flagship_gazetteer,
    predict_count,
)
from glinerswift_spark.sources.manifest import Manifest


def test_manifest_load_and_resolve(tmp_path):
    art = tmp_path / "weights.bin"
    art.write_bytes(b"\x00" * 8)
    manifest_path = tmp_path / "manifest.json"
    manifest_path.write_text(json.dumps({
        "model_id": "gliner2-base",
        "max_seq_len": 512, "max_width": 8, "max_schema_tokens": 64,
        "max_count": 20, "hidden_size": 768,
        "artifacts": {"encoder": "weights.bin"},
    }))
    m = Manifest.load(str(manifest_path))
    assert (m.max_seq_len, m.max_width, m.max_schema_tokens, m.max_count) == (512, 8, 64, 20)
    res = m.resolve_resources(str(tmp_path))
    assert res["encoder"].endswith("weights.bin")
    with pytest.raises(FileNotFoundError):
        Manifest.load(str(manifest_path)).resolve_resources("/nonexistent")


def test_manifest_invalid_constants(tmp_path):
    p = tmp_path / "bad.json"
    p.write_text(json.dumps({"model_id": "x", "max_width": 0}))
    with pytest.raises(ValueError):
        Manifest.load(str(p))


def test_entity_prompt_format_golden():
    # ( [P] entities ( [E] l1 [E] l2 ) ) — ref GLiNERTokenizer.swift:286-293
    assert format_entity_prompt(["person", "organization"]) == [
        "(", "[P]", "entities", "(",
        "[E]", "person", "[E]", "organization",
        ")", ")",
    ]


def test_classification_prompt_and_input_tokens():
    p = format_classification_prompt("sentiment", ["positive"])
    assert p == ["(", "[P]", "sentiment", "(", "[C]", "positive", ")", ")"]
    toks = schema_input_tokens(p, ["Good", "Stuff"])
    assert toks == p + [TOKEN_SEP_TEXT, "good", "stuff"]  # lowercased words


def test_prompt_token_budget():
    labels = [f"label{i}" for i in range(20)]
    assert prompt_token_count(labels) <= 64  # max_schema_tokens


def test_count_predictor_semantics():
    assert predict_count(np.array([0.1] * 5 + [9.0] + [0.1] * 14)) == 5
    # clamp to max_count (ref: argmax clamped)
    assert predict_count(np.array([0.0] * 19 + [9.0]), max_count=10) == 10

    g = flagship_gazetteer().build()
    assert predict_count(g.count_logits("scan the table and join it", "s")) == 3
    assert predict_count(g.count_logits("nothing relevant here", "s")) == 0

    h = HashEmbeddingSpec().build()
    c1 = predict_count(h.count_logits("some text", "contact"))
    assert c1 == predict_count(h.count_logits("some text", "contact"))  # deterministic
    assert 0 <= c1 <= 19


def test_structure_count_capping(spark):
    from glinerswift_spark.operators.classify import extract_structure
    from glinerswift_spark.schema import FieldSpec

    # text contains exactly 2 distinct lexicon surfaces -> predicted_count 2
    lex = {("red", "color"): 0.9, ("blue", "color"): 0.9, ("green", "color"): 0.9}
    df = spark.createDataFrame(
        [(1, "red and blue and red and blue")], "doc_id long, text string"
    )
    spec = GazetteerSpec.from_dict(lex)
    capped = extract_structure(
        df, "palette", [FieldSpec("color", dtype="list", choices=["color"])],
        spec, threshold=0.5, use_count_predictor=True,
    ).collect()[0]
    uncapped = extract_structure(
        df, "palette", [FieldSpec("color", dtype="list", choices=["color"])],
        spec, threshold=0.5, use_count_predictor=False,
    ).collect()[0]
    assert len(uncapped.value.split("|")) == 4
    assert len(capped.value.split("|")) == 2  # first predicted_count kept
