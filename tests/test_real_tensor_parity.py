"""Real-tensor score parity against the reference's GLiNER2 debug dumps.

The reference ships REAL trained-model tensors per fixture case
(`Scripts/debug/gliner2_tensor_dump*.json`, generated by
`Scripts/dump_gliner2_tensors.py:60-103` by hooking GLiNER2._predict_spans
on `fastino/gliner2-base-v1`): `schema_embeddings`, `count_logits`,
`predicted_count`, `span_rep`, `span_mask`, `span_indices`,
`structure_embeddings` (the count-conditioned per-instance label
projections) and the resulting `span_scores`.

These tests drive the dumped tensors through THE REPO'S OWN kernels —
word split (functions/text.py), span enumeration + greedy-NMS decode
(scoring/core.py), score builder (scoring/heads.py span_label_logits),
count argmax (scoring/backends.py predict_count) — and assert:

  * the word split reproduces the model's word count exactly;
  * our span enumeration/in-document rule matches the dumped
    span_indices / span_mask cell for cell;
  * sigmoid(our logits) == the dumped span_scores to float32 dump
    precision (1e-5), i.e. the score formula is the reference's
    einsum("lkd,bpd->bplk") exactly;
  * decoding our scores at the case threshold yields the fixture
    entities (text, label, char offsets) with scores within the
    fixture metadata tolerance for entity scores (0.01,
    python_outputs.json metadata.tolerance.entity_scores);
  * predict_count(count_logits) == the dumped predicted_count, and the
    structure projections carry the [predicted_count, n_labels, d]
    instance convention the repo's CountEmbed emits.

This converts the README's "model-score parity is by construction"
disclosure into measured parity against real model outputs — no torch or
weights needed.
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pytest

from glinerswift_spark.functions.text import word_spans, word_tokens
from glinerswift_spark.scoring.backends import predict_count
from glinerswift_spark.scoring.core import decode_spans, sigmoid
from glinerswift_spark.scoring.heads import span_label_logits

DEBUG_DIR = Path("/root/reference/Scripts/debug")
FIXTURES = Path(
    "/root/reference/Tests/GLiNERSwiftTests/Fixtures/python_outputs.json"
)

DUMP_FILES = [
    "gliner2_tensor_dump.json",            # case simple_person
    "gliner2_tensor_dump_multi_entity.json",  # case multi_entity
    "simple_person_reference.json",        # simple_person, second capture
]

pytestmark = pytest.mark.skipif(
    not DEBUG_DIR.exists(),
    reason="reference absent: real-tensor parity needs its debug dumps",
)


def _load_dump(name: str) -> dict:
    with open(DEBUG_DIR / name) as f:
        return json.load(f)


def _fixture_case(case_id: str) -> dict:
    with open(FIXTURES) as f:
        data = json.load(f)
    for case in data["test_cases"]:
        if case["id"] == case_id:
            return case
    raise KeyError(case_id)


def _score_tolerance() -> float:
    with open(FIXTURES) as f:
        return float(json.load(f)["metadata"]["tolerance"]["entity_scores"])


@pytest.fixture(params=DUMP_FILES)
def dump(request):
    return _load_dump(request.param)


def test_word_split_matches_model_word_count(dump):
    words = word_tokens(dump["text"].strip())
    n_words, max_width, dim = dump["span_rep_shape"]
    assert len(words) == n_words
    assert max_width == 8 and dim == 768


def test_span_enumeration_matches_dump_indices_and_mask(dump):
    n_words, max_width, _ = dump["span_rep_shape"]
    idx = np.array(dump["span_indices"]).reshape(n_words, max_width, 2)
    mask = np.array(dump["span_mask"]).reshape(n_words, max_width)
    for s in range(n_words):
        for w in range(max_width):
            in_doc = s + w < n_words  # the decode's vectorized in_doc rule
            assert bool(mask[s, w]) == (not in_doc)  # mask marks INVALID
            expected = [s, s + w] if in_doc else [-1, -1]
            assert idx[s, w].tolist() == expected


def test_score_formula_reproduces_dumped_span_scores(dump):
    span_rep = np.array(dump["span_rep"])             # [n, w, d]
    struct = np.array(dump["structure_embeddings"])   # [p, L, d]
    expected = np.array(dump["span_scores"])          # [p, L, n, w] ordering?
    # dump layout is [instance b][field p][word l][width k]
    # (einsum "lkd,bpd->bplk"); ours is [p][n][w][L] — transpose to compare.
    logits = span_label_logits(span_rep, struct)      # [p, n, w, L]
    ours = sigmoid(logits).transpose(0, 3, 1, 2)      # [p, L, n, w]
    assert ours.shape == expected.shape
    assert float(np.abs(ours - expected).max()) < 1e-5


def test_decode_on_real_tensors_matches_fixture_entities(dump):
    case = _fixture_case(dump["case_id"])
    tol = _score_tolerance()
    text = dump["text"].strip()
    spans = word_spans(text)
    span_rep = np.array(dump["span_rep"])
    struct = np.array(dump["structure_embeddings"])
    labels = list(dump["field_names"])

    # instance 0 (predicted_count == 1 on both dump cases)
    logits = span_label_logits(span_rep, struct)[0]   # [n, w, L]
    entities = decode_spans(logits, labels, dump["threshold"], text, spans)

    got = {(e.text, e.label, e.start, e.end): e.score for e in entities}
    expected = {
        (e["text"], e["label"], e["start"], e["end"]): e["score"]
        for e in case["entities"]
    }
    assert set(got) == set(expected)
    for key, score in expected.items():
        assert abs(got[key] - score) <= tol

    # the per-field grouping equals the raw hook capture too
    raw = dump["raw_result"]["entities"][0]
    by_label: dict = {}
    for e in entities:
        by_label.setdefault(e.label, set()).add(e.text)
    assert {lb: set(v) for lb, v in raw.items()} == by_label


def test_count_head_decision_matches_dump(dump):
    count_logits = np.array(dump["count_logits"])[0]  # [20]
    assert predict_count(count_logits) == dump["predicted_count"]


def test_structure_projection_instance_convention(dump):
    """structure_embeddings is [predicted_count, n_labels, d] — exactly the
    [count, L, d] convention CountEmbed emits (scoring/heads.py CountEmbed:
    ref GLiNER2CountEmbedModel.swift:27-57 + prefix(predictedCount))."""
    struct = np.array(dump["structure_embeddings"])
    assert struct.shape == (
        dump["predicted_count"],
        len(dump["field_names"]),
        768,
    )
    # schema_embeddings carries [P] first, then the field embeddings
    schema = np.array(dump["schema_embeddings"])
    assert schema.shape == (len(dump["field_names"]) + 1, 768)
