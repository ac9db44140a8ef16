"""Tokenizer parity against the reference's pinned DeBERTa-v3 fixtures.

Mirrors ref Tests/GLiNERSwiftTests/TokenizerParityTests.swift:12-44 and the
fixture contract in Scripts/generate_test_fixtures.py:296-301 ("token ids /
attention exact", tolerance 0 in python_outputs.json metadata).

The container has no tokenizer.json, so the unigram vocabulary is
reconstructed FROM the fixtures: every fixture token is placed at its true
DeBERTa id (ids in tokenizer.json "unigram" vocab are positional — the same
convention UnigramTokenizer uses), with never-matching filler pieces at the
unused indices. That makes the assertion exact over everything the repo's
tokenizer owns: NFKC + whitespace->U+2581 normalization, Viterbi
segmentation (including the within-word '▁44'+'th' split), positional id
assignment, [CLS]/[SEP] special-token wrapping, and the all-ones attention
mask. What it cannot pin without the real vocab is the relative unigram
log-probs — segmentation here is forced by vocabulary membership, with a
uniform per-piece score standing in for the trained scores.
"""

import json
import os

import pytest

from glinerswift_spark.functions.subword import UnigramTokenizer

FIXTURES = "/root/reference/Tests/GLiNERSwiftTests/Fixtures/python_outputs.json"
CLS_ID, SEP_ID, UNK_ID = 1, 2, 3

pytestmark = pytest.mark.skipif(
    not os.path.exists(FIXTURES),
    reason="reference absent: tokenizer parity needs its python_outputs.json",
)


@pytest.fixture(scope="module")
def cases():
    with open(FIXTURES) as f:
        return json.load(f)["test_cases"]


@pytest.fixture(scope="module")
def tok(cases):
    id_of = {}
    for c in cases:
        out = c["tokenizer_output"]
        for t, i in zip(out["tokens"], out["input_ids"]):
            if t in ("[CLS]", "[SEP]"):
                continue
            assert id_of.setdefault(t, i) == i, f"fixture id conflict for {t!r}"
            id_of[t] = i
    vocab = [(f"<d{i}>", -1e9) for i in range(max(id_of.values()) + 1)]
    vocab[UNK_ID] = ("[UNK]", -1e9)
    for t, i in id_of.items():
        vocab[i] = (t, -1.0)
    tk = UnigramTokenizer(vocab, unk_token="[UNK]")
    tk.register_special_token("[CLS]", CLS_ID)
    tk.register_special_token("[SEP]", SEP_ID)
    return tk


def test_token_ids_and_tokens_exact(tok, cases):
    for c in cases:
        want = c["tokenizer_output"]
        ids, toks = tok.tokenize(c["text"])
        got_ids = [CLS_ID] + ids + [SEP_ID]
        got_toks = ["[CLS]"] + toks + ["[SEP]"]
        assert got_ids == want["input_ids"], c["id"]
        assert got_toks == want["tokens"], c["id"]
        assert [1] * len(got_ids) == want["attention_mask"], c["id"]


def test_word_level_stream_matches_fulltext(tok, cases):
    # extraction tokenizes per word (tokenize_words); for single-space
    # text the concatenated per-word stream must equal the full-text
    # segmentation, and word_mask must mark exactly the first subword of
    # each word (first-subword gather convention, P7)
    for c in cases:
        words = c["text"].split(" ")
        ids, toks, mask = tok.tokenize_words(words)
        full_ids, full_toks = tok.tokenize(c["text"])
        assert ids == full_ids, c["id"]
        assert toks == full_toks, c["id"]
        firsts = [m for m in mask if m != 0]
        assert firsts == list(range(1, len(words) + 1)), c["id"]
        assert len(mask) == len(ids)
