"""Unigram Viterbi tokenizer (F3) + numpy head kernels (F12) + neural stub backend."""

import numpy as np
import pytest

from glinerswift_spark.functions.subword import UnigramTokenizer
from glinerswift_spark.scoring.backends import NeuralStubSpec
from glinerswift_spark.scoring.heads import FFN, BiLSTM, Linear, SpanRepHead
from glinerswift_spark.scoring.pipeline import extract_document

VOCAB = [
    ("<unk>", -10.0),
    ("▁", -3.0),
    ("▁hello", -1.0),
    ("▁he", -2.0),
    ("llo", -2.5),
    ("▁world", -1.2),
    ("▁wor", -2.0),
    ("ld", -2.0),
    ("o", -4.0),
    ("w", -4.0),
]


@pytest.fixture
def tok():
    return UnigramTokenizer(VOCAB)


def test_viterbi_picks_max_score_path(tok):
    # '▁hello' (-1.0) beats '▁he'+'llo' (-4.5)
    ids, toks = tok.tokenize("hello")
    assert toks == ["▁hello"]
    # '▁wor'+'ld' (-4.0) vs '▁world' (-1.2): single piece wins
    _, toks2 = tok.tokenize("world")
    assert toks2 == ["▁world"]


def test_normalization_semantics(tok):
    # NFKC fullwidth fold + whitespace variants collapse + leading ▁
    assert tok.normalize("ｈｅｌｌｏ　world") == "▁hello▁world"
    assert tok.normalize("  hello\n\nworld  ") == "▁hello▁world"
    assert tok.normalize("") == ""


def test_unk_fallback(tok):
    ids, toks = tok.tokenize("hexyz")
    assert "<unk>" in toks
    assert all(t in dict(VOCAB) for t in toks)


def test_special_token_registration(tok):
    tok.register_special_token("[SEP_TEXT]", 9999)
    ids, toks = tok.tokenize("[SEP_TEXT]")
    # special token is one piece despite length (max_token_length extended)
    assert 9999 in ids and "[SEP_TEXT]" in toks


def test_word_mask_first_subword(tok):
    ids, toks, mask = tok.tokenize_words(["hello", "world", "hexyz"])
    # mask marks first subword of each word with its 1-based index
    firsts = [m for m in mask if m > 0]
    assert firsts == [1, 2, 3]
    assert len(mask) == len(ids) == len(toks)


def test_linear_ffn_shapes_and_values():
    lin = Linear(np.array([[1.0, 2.0], [0.0, -1.0]]), np.array([0.5, 0.0]))
    y = lin(np.array([1.0, 1.0]))
    assert np.allclose(y, [3.5, -1.0])
    ffn = FFN.seeded(4, 8, 3, "t")
    out = ffn(np.zeros((5, 4)))
    assert out.shape == (5, 3)
    # deterministic across instances
    assert np.allclose(out, FFN.seeded(4, 8, 3, "t")(np.zeros((5, 4))))


def test_bilstm_semantics():
    lstm = BiLSTM.seeded(4, 3, "t", bidirectional=True)
    xs = np.arange(8.0).reshape(2, 4) / 10
    out = lstm(xs)
    assert out.shape == (2, 6)  # concat fwd/bwd (ref BiLSTM.swift:29-38)
    # outputs bounded by tanh*sigmoid envelope
    assert np.all(np.abs(out) < 1.0)
    # backward half at t=0 differs from forward half reversed (real recurrence)
    uni = BiLSTM.seeded(4, 3, "t", bidirectional=False)
    assert uni(xs).shape == (2, 3)
    assert lstm(np.zeros((0, 4))).shape == (0, 6)


def test_span_rep_head_shapes():
    head = SpanRepHead(8, 4, 6)
    reps = head(np.ones((5, 8)), max_width=3)
    assert reps.shape == (5, 3, 6)
    # out-of-document spans zero: starts 3,4 at width 2 (end >= 5)
    assert np.all(reps[4, 1, :] == 0) and np.all(reps[3, 2, :] == 0)
    assert not np.all(reps[0, 2, :] == 0)


def test_neural_stub_backend_end_to_end():
    spec = NeuralStubSpec()
    b = spec.build()
    text = "alpha beta gamma delta"
    ents1 = extract_document(text, ["x", "y"], b, threshold=0.3)
    ents2 = extract_document(text, ["x", "y"], spec.build(), threshold=0.3)
    assert [(e.text, e.label, round(e.score, 9)) for e in ents1] == [
        (e.text, e.label, round(e.score, 9)) for e in ents2
    ]  # deterministic
    # NMS invariant holds on whatever it finds
    for i, a in enumerate(ents1):
        for c in ents1[i + 1 :]:
            assert a.end <= c.start or c.end <= a.start


def test_bilstm_run_batch_matches_per_sequence():
    import numpy as np

    from glinerswift_spark.scoring.heads import BiLSTM

    lstm = BiLSTM.seeded(16, 8, "batchtest")
    rng = np.random.default_rng(3)
    seqs = [rng.standard_normal((n, 16)) for n in (5, 1, 9, 3)]
    batched = lstm.run_batch(seqs)
    for s, got in zip(seqs, batched):
        want = lstm(s)
        assert got.shape == want.shape
        assert np.allclose(got, want, atol=1e-9)
    # empty batch and zero-length sequence
    assert lstm.run_batch([])== []
    z = lstm.run_batch([np.zeros((0, 16))])
    assert z[0].shape == (0, 16)


def test_extract_documents_batch_matches_per_doc(monkeypatch):
    from glinerswift_spark.config import Configuration
    from glinerswift_spark.scoring import pipeline
    from glinerswift_spark.scoring.backends import NeuralStubSpec
    from glinerswift_spark.scoring.pipeline import (
        extract_document,
        extract_documents_batch,
    )

    b = NeuralStubSpec().build()
    labels = ["operator", "object"]
    texts = [
        "alpha beta gamma delta epsilon",
        "",
        "one",
        " ".join(f"w{i}" for i in range(300)),  # forces the chunked path
        "short tail doc",
    ]
    per = [extract_document(t, labels, b, threshold=0.3) for t in texts]
    bat = extract_documents_batch(texts, labels, b, threshold=0.3, batch_size=2)
    assert len(per) == len(bat)
    for p, q in zip(per, bat):
        assert [(e.text, e.label, e.start, e.end) for e in p] == [
            (e.text, e.label, e.start, e.end) for e in q
        ]
        for e1, e2 in zip(p, q):
            assert abs(e1.score - e2.score) < 1e-9

    # chunking starts strictly OVER the word budget (ref
    # TextChunker.swift:31-33): ten words fit chunk_max_words=10 and
    # batch unchunked; at chunk_max_words=9 they take the chunked path
    chunk_calls = []
    orig_chunk = pipeline.chunk_text

    def spy_chunk(*args, **kwargs):
        chunk_calls.append(args[0])
        return orig_chunk(*args, **kwargs)

    monkeypatch.setattr(pipeline, "chunk_text", spy_chunk)
    ten = " ".join(["w"] * 10)
    for max_words, chunked in ((10, False), (9, True)):
        chunk_calls.clear()
        cfg = Configuration(max_word_count=max_words + 8)
        assert cfg.chunk_max_words == max_words
        extract_documents_batch([ten], labels, b, threshold=0.3, config=cfg)
        assert chunk_calls == ([ten] if chunked else [])


def test_tokenizer_from_tokenizer_json(tmp_path):
    import json

    import pytest as _pytest

    from glinerswift_spark.functions.subword import UnigramTokenizer

    vocab = [["<unk>", -10.0], ["▁he", -1.0], ["llo", -1.5], ["▁hello", -0.5]]
    path = tmp_path / "tokenizer.json"
    path.write_text(json.dumps({"model": {"type": "Unigram", "unk_id": 0,
                                          "vocab": vocab}}))
    tok = UnigramTokenizer.from_tokenizer_json(str(path))
    ids, toks = tok.tokenize("hello")
    # the whole-word piece outscores he+llo (-0.5 vs -2.5)
    assert toks == ["▁hello"] and ids == [3]
    direct = UnigramTokenizer(vocab, unk_token="<unk>")
    assert direct.tokenize("hello") == (ids, toks)

    bad = tmp_path / "bpe.json"
    bad.write_text(json.dumps({"model": {"type": "BPE", "vocab": {}}}))
    with _pytest.raises(ValueError, match="unigram"):
        UnigramTokenizer.from_tokenizer_json(str(bad))
