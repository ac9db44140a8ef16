"""Schema-encoding path (P6/P7/P8) + weight loading (S3) tests.

Mirrors the reference's own test strategy: the projector shape test feeds
FAKE sequential hidden states (ref GLiNER2SchemaProjectorTests.swift:29-57),
and the end-to-end test runs extraction with the PromptEncodingBackend
through the same mapInPandas seam the other backends use.
"""

import numpy as np
import pytest

from glinerswift_spark.functions.schema_encoding import (
    SEGMENT_SCHEMA,
    SEGMENT_SEPARATOR,
    SEGMENT_TEXT,
    encode_schema_input,
    entity_label_embeddings,
    pad_encoding,
    project_hidden_states,
    prompt_task_embedding,
)
from glinerswift_spark.scoring.backends import (
    PromptEncodingBackend,
    PromptEncodingSpec,
)
from glinerswift_spark.scoring.heads import PromptHeads

WORDS = ["john", "smith", "works", "at", "apple", "inc."]
LABELS = ["person", "organization"]


@pytest.fixture(scope="module")
def backend():
    return PromptEncodingSpec().build()


@pytest.fixture(scope="module")
def encoding(backend):
    return backend.encode(WORDS, LABELS)


def test_encoding_structure(encoding):
    # schema prefix "( [P] entities ( [E] person [E] organization ) )"
    # then [SEP_TEXT], then the lowercased words
    segs = [s for s, _ in encoding.segments]
    sep_positions = [i for i, s in enumerate(segs) if s == SEGMENT_SEPARATOR]
    assert len(sep_positions) == 1  # [SEP_TEXT] is a single special piece
    sep = sep_positions[0]
    assert all(s == SEGMENT_SCHEMA for s in segs[:sep])
    assert all(s == SEGMENT_TEXT for s in segs[sep + 1 :])
    # specials are single pinned ids, never split (P6 mask all ones)
    assert encoding.subword_tokens[sep] == "[SEP_TEXT]"
    assert encoding.attention_mask == [1] * len(encoding.input_ids)
    # one first-subword index per text word, strictly increasing (P7)
    assert len(encoding.word_first_subword) == len(WORDS)
    assert encoding.word_first_subword == sorted(set(encoding.word_first_subword))
    assert all(i > sep for i in encoding.word_first_subword)
    # prompt locations: [P] then one [E] per label, in schema order
    kinds = [loc.kind for loc in encoding.prompt_locations]
    assert kinds == ["prompt", "entity", "entity"]
    # ids and tokens are parallel arrays
    assert len(encoding.input_ids) == len(encoding.subword_tokens)
    assert len(encoding.segments) == len(encoding.input_ids)


def test_projector_with_fake_sequential_states(encoding):
    # hidden[i] = [i, i] — word embedding must be the FIRST subword's
    # state (ref GLiNER2SchemaProjectorTests.swift:29-57 seen-guard), and
    # each prompt embedding the MEAN over its subword range
    T = len(encoding.input_ids)
    hidden = np.arange(T, dtype=float)[:, None].repeat(2, axis=1)
    word_embs, prompts = project_hidden_states(hidden, encoding)
    assert word_embs.shape == (len(WORDS), 2)
    assert [int(v[0]) for v in word_embs] == encoding.word_first_subword
    for loc, (kind, vec) in zip(encoding.prompt_locations, prompts):
        assert kind == loc.kind
        want = np.mean(range(loc.subword_start, loc.subword_end))
        assert vec[0] == pytest.approx(want)
    labels = entity_label_embeddings(prompts, len(LABELS))
    assert labels.shape == (2, 2)
    prompt_vec = prompt_task_embedding(prompts)
    assert prompt_vec[0] == pytest.approx(
        np.mean(
            range(
                encoding.prompt_locations[0].subword_start,
                encoding.prompt_locations[0].subword_end,
            )
        )
    )


def test_hidden_length_mismatch_raises(encoding):
    with pytest.raises(ValueError, match="hidden state count"):
        project_hidden_states(np.zeros((3, 4)), encoding)


def test_padding_is_inert(backend, encoding):
    # P6: padded positions (attention 0) must not change any output
    padded = pad_encoding(encoding, len(encoding.input_ids) + 37)
    assert padded.attention_mask[-1] == 0
    w0, p0 = project_hidden_states(backend._hidden_states(encoding), encoding)
    w1, p1 = project_hidden_states(backend._hidden_states(padded), padded)
    assert np.array_equal(w0, w1)
    for (k0, v0), (k1, v1) in zip(p0, p1):
        assert k0 == k1 and np.array_equal(v0, v1)


def test_label_embeddings_are_contextual(backend):
    # each [E] marker absorbs its following label token — two labels must
    # project to distinct embeddings (the real encoder's attention does
    # this; the stub's fixed window must too, or scoring is label-blind)
    enc = backend.encode(WORDS, LABELS)
    _, prompts = backend._project(enc)
    le = entity_label_embeddings(prompts, 2)
    assert float(np.abs(le[0] - le[1]).max()) > 1e-3


def test_score_document_shapes_and_determinism(backend):
    text = " ".join(WORDS)
    spans, off = [], 0
    for w in WORDS:
        spans.append((off, off + len(w)))
        off += len(w) + 1
    logits = backend.score_document(text, spans, LABELS)
    assert logits.shape == (len(WORDS), 8, len(LABELS))
    again = PromptEncodingSpec().build().score_document(text, spans, LABELS)
    assert np.array_equal(logits, again)
    # out-of-document spans masked
    assert logits[len(WORDS) - 1, 1, 0] < -1e29
    # count + structure paths run off the same encoding machinery
    cl = backend.count_logits(text, "pipeline")
    assert cl.shape == (20,)
    sp = backend.structure_projections(text, LABELS)
    assert sp.ndim == 3 and sp.shape[1] == 2


def test_weight_round_trip(tmp_path):
    # S3: export seeded weights as raw fp32 tensors + metadata.json,
    # reload through the manifest contract, identical logits
    # (fp32 storage: reload-of-reload must be bit-identical)
    d = str(tmp_path / "heads")
    h = PromptHeads.seeded(16, 8, 16, max_count=20, key="rt")
    h.save(d)
    h2 = PromptHeads.load(d)
    h3 = PromptHeads.load(d)
    x = np.random.default_rng(7).standard_normal((6, 16))
    assert np.array_equal(h2.span_head(x, 4), h3.span_head(x, 4))
    assert np.allclose(h.span_head(x, 4), h2.span_head(x, 4), atol=1e-6)
    assert np.allclose(h.prompt_proj(x), h2.prompt_proj(x), atol=1e-6)
    assert np.allclose(
        h.count_predictor(x[0]), h2.count_predictor(x[0]), atol=1e-6
    )
    assert np.allclose(
        h.count_embed(x[:2], 3), h2.count_embed(x[:2], 3), atol=1e-6
    )


def test_weights_via_manifest(tmp_path):
    import json

    from glinerswift_spark.sources.manifest import Manifest

    d = tmp_path / "model"
    heads_dir = d / "span_head"
    heads_dir.mkdir(parents=True)
    PromptHeads.seeded(64, 32, 64, key="promptheads:42").save(str(heads_dir))
    manifest_path = d / "manifest.json"
    manifest_path.write_text(
        json.dumps({"model_id": "test", "artifacts": {"span_head": "span_head"}})
    )
    m = Manifest.load(str(manifest_path))
    resolved = m.resolve_resources(str(d))
    spec = PromptEncodingSpec(weights_dir=resolved["span_head"])
    b = spec.build()
    text = " ".join(WORDS)
    spans, off = [], 0
    for w in WORDS:
        spans.append((off, off + len(w)))
        off += len(w) + 1
    loaded = b.score_document(text, spans, LABELS)
    seeded = PromptEncodingSpec().build().score_document(text, spans, LABELS)
    # same seed key -> fp32-rounded copy of the same weights
    assert np.allclose(loaded, seeded, atol=1e-4)


def test_extraction_end_to_end_with_prompt_backend(spark):
    from glinerswift_spark.operators.extract import extract_entities

    docs = spark.createDataFrame(
        [
            (0, "john smith works at apple inc"),
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, ""),
        ],
        "doc_id long, text string",
    )
    out = extract_entities(
        docs, LABELS, PromptEncodingSpec(), threshold=0.05
    ).collect()
    assert out, "prompt backend produced no entities at a permissive threshold"
    texts = {0: "john smith works at apple inc",
             1: "the quick brown fox jumps over the lazy dog", 2: ""}
    for r in out:
        assert r.label in LABELS
        assert 0.0 < r.score <= 1.0
        assert texts[r.doc_id][r.start : r.end] == r.entity
    again = extract_entities(
        docs, LABELS, PromptEncodingSpec(), threshold=0.05
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_gazetteer_classify_fast_path_matches_dense_max():
    # the running-max fast path must be value-exact with the dense
    # [words x widths x labels] tensor max it replaces
    from glinerswift_spark.scoring.backends import GazetteerSpec

    lex = {("apple", "org"): 0.9, ("john smith", "person"): 0.8}
    b = GazetteerSpec.from_dict(lex).build()
    text = "john smith works at apple"
    spans, off = [], 0
    for w in text.split(" "):
        spans.append((off, off + len(w)))
        off += len(w) + 1
    labels = ["person", "org", "location"]
    dense = b.score_document(text, spans, labels)
    want = dense.max(axis=(0, 1))
    got = b.classify_logits(text, spans, labels)
    assert np.array_equal(got, want)


def test_prompt_backend_classifier_head(backend):
    # dedicated [C]-marker classifier head: per-label logits, label-order
    # equivariant, deterministic
    text = " ".join(WORDS)
    spans, off = [], 0
    for w in WORDS:
        spans.append((off, off + len(w)))
        off += len(w) + 1
    a = backend.classify_logits(text, spans, ["sports", "tech"])
    assert a.shape == (2,)
    # deterministic, and sensitive to the label identity (a different
    # label in the same schema slot moves the logit). NOT order-
    # equivariant by design: [C] embeddings are contextual, so a label's
    # logit legitimately depends on its schema neighbors — same as a
    # real encoder's attention over the prompt.
    again = backend.classify_logits(text, spans, ["sports", "tech"])
    assert np.array_equal(a, again)
    other = backend.classify_logits(text, spans, ["finance", "tech"])
    assert a[0] != other[0]


def test_broadcast_weights_match_seeded(spark):
    # "broadcast model weights per executor": the driver builds the head
    # bundle once, sc.broadcast ships it, every extraction task reuses
    # the executor-cached value — results identical to local seeded
    # construction of the same weights
    from glinerswift_spark.operators.extract import extract_entities

    heads = PromptHeads.seeded(64, 32, 64, key="promptheads:42")
    bc = spark.sparkContext.broadcast(heads)
    docs = spark.createDataFrame(
        [(0, "john smith works at apple inc"),
         (1, "plain text with no entities of note")],
        "doc_id long, text string",
    )
    via_broadcast = extract_entities(
        docs, LABELS, PromptEncodingSpec(weights_broadcast=bc), threshold=0.05
    ).collect()
    seeded = extract_entities(
        docs, LABELS, PromptEncodingSpec(), threshold=0.05
    ).collect()
    assert sorted(map(tuple, via_broadcast)) == sorted(map(tuple, seeded))
    assert via_broadcast


def test_unicode_and_degenerate_words_encode_safely(backend):
    # non-ASCII words fall to UNK pieces but keep the word-mask
    # invariants; whitespace-ish words and empties never crash
    words = ["日本語", "café", "a", "﻿", "💡emoji", "x" * 300]
    enc = backend.encode(words, ["topic"])
    # EVERY word occupies exactly one first-subword slot — a word that
    # normalizes to nothing (U+FEFF) degrades to UNK instead of silently
    # shifting the word<->span alignment
    assert len(enc.word_first_subword) == len(words)
    segs = [s for s, _ in enc.segments]
    for i in enc.word_first_subword:
        assert segs[i] == "text"
    # scoring end-to-end on such a document
    text = "日本語 café a 💡emoji"
    spans, off = [], 0
    for w in text.split(" "):
        spans.append((off, off + len(w)))
        off += len(w) + 1
    logits = backend.score_document(text, spans, ["topic"])
    assert logits.shape[0] == len(spans)
    import numpy as np

    assert np.isfinite(logits[:, 0, :]).all()


def test_prompt_backend_max_seq_len_guard():
    spec = PromptEncodingSpec(max_seq_len=32)
    b = spec.build()
    with pytest.raises(ValueError, match="maximum length"):
        b.encode(["word"] * 40, ["label"])


# -- subword-overflow recovery (round 5) ---------------------------------
# The chunker budgets WORDS (ref TextChunker.swift); encode-based
# backends budget SUBWORDS (spec.max_seq_len). A subword-dense web doc
# can overflow the context window inside a within-budget chunk — the
# pipeline must re-chunk and extract, never kill the task.

OVERFLOW_SPEC = None  # built lazily: module fixture scope is per-test here


def _overflow_backend():
    from glinerswift_spark.scoring.backends import PromptEncodingSpec

    return PromptEncodingSpec(max_seq_len=48).build()


def test_overflow_rechunk_extracts_instead_of_raising():
    from glinerswift_spark.functions.schema_encoding import (
        EncodingOverflowError,
    )
    from glinerswift_spark.scoring.pipeline import extract_document

    b = _overflow_backend()
    text = " ".join(["john", "smith", "works", "at", "apple", "inc."] * 10)
    words = text.split(" ")
    # the raw encode genuinely overflows this window (else the test is
    # vacuous)
    with pytest.raises(EncodingOverflowError):
        b.encode(words, LABELS)
    ents = extract_document(text, LABELS, b, threshold=0.05)
    assert ents, "overflow re-chunk produced no entities at 0.05"
    for e in ents:
        assert text[e.start : e.end] == e.text  # offsets stay doc-relative
    # deterministic across runs
    assert ents == extract_document(text, LABELS, b, threshold=0.05)


def test_overflow_monster_token_degrades_to_empty():
    from glinerswift_spark.scoring.pipeline import extract_document

    b = _overflow_backend()
    ents = extract_document("x" * 5000, LABELS, b, threshold=0.05)
    assert ents == []


def _assert_ents_close(batch, solo, tol=1e-6):
    assert len(batch) == len(solo)
    for eb, es in zip(batch, solo):
        assert [(e.text, e.label, e.start, e.end) for e in eb] == [
            (e.text, e.label, e.start, e.end) for e in es
        ]
        for x, y in zip(eb, es):
            assert abs(x.score - y.score) < tol, (x, y)


def test_overflow_in_batch_matches_per_document_path():
    from glinerswift_spark.scoring.pipeline import (
        extract_document,
        extract_documents_batch,
    )

    b = _overflow_backend()
    docs = [
        "john smith",                                    # fits
        " ".join(["apple", "inc.", "hires", "john"] * 15),  # overflows
        "works at apple",                                # fits
        "",                                              # empty
    ]
    batch = extract_documents_batch(docs, LABELS, b, threshold=0.05)
    solo = [extract_document(t, LABELS, b, threshold=0.05) for t in docs]
    # clean batch-mates of an overflowing doc keep BATCHED scoring (the
    # overflowing doc's slot comes back None and re-chunks alone), so
    # identity is exact but scores may differ from the per-doc twin by
    # float reassociation
    _assert_ents_close(batch, solo)


def test_overflow_batch_falls_back_only_for_overflowing_docs():
    # score_documents reports the overflowing batch member as a None
    # slot in the ONE batched call; its CLEAN batch-mates score through
    # that call, never the per-document score_document fallback. Spy on
    # both: one score_documents call, and score_document sees only
    # re-chunked pieces of the overflowing doc.
    from glinerswift_spark.scoring.pipeline import extract_documents_batch

    b = _overflow_backend()
    clean_a = "john smith"
    clean_b = "works at apple"
    monster = " ".join(["apple", "inc.", "hires", "john"] * 15)
    seen = []
    batch_calls = []
    orig = b.score_document
    orig_batch = b.score_documents

    def spy(text, spans, labels):
        seen.append(text)
        return orig(text, spans, labels)

    def spy_batch(texts, spans_list, labels):
        batch_calls.append(list(texts))
        return orig_batch(texts, spans_list, labels)

    b.score_document = spy
    b.score_documents = spy_batch
    got = extract_documents_batch(
        [clean_a, monster, clean_b], LABELS, b, threshold=0.05
    )
    assert batch_calls == [[clean_a, monster, clean_b]]
    assert seen, "the overflowing doc must route through the per-doc path"
    assert all(piece in monster for piece in seen), seen
    assert clean_a not in seen and clean_b not in seen
    # results still match the per-document twin for every doc
    from glinerswift_spark.scoring.pipeline import extract_document

    b2 = _overflow_backend()
    solo = [
        extract_document(t, LABELS, b2, threshold=0.05)
        for t in (clean_a, monster, clean_b)
    ]
    _assert_ents_close(got, solo)
