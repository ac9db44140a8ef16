"""Property-based invariants (hypothesis) for the pure kernels.

The reference has no property tests (SURVEY §5.1); these pin the
invariants that golden cases can't cover exhaustively.
"""

import numpy as np
from hypothesis import given, settings, strategies as st

from glinerswift_spark.functions.chunker import chunk_text
from glinerswift_spark.functions.text import word_spans, word_tokens
from glinerswift_spark.scoring.core import (
    Entity,
    decode_candidates,
    decode_spans,
    logit,
    merge_chunk_entities,
    sigmoid,
)

words_strategy = st.lists(
    st.text(alphabet="abcdefg", min_size=1, max_size=8), min_size=0, max_size=120
)


@given(words_strategy, st.integers(256, 600), st.integers(0, 128), st.integers(5, 60))
@settings(max_examples=60, deadline=None)
def test_chunker_tiles_all_words(words, max_chars, overlap, max_words):
    text = " ".join(words)
    chunks = chunk_text(text, max_chars, overlap, max_words)
    # every chunk slices the original exactly
    for c in chunks:
        assert text[c.start : c.end] == c.text
        assert not c.text or (not c.text[0].isspace() and not c.text[-1].isspace())
    # no word is lost: the union of chunk words covers the text's words
    covered = set()
    for c in chunks:
        for _, s, e in word_tokens(c.text):
            covered.add((c.start + s, c.start + e))
    original = {(s, e) for _, s, e in word_tokens(text)}
    assert original <= covered


@given(words_strategy)
@settings(max_examples=30, deadline=None)
def test_word_spans_are_slices(words):
    text = "  ".join(words)
    for w, s, e in word_tokens(text):
        assert text[s:e] == w


@st.composite
def logits_case(draw):
    n_words = draw(st.integers(1, 12))
    n_labels = draw(st.integers(1, 3))
    max_w = 8
    lg = np.full((n_words, max_w, n_labels), -1e30)
    n_hits = draw(st.integers(0, 15))
    for _ in range(n_hits):
        s = draw(st.integers(0, n_words - 1))
        w = draw(st.integers(0, min(max_w, n_words - s) - 1))
        li = draw(st.integers(0, n_labels - 1))
        lg[s, w, li] = logit(draw(st.floats(0.01, 0.99)))
    return n_words, n_labels, lg


@given(logits_case(), st.floats(0.05, 0.95))
@settings(max_examples=60, deadline=None)
def test_nms_invariants(case, threshold):
    n_words, n_labels, lg = case
    text = " ".join("w" for _ in range(n_words))
    spans = word_spans(text)
    got = decode_spans(lg, [f"l{i}" for i in range(n_labels)], threshold, text, spans)
    # all above threshold
    assert all(g.score >= threshold - 1e-12 for g in got)
    # pairwise non-overlapping char ranges (flat NMS)
    for i, a in enumerate(got):
        for b in got[i + 1 :]:
            assert a.end <= b.start or b.end <= a.start
    # output ordered by (start asc, score desc)
    keys = [(g.start, -g.score) for g in got]
    assert keys == sorted(keys)
    # greedy: the single highest-probability candidate always survives
    finite = lg[lg > -1e29]
    if finite.size:
        best = float(sigmoid(finite.max()))
        if best >= threshold:
            assert any(abs(g.score - best) < 1e-12 for g in got)


@given(logits_case(), st.floats(0.05, 0.95))
@settings(max_examples=60, deadline=None)
def test_sparse_decode_matches_dense(case, threshold):
    """decode_candidates on the non-masked cells (enumeration order) must
    reproduce decode_spans on the dense tensor exactly — same entities,
    same scores, same NMS tie-breaks."""
    n_words, n_labels, lg = case
    labels = [f"l{i}" for i in range(n_labels)]
    text = " ".join("w" for _ in range(n_words))
    spans = word_spans(text)
    sparse = [
        (s, w, li, float(lg[s, w, li]))
        for s in range(lg.shape[0])
        for w in range(lg.shape[1])
        for li in range(lg.shape[2])
        if lg[s, w, li] > -1e29
    ]
    dense = decode_spans(lg, labels, threshold, text, spans)
    got = decode_candidates(sparse, labels, threshold, text, spans)
    assert [(g.text, g.label, g.start, g.end) for g in got] == [
        (d.text, d.label, d.start, d.end) for d in dense
    ]
    assert all(abs(g.score - d.score) < 1e-12 for g, d in zip(got, dense))


def test_gazetteer_sparse_path_parity():
    """GazetteerBackend.score_document_sparse + decode_candidates ==
    dense score_document + decode_spans on real lexicon text, and
    classify_logits == the dense tensor's max over (words, widths)."""
    from glinerswift_spark.scoring.backends import (
        FLAGSHIP_LABELS,
        NEG_INF,
        flagship_gazetteer,
    )

    b = flagship_gazetteer().build()
    texts = [
        "the hash join reads the table and the sort merge join writes a row",
        "scan scan scan",
        "no lexicon words here at all",
        "",
        "query Query QUERY filter",
    ]
    for text in texts:
        spans = word_spans(text)
        logits = b.score_document(text, spans, FLAGSHIP_LABELS)
        dense = decode_spans(
            logits, FLAGSHIP_LABELS, 0.3, text, spans,
        ) if spans else []
        got = decode_candidates(
            b.score_document_sparse(text, spans, FLAGSHIP_LABELS),
            FLAGSHIP_LABELS, 0.3, text, spans,
        )
        assert got == dense
        # doc-level logits: the dense tensor's max over (words, widths)
        doc = logits.max(axis=(0, 1), initial=NEG_INF)
        assert np.array_equal(b.classify_logits(text, spans, FLAGSHIP_LABELS), doc)


entity_strategy = st.builds(
    Entity,
    text=st.sampled_from(["alpha", "Alpha", "beta", "gamma delta"]),
    label=st.sampled_from(["a", "b"]),
    score=st.floats(0.1, 1.0),
    start=st.integers(0, 50),
    end=st.integers(51, 100),
)


rel_entity_strategy = st.builds(
    Entity,
    text=st.sampled_from(["scan", "join", "table", "row", "Query"]),
    label=st.sampled_from(["operator", "object", "other"]),
    score=st.floats(0.1, 1.0),
    start=st.integers(0, 40),
    end=st.integers(1, 60),
)


@given(st.lists(rel_entity_strategy, max_size=12), st.integers(0, 30))
@settings(max_examples=80, deadline=None)
def test_coded_triple_emitter_matches_pure_twin(ents, window):
    """emit_triples_coded (the fused hot loop: interned codes, no
    per-triple tuples) must decode to exactly triples_from_entity_list's
    output — same triples, same order, same scores."""
    from glinerswift_spark.config import RelationConfig
    from glinerswift_spark.operators.relations import (
        build_pred_codes,
        emit_triples_coded,
        triples_from_entity_list,
    )

    cfg = RelationConfig(window_chars=window)
    expected = triples_from_entity_list(list(ents), cfg, doc_id=7)

    pred_cats, tmap = build_pred_codes(cfg)
    surf_code: dict = {}
    subj_c, pred_c, obj_c, scores = [], [], [], []
    n = emit_triples_coded(
        list(ents), tmap, window, surf_code, subj_c, pred_c, obj_c, scores
    )
    cats = list(surf_code)
    got = [
        (cats[s], pred_cats[p], cats[o], 7, sc)
        for s, p, o, sc in zip(subj_c, pred_c, obj_c, scores)
    ]
    assert n == len(expected)
    assert got == expected


@given(st.lists(st.lists(entity_strategy, max_size=6), min_size=2, max_size=4))
@settings(max_examples=60, deadline=None)
def test_merge_invariants(per_chunk):
    merged = merge_chunk_entities(per_chunk)
    # no surviving same-label pair overlaps or shares lowercased text
    for i, a in enumerate(merged):
        for b in merged[i + 1 :]:
            if a.label != b.label:
                continue
            assert a.text.lower() != b.text.lower()
            assert not (a.start < b.end and b.start < a.end)
    # every input entity is represented: itself kept, or dominated by a
    # kept same-label entity with >= score
    kept = set(id(e) for e in merged)
    for chunk in per_chunk:
        for e in chunk:
            if id(e) in kept:
                continue
            assert any(
                k.label == e.label
                and k.score >= e.score
                and (
                    k.text.lower() == e.text.lower()
                    or (k.start < e.end and e.start < k.end)
                )
                for k in merged
            )


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)),
        min_size=1, max_size=60,
    ),
    max_iter=st.integers(3, 25),
)
@settings(max_examples=8, deadline=None)
def test_connected_components_matches_union_find(spark, edges, max_iter):
    """Pointer-jumping hash-min CC == a plain union-find reference on
    random graphs (when the iteration budget suffices; else it raises)."""
    from glinerswift_spark.operators.components import connected_components

    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    want = {}
    nodes = {n for e in edges for n in e}
    roots = {}
    for n in sorted(nodes):
        r = find(n)
        roots.setdefault(r, n)  # min node per component
        want[n] = roots[r]

    df = spark.createDataFrame(edges, "src long, dst long")
    try:
        got = {
            r.node: r.component
            for r in connected_components(df, max_iterations=max_iter).collect()
        }
    except RuntimeError:
        return  # budget exhausted: raising loudly is the contract
    assert got == want


@given(
    st.lists(st.integers(0, (1 << 16) - 1), min_size=0, max_size=24, unique=True),
    st.integers(0, 6),
)
@settings(max_examples=30, deadline=None)
def test_hamming_band_pigeonhole(fps, max_hamming):
    """Any pair within max_hamming flips shares >= 1 of the
    max_hamming+1 bit bands — the invariant simhash_pairs' candidate
    join relies on (pure-python check of the same band arithmetic)."""
    n_bands = max_hamming + 1
    widths = [16 // n_bands] * n_bands
    for i in range(16 % n_bands):
        widths[i] += 1
    los = [sum(widths[:i]) for i in range(n_bands)]

    def bands(x):
        return [(i, (x >> los[i]) % (1 << widths[i])) for i in range(n_bands)]

    for i, a in enumerate(fps):
        for b in fps[i + 1:]:
            if bin(a ^ b).count("1") <= max_hamming:
                assert set(bands(a)) & set(bands(b)), (a, b, max_hamming)
