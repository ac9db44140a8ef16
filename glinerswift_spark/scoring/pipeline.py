"""Single-document extraction pipeline (pure; shared by tests + Spark op).

Mirrors the reference's per-document lifecycle
(ref GLiNERModel.swift:120-156, 462-491):

  text --(over the word budget?)--> [chunks] --(score+decode per chunk)-->
  shift offsets by chunk start --> cross-chunk merge --> [Entity]

Short documents skip chunk handling entirely (single-chunk passthrough,
ref GLiNERModel.swift:469-471). The Spark operator calls this per row
inside `mapInPandas`, so chunk fan-out/merge happens WITHIN one task —
no shuffle is ever needed for chunk reassembly.
"""

from __future__ import annotations

from glinerswift_spark.config import Configuration, DEFAULT_CONFIG
from glinerswift_spark.functions.chunker import chunk_text
from glinerswift_spark.functions.schema_encoding import EncodingOverflowError
from glinerswift_spark.functions.text import word_spans
from glinerswift_spark.scoring.core import (
    Entity,
    decode_candidates,
    decode_spans,
    merge_chunk_entities,
    shift_entities,
)


def build_groups(labels: list, label_groups: list | None):
    """Precomputed (member indices, sub-labels) per task group, stable
    first-appearance order; None for the single-group (flat) case."""
    if label_groups is None:
        return None
    if len(label_groups) != len(labels):
        raise ValueError("label_groups must parallel labels")
    order: list = []
    for g in label_groups:
        if g not in order:
            order.append(g)
    return [
        (
            [i for i, lg in enumerate(label_groups) if lg == g],
            [labels[i] for i, lg in enumerate(label_groups) if lg == g],
        )
        for g in order
    ]


def decode_document_logits(
    logits, labels, thr, text, spans, groups=None
) -> list[Entity]:
    """Dense decode with optional per-task-group NMS (see
    extract_document)."""
    if groups is None:
        return decode_spans(logits, labels, thr, text, spans)
    out: list[Entity] = []
    for idxs, sub_labels in groups:
        out.extend(decode_spans(logits[:, :, idxs], sub_labels, thr, text, spans))
    out.sort(key=lambda e: (e.start, -e.score))
    return out


def extract_document(
    text: str,
    labels: list[str],
    backend,
    threshold: float | None = None,
    config: Configuration = DEFAULT_CONFIG,
    label_groups: list[int] | None = None,
) -> list[Entity]:
    """``label_groups``: optional per-label TASK group ids (parallel to
    ``labels``). Scoring always runs ONCE over the full label set; with
    groups, greedy NMS runs independently per group — so a fused
    multi-task pass (entity task + each structure field) keeps the
    reference's task isolation: one task's high-scoring span never
    suppresses another task's overlapping span (the reference extracts
    per task, ref API/GLiNER2.swift:80-163,234-299). Without groups,
    flat NMS across all labels — the single-task reference behavior."""
    if not text or not labels:
        return []  # ref GLiNERModel.swift:126,363 — empty in, empty out
    thr = config.threshold if threshold is None else threshold

    sparse = getattr(backend, "score_document_sparse", None)
    groups = build_groups(labels, label_groups)

    def run(piece: str, spans: list | None = None) -> list[Entity]:
        if spans is None:
            spans = word_spans(piece)
        if not spans:
            return []
        if sparse is not None:
            # lexicon-style backends emit only matched cells — identical
            # decode semantics, no dense [words x widths x labels] tensor
            cands = sparse(piece, spans, labels)
            if groups is None:
                return decode_candidates(cands, labels, thr, piece, spans)
            out: list[Entity] = []
            for idxs, sub_labels in groups:
                remap = {li: k for k, li in enumerate(idxs)}
                sub = [
                    (s, w, remap[li], sc)
                    for (s, w, li, sc) in cands
                    if li in remap
                ]
                out.extend(decode_candidates(sub, sub_labels, thr, piece, spans))
            out.sort(key=lambda e: (e.start, -e.score))
            return out
        logits = backend.score_document(piece, spans, labels)
        return decode_document_logits(logits, labels, thr, piece, spans, groups)

    def run_safe(piece: str, spans: list | None = None) -> list[Entity]:
        # The chunker budgets WORDS; encode-based backends budget
        # SUBWORDS (spec.max_seq_len). A subword-dense chunk that
        # overflows the context window re-chunks at half the word
        # budget (geometric: len(spans) halves each level, so this
        # terminates) instead of killing the whole mapInPandas task on
        # one pathological web document. Documents that fit take the
        # try-path untouched — output is bit-identical for them.
        if spans is None:
            spans = word_spans(piece)
        if not spans:
            return []
        try:
            return run(piece, spans)
        except EncodingOverflowError:
            if len(spans) <= 1:
                # a single monster token (or a prompt that alone
                # exceeds the window): degrade to no entities — a web
                # pipeline must not die on one URL-soup blob
                return []
            # overlap must shrink with the window: chunk_text clamps
            # overlap to window_len-1, so the default 512-char overlap
            # against a few-hundred-char re-chunk window would advance
            # ~1 char per chunk (quadratic chunk count). Keep the
            # default's 1/8 window:overlap proportion instead.
            sub = chunk_text(
                piece,
                max_chars=config.chunk_max_characters,
                overlap=min(
                    config.chunk_overlap_characters, len(piece) // 16
                ),
                max_words=max(1, len(spans) // 2),
            )
            if len(sub) <= 1:
                # chunker could not split (single unbreakable window):
                # hard-split at the median word boundary
                mid = spans[len(spans) // 2][0]
                return merge_chunk_entities([
                    run_safe(piece[:mid]),
                    shift_entities(run_safe(piece[mid:]), mid),
                ])
            return merge_chunk_entities(
                [shift_entities(run_safe(c.text), c.start) for c in sub]
            )

    # one regex pass decides chunking AND feeds the short-doc fast path:
    # a document chunks only when its word count is strictly over the
    # budget (ref TextChunker.swift:31-33)
    spans_full = word_spans(text)
    if len(spans_full) <= config.chunk_max_words:
        return run_safe(text, spans_full)

    chunks = chunk_text(
        text,
        max_chars=config.chunk_max_characters,
        overlap=config.chunk_overlap_characters,
        max_words=config.chunk_max_words,
    )
    if len(chunks) <= 1:
        return run_safe(text, spans_full)
    per_chunk = [shift_entities(run_safe(c.text), c.start) for c in chunks]
    return merge_chunk_entities(per_chunk)


def extract_documents_batch(
    texts: list,
    labels: list[str],
    backend,
    threshold: float | None = None,
    config: Configuration = DEFAULT_CONFIG,
    label_groups: list[int] | None = None,
    batch_size: int = 64,
) -> list[list[Entity]]:
    """Batched variant of calling extract_document per text: short
    (unchunked) documents score in cross-document batches through the
    backend's ``score_documents`` (one BiLSTM/FFN batch pass instead of
    per-doc calls — the per-call GEMM overhead on tiny matrices is the
    neural path's single-core cost); long documents take the
    per-document chunked path. A batch slot that ``score_documents``
    returns as ``None`` (the document overflowed the encoder window)
    also goes through extract_document, whose ``run_safe`` re-chunks it;
    its batch-mates are decoded from the same batch pass. Output is
    parallel to ``texts``. Backends without ``score_documents`` just
    loop extract_document."""
    thr = config.threshold if threshold is None else threshold
    score_batch = getattr(backend, "score_documents", None)
    if score_batch is None or not labels:
        return [
            extract_document(t, labels, backend, threshold, config, label_groups)
            for t in texts
        ]
    groups = build_groups(labels, label_groups)

    out: list = [None] * len(texts)
    pending: list = []  # (row index, text, spans)

    def flush():
        if not pending:
            return
        logits_list = score_batch(
            [p[1] for p in pending], [p[2] for p in pending], labels
        )
        for (i, text, spans), logits in zip(pending, logits_list):
            if logits is None:
                out[i] = extract_document(
                    text, labels, backend, threshold, config, label_groups
                )
            else:
                out[i] = decode_document_logits(
                    logits, labels, thr, text, spans, groups
                )
        pending.clear()

    for i, text in enumerate(texts):
        if not text:
            out[i] = []
            continue
        spans = word_spans(text)
        if not spans:
            out[i] = []
        elif len(spans) <= config.chunk_max_words:
            pending.append((i, text, spans))
            if len(pending) >= batch_size:
                flush()
        else:
            out[i] = extract_document(
                text, labels, backend, threshold, config, label_groups
            )
    flush()
    return out
