"""Per-document extraction kernels: span enumeration, greedy decode, merge.

These are the pure (numpy + python) kernels that run INSIDE the Arrow
batches of the Spark `mapInPandas` extraction operator — they are the
Spark-side analogue of the reference's span head:

  * span enumeration: all (start_word, width) with width < max_width and
    end inside the document (ref Tokenization/GLiNERTokenizer.swift:470-491,
    SpanHead/SpanScorer.swift:88-105);
  * decode: sigmoid >= threshold -> greedy flat non-overlap selection
    (any-label overlap rejected, exact-duplicate range rejected), final
    order (start asc, score desc) (ref SpanHead/SpanDecoder.swift:12-100);
  * cross-chunk merge: flatten, sort score desc, drop an entity iff an
    already-kept SAME-LABEL entity has equal lowercased text or char-range
    overlap (ref Inference/ChunkProcessor.swift:14-72).

Tie-breaking is pinned (score desc, then candidate enumeration order
(start, width, label) via stable sort) — mirrors the Python ground truth
in ref Scripts/generate_test_fixtures.py:80-106, which uses a stable sort.
"""

from __future__ import annotations

import math
from operator import itemgetter
from typing import NamedTuple

import numpy as np

_SCORE_KEY = itemgetter(3)
_START_KEY = itemgetter(0)


class Entity(NamedTuple):
    """ref Models/Entity.swift:4-26 — char offsets into the original text.

    A NamedTuple, not a dataclass: attribute access and field-wise
    equality/hash are identical, but allocation cost is a plain tuple —
    millions of these are created per task in the fused extraction path.
    """

    text: str
    label: str
    score: float
    start: int
    end: int


def sigmoid(x):
    x = np.asarray(x, dtype=np.float64)
    out = np.empty_like(x)
    pos = x >= 0
    out[pos] = 1.0 / (1.0 + np.exp(-x[pos]))
    ex = np.exp(x[~pos])
    out[~pos] = ex / (1.0 + ex)
    return out


def logit(p: float) -> float:
    p = min(max(float(p), 1e-12), 1.0 - 1e-12)
    return math.log(p / (1.0 - p))


def enumerate_spans(num_words: int, max_width: int) -> list[tuple[int, int]]:
    """All (start_word, width) with the span fully inside the document.

    Enumeration order (start asc, width asc) is part of the pinned
    tie-break total order.
    """
    return [
        (s, w)
        for s in range(num_words)
        for w in range(1, min(max_width, num_words - s) + 1)
    ]


def decode_spans(
    logits: np.ndarray,
    labels: list[str],
    threshold: float,
    text: str,
    spans: list[tuple[int, int]],
) -> list[Entity]:
    """sigmoid+threshold -> greedy flat NMS -> char-offset entities.

    ``logits``: float array [n_words, max_width, n_labels] (-inf = masked).
    ``spans``: word char ranges [(start, end), ...].
    """
    n_words = len(spans)
    if n_words == 0 or not labels or logits.size == 0:
        return []

    # threshold in LOGIT space (monotone-equivalent to sigmoid(x) >= thr,
    # inclusive at the boundary) — avoids exp() over the full
    # [words x widths x labels] tensor; sigmoid runs only on survivors.
    if threshold >= 1.0:
        return []
    # candidates in enumeration order (start, width, label) — nonzero is
    # row-major so this IS that order; the stable sort downstream
    # preserves it for ties, pinning the tie-break total order.
    # np.nonzero (three flat index arrays) instead of argwhere: skips the
    # [N,3] stack + the per-column re-slices.
    ss, ww, ll = np.nonzero(
        logits >= (logit(threshold) if threshold > 0.0 else -np.inf)
    )
    if ss.size == 0:
        return []
    # out-of-document ends dropped VECTORIZED before any python-object work
    in_doc = ss + ww < n_words
    if not in_doc.all():
        ss, ww, ll = ss[in_doc], ww[in_doc], ll[in_doc]
        if ss.size == 0:
            return []
    kept_probs = sigmoid(logits[ss, ww, ll])
    # vectorized twin of greedy_select_candidates' disjoint fast path:
    # all single-word spans at strictly increasing starts are pairwise
    # disjoint — every candidate survives and enumeration order IS the
    # final (start asc, score desc) order. Entities build straight from
    # the numpy columns, skipping the tuple list + NMS entirely.
    if not ww.any() and (ss.size < 2 or bool((ss[1:] > ss[:-1]).all())):
        out = []
        for s, li, p in zip(ss.tolist(), ll.tolist(), kept_probs.tolist()):
            cs, ce = spans[s]
            out.append(Entity(text[cs:ce], labels[li], p, cs, ce))
        return out
    candidates = list(
        zip(ss.tolist(), (ss + ww).tolist(), ll.tolist(), kept_probs.tolist())
    )

    chosen = greedy_select_candidates(candidates)
    out = []
    for s, e, li, score in chosen:
        cs = spans[s][0]
        ce = spans[e][1]
        out.append(Entity(text[cs:ce], labels[li], score, cs, ce))
    return out


def greedy_select_candidates(
    candidates: list[tuple[int, int, int, float]],
) -> list[tuple[int, int, int, float]]:
    """Greedy flat NMS over (start_word, end_word_incl, label_idx, prob)
    candidates that are ALREADY thresholded and in enumeration order.
    Shared by the dense and sparse decode paths — one implementation of
    the pinned tie-break total order (ref SpanDecoder.swift:71-96).

    Accepted spans are pairwise non-overlapping (the overlap test rejects
    everything else, and equal spans overlap), so for large candidate
    sets one bisect neighbor check replaces the scan over all accepted
    spans; small sets keep the cheaper naive loop. Both orders of checks
    produce identical output (fuzz-pinned in tests)."""
    # Fast path: single-word spans at strictly increasing starts — the
    # dominant lexicon-hit shape — are pairwise disjoint, so greedy keeps
    # EVERY candidate, and with unique starts the final (start asc,
    # score desc) order is exactly the input enumeration order. One
    # early-exit scan replaces sort + NMS + sort (path equivalence
    # fuzz-pinned in tests/test_core_decode.py).
    prev = -1
    for c in candidates:
        if c[1] != c[0] or c[0] <= prev:
            break
        prev = c[0]
    else:
        return list(candidates)
    if len(candidates) > 512:
        # numpy stable argsort on -score == the python stable sort below
        # (ties keep enumeration order) at a fraction of the key-lambda
        # cost on large candidate sets
        scores = np.fromiter(
            (c[3] for c in candidates), dtype=np.float64, count=len(candidates)
        )
        order = np.argsort(-scores, kind="stable")
        candidates = [candidates[i] for i in order.tolist()]
    else:
        # reverse=True on a stable sort keeps enumeration order for
        # score ties (documented CPython behavior) — same total order as
        # key=-score, without the per-element negation lambda
        candidates = sorted(candidates, key=_SCORE_KEY, reverse=True)
    chosen: list[tuple[int, int, int, float]] = []
    if len(candidates) <= 128:
        # accepted intervals as flat parallel lists: the inner check
        # avoids tuple unpacking per accepted span (equal spans overlap,
        # so the interval test alone rejects duplicates too)
        astarts: list[int] = []
        aends: list[int] = []
        for cand in candidates:
            s = cand[0]
            e = cand[1]
            ok = True
            for i in range(len(astarts)):
                if s <= aends[i] and astarts[i] <= e:
                    ok = False
                    break
            if ok:
                chosen.append(cand)
                astarts.append(s)
                aends.append(e)
    else:
        from bisect import bisect_left, insort

        iv: list[tuple[int, int]] = []  # accepted (start, end_incl), disjoint
        for cand in candidates:
            s, e, _li, _score = cand
            if iv:
                i = bisect_left(iv, (e + 1, -1))  # iv[:i] all start <= e
                if i > 0 and iv[i - 1][1] >= s:
                    continue  # overlaps the accepted neighbor
            chosen.append(cand)
            insort(iv, (s, e))
    # chosen is in score-desc selection order, so a STABLE sort on start
    # alone yields (start asc, score desc, then enumeration order) — the
    # same total order as key=(start, -score) (ref SpanDecoder.swift:80-85)
    chosen.sort(key=_START_KEY)
    return chosen


def decode_candidates(
    candidates: list[tuple[int, int, int, float]],
    labels: list[str],
    threshold: float,
    text: str,
    spans: list[tuple[int, int]],
) -> list[Entity]:
    """Sparse decode path: backend supplies only the non-masked
    (start_word, width_idx, label_idx, logit) hits in enumeration order —
    no dense [words x widths x labels] tensor is ever allocated. Exactly
    the dense decode semantics (threshold inclusive, same NMS, same
    ordering); lexicon-style backends with ~10 hits per document skip
    ~99% of the dense path's allocation and scan work."""
    n_words = len(spans)
    if n_words == 0 or not labels or not candidates:
        return []
    if threshold >= 1.0:
        return []
    logit_thr = logit(threshold) if threshold > 0.0 else float("-inf")
    kept = [
        (s, s + w, li, lg)
        for s, w, li, lg in candidates
        if s + w < n_words and lg >= logit_thr
    ]
    if not kept:
        return []
    # same vectorized sigmoid as the dense path — scores must be
    # bit-identical between the two decodes (oracle hashes them)
    probs = sigmoid(np.array([k[3] for k in kept], dtype=np.float64))
    kept = [(s, e, li, float(p)) for (s, e, li, _), p in zip(kept, probs.tolist())]
    chosen = greedy_select_candidates(kept)
    out = []
    for s, e, li, score in chosen:
        cs, ce = spans[s][0], spans[e][1]
        out.append(Entity(text[cs:ce], labels[li], score, cs, ce))
    return out


def shift_entities(entities: list[Entity], offset: int) -> list[Entity]:
    """ref GLiNERModel.swift:481-491 — re-add chunk start offset."""
    if offset == 0:
        return entities
    return [
        Entity(e.text, e.label, e.score, e.start + offset, e.end + offset)
        for e in entities
    ]


def merge_chunk_entities(per_chunk: list[list[Entity]]) -> list[Entity]:
    """Cross-chunk dedup (ref Inference/ChunkProcessor.swift:14-72).

    Single chunk passes through untouched (including its order).
    """
    if not per_chunk:
        return []
    if len(per_chunk) == 1:
        return per_chunk[0]
    flat = [e for chunk in per_chunk for e in chunk]
    flat.sort(key=lambda e: -e.score)  # stable
    # Same greedy semantics as the naive scan (dup iff a selected
    # same-label entity shares lowercased text OR overlaps), but O(log k)
    # per candidate: equal-text is a set hit, and because every accepted
    # overlapper would itself have been rejected, the selected intervals
    # per label are pairwise DISJOINT — one bisect neighbor check decides
    # overlap. The naive loop is O(n*k); a long page with thousands of
    # distinct entities made it the next quadratic hot spot after the
    # chunker.
    from bisect import bisect_left, insort

    selected: list[Entity] = []
    seen_text: set = set()
    intervals: dict = {}  # label -> sorted list of (start, end)
    for ent in flat:
        if (ent.label, ent.text.lower()) in seen_text:
            continue
        iv = intervals.get(ent.label)
        if iv:
            i = bisect_left(iv, (ent.end, ent.end))  # first start >= end
            if i > 0 and iv[i - 1][1] > ent.start:
                continue  # previous interval overlaps
        else:
            iv = intervals[ent.label] = []
        selected.append(ent)
        seen_text.add((ent.label, ent.text.lower()))
        insort(iv, (ent.start, ent.end))
    return selected
