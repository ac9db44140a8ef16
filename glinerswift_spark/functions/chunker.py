"""Sliding-window text chunker for long documents.

Behavioral re-expression of ref Tokenization/TextChunker.swift:10-127:
  * greedy windows of at most ``max_chars`` characters,
  * prefer breaking at the last newline in the window, else just after the
    last whitespace,
  * trim surrounding whitespace,
  * shrink at whitespace boundaries (else char-by-char) while the window
    exceeds ``max_words`` words,
  * windows overlap by min(overlap, len-1) characters.

Offsets are code-point indices into the original text (the Swift original
counts Characters/grapheme clusters; for our corpora — and all goldens —
these coincide, and code points are what Python string slicing uses).
Entity offsets from a chunk are shifted by ``start`` at merge time
(ref GLiNERModel.swift:481-491).
"""

from __future__ import annotations

from bisect import bisect_left
from dataclasses import dataclass

from glinerswift_spark.functions.text import WORD_RE, count_words


@dataclass(frozen=True)
class TextChunk:
    text: str
    start: int
    end: int
    word_count: int


def _trim(text: str, lo: int, hi: int) -> tuple[int, int]:
    while lo < hi and text[lo].isspace():
        lo += 1
    while hi > lo and text[hi - 1].isspace():
        hi -= 1
    return lo, hi


def _last_ws(s: str) -> int:
    for i in range(len(s) - 1, -1, -1):
        if s[i].isspace():
            return i
    return -1


def chunk_text(
    text: str,
    max_chars: int = 4096,
    overlap: int = 512,
    max_words: int = 240,
) -> list[TextChunk]:
    max_chars = max(256, max_chars)
    overlap = max(0, overlap)
    max_words = max(1, max_words)
    if not text:
        return []

    chunks: list[TextChunk] = []
    start = 0
    n = len(text)
    while start < n:
        limit = min(start + max_chars, n)
        cand_end = limit
        if limit != n:
            window = text[start:limit]
            nl = window.rfind("\n")
            if nl != -1:
                cand_end = start + nl
            else:
                ws = _last_ws(window)
                if ws != -1:
                    cand_end = start + ws + 1
        if cand_end <= start:
            cand_end = limit

        lo, hi = _trim(text, start, cand_end)
        if lo >= hi:
            start = cand_end
            continue

        wc = count_words(text[lo:hi])
        if wc > max_words and (hi - lo) > 1:
            # Closed-form shrink: the one-word-at-a-time loop (cut at the
            # last whitespace, trim, recount — O(chunk²) and the measured
            # hot spot on long documents) converges to the LARGEST
            # whitespace position at or before the start of the first
            # over-limit token: every cut lands on whitespace, each
            # removes the text after it, and the loop stops the first
            # time the count is within budget. Jump there directly; the
            # count after a whitespace cut is a bisect over token starts
            # (end-truncation at whitespace never splits or merges
            # earlier tokens).
            starts = [m.start() for m in WORD_RE.finditer(text, lo, hi)]
            cut = starts[max_words]
            while cut > lo and not text[cut - 1].isspace():
                cut -= 1
            if cut > lo:  # text[cut-1] is whitespace; _trim drops it too
                lo, hi = _trim(text, lo, cut)
                wc = bisect_left(starts, hi) if lo < hi else 0
            else:
                # no whitespace before the limit: original char-wise
                # fallback (pathological unspaced text)
                while wc > max_words and (hi - lo) > 1:
                    shrink_rel = _last_ws(text[lo:hi])
                    if shrink_rel != -1:
                        if lo + shrink_rel <= lo:
                            break
                        hi = lo + shrink_rel
                    else:
                        if hi - 1 <= lo:
                            break
                        hi -= 1
                    lo, hi = _trim(text, lo, hi)
                    if lo >= hi:
                        break
                    wc = count_words(text[lo:hi])

        if lo >= hi:
            start = cand_end
            continue

        chunks.append(TextChunk(text[lo:hi], lo, hi, wc))
        if hi >= n:
            break
        od = min(overlap, max(0, (hi - lo) - 1))
        start = hi if od <= 0 else max(hi - od, lo)

    return chunks
