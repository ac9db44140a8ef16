"""Word splitter, normalization, chunker goldens.

Semantics refs: WordSplitter.swift:14 (regex), SentencePieceUnigram.swift:68-73
(NFKC + whitespace incl. U+3000/U+FEFF), TextChunker.swift:10-127.
"""

from glinerswift_spark.functions.chunker import chunk_text
from glinerswift_spark.functions.text import (
    count_words,
    extract_text_from_html,
    normalize_text,
    word_tokens,
)


def test_word_split_regex_semantics():
    toks = word_tokens("Apple Inc. state-of-the-art foo_bar!")
    assert [t[0] for t in toks] == ["Apple", "Inc", ".", "state-of-the-art", "foo_bar", "!"]
    # offsets index the original string
    assert toks[0][1:] == (0, 5)
    assert toks[2][1:] == (9, 10)


def test_word_split_unicode_and_empty():
    assert word_tokens("") == []
    toks = word_tokens("café  naïve")
    assert [t[0] for t in toks] == ["café", "naïve"]
    assert count_words("a b c") == 3 and count_words("") == 0


def test_normalize_text_golden():
    # NFKC folds fullwidth; U+3000 ideographic space and U+FEFF collapse
    assert normalize_text("Ｈｅｌｌｏ　ｗｏｒｌｄ﻿!") == "Hello world !"
    assert normalize_text("  a\t\nb  ") == "a b"
    assert normalize_text("") == ""


def test_html_extraction_deterministic_golden():
    html = b"<html><head><style>x{}</style></head><body><h1>Big&amp;Co</h1>\n<script>var x=1;</script><p>Hello <b>world</b></p></body></html>"
    assert extract_text_from_html(html) == "Big&Co Hello world"
    # byte-identical invariant: same bytes -> same text, twice
    assert extract_text_from_html(html) == extract_text_from_html(html)
    assert extract_text_from_html(b"") == ""


def test_chunk_short_text_single():
    chunks = chunk_text("hello world", max_chars=256, overlap=16, max_words=240)
    assert len(chunks) == 1
    c = chunks[0]
    assert (c.text, c.start, c.end, c.word_count) == ("hello world", 0, 11, 2)


def test_chunk_breaks_at_newline_then_whitespace():
    words = ["w%03d" % i for i in range(100)]
    text = " ".join(words[:50]) + "\n" + " ".join(words[50:])
    chunks = chunk_text(text, max_chars=300, overlap=0, max_words=240)
    # first chunk ends exactly at the newline (excluded), trimmed
    assert chunks[0].text == " ".join(words[:50])
    assert text[chunks[0].start : chunks[0].end] == chunks[0].text
    # full reconstruction property with no overlap: chunks tile the words
    joined = " ".join(c.text for c in chunks).split()
    assert joined == words


def test_chunk_overlap_and_offsets():
    text = " ".join("tok%02d" % i for i in range(80))
    chunks = chunk_text(text, max_chars=256, overlap=32, max_words=240)
    assert len(chunks) > 1
    for prev, nxt in zip(chunks, chunks[1:]):
        assert nxt.start < prev.end  # overlapping windows
        assert nxt.start >= prev.start
    for c in chunks:
        assert text[c.start : c.end] == c.text
        assert not c.text[0].isspace() and not c.text[-1].isspace()
    assert chunks[-1].end == len(text)


def test_chunk_word_budget_shrink():
    text = " ".join("w" * 3 for _ in range(300))
    chunks = chunk_text(text, max_chars=4096, overlap=0, max_words=50)
    assert all(c.word_count <= 50 for c in chunks)
    assert " ".join(c.text for c in chunks).split() == text.split()


def test_chunk_unbreakable_run_falls_back_to_hard_cut():
    text = "x" * 1000  # no whitespace anywhere
    chunks = chunk_text(text, max_chars=256, overlap=0, max_words=240)
    assert [c.text for c in chunks] == ["x" * 256, "x" * 256, "x" * 256, "x" * 232]
    assert chunks[1].start == 256
