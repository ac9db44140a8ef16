"""Pipeline configuration.

Defaults mirror the reference's active code path, not its README:
ref Models/Configuration.swift:45-65 (threshold 0.3, maxSequenceLength 384,
strideLength 192, maxSpanLength 8, hiddenDim 512) and the
manifest constants (max_seq_len 512, max_width 8, max_schema_tokens 64,
max_count 20 — ref Tests/GLiNERSwiftTests/GLiNER2ResourcesTests.swift:17-18).

Chunker wiring mirrors ref GLiNERModel.swift:323-344:
  maxCharacters = max(maxSequenceLength * 8, 2048)
  overlapCharacters = max(strideLength * 4, 256)
  maxWords = max(maxWordCount - 8, 1)   # maxWordCount := chunk word budget (240)
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class Configuration:
    """Extraction configuration (broadcast to executors as plain data)."""

    threshold: float = 0.3
    max_sequence_length: int = 384
    stride_length: int = 192
    max_span_width: int = 8          # ref max_width=8 (GLiNER2ResourcesTests.swift:17-18)
    hidden_dim: int = 512
    max_schema_tokens: int = 64
    max_count: int = 20
    max_word_count: int = 240        # ref TextChunker.defaultMaxWordLimit

    @property
    def chunk_max_characters(self) -> int:
        # ref GLiNERModel.swift:338-340
        return max(self.max_sequence_length * 8, 2048)

    @property
    def chunk_overlap_characters(self) -> int:
        # ref GLiNERModel.swift:342-344
        return max(self.stride_length * 4, 256)

    @property
    def chunk_max_words(self) -> int:
        # ref GLiNERModel.swift:326 (maxWordCount - 8, floor 1)
        return max(self.max_word_count - 8, 1)


DEFAULT_CONFIG = Configuration()


@dataclass(frozen=True)
class RelationConfig:
    """[NORTH-RULE, no ref] deterministic relation-templating semantics.

    Within one document, for entities a, b (a.start < b.start, or a.start ==
    b.start and a.end < b.end) with gap b.start - a.end in [0, window_chars],
    emit (subj=a.text, pred=template[(a.label, b.label)], obj=b.text) when the
    ordered label pair has a template. score = min(a.score, b.score).
    """

    window_chars: int = 100
    templates: dict = field(
        default_factory=lambda: {
            ("person", "organization"): "works_at",
            ("person", "location"): "located_in",
            ("organization", "location"): "located_in",
            ("person", "position"): "holds_position",
            ("operator", "object"): "acts_on",
            ("object", "operator"): "consumed_by",
        }
    )


@dataclass(frozen=True)
class LinkingConfig:
    """[NORTH-RULE, no ref] entity-linking semantics.

    Blocking: MinHash over character shingles of the lowercased surface form,
    banded LSH; candidate pairs share (band, band-signature).
    Verification: cosine similarity >= cosine_threshold on mention embeddings
    (cosine math mirrors ref Inference/SimilarityScorer.swift:77-100).
    Canonicalization: connected components; canonical_id = min(mention_id).
    """

    shingle_size: int = 3
    num_bands: int = 4
    cosine_threshold: float = 0.85
    max_cc_iterations: int = 20
