"""Scoring backends: pluggable span-scoring behind one interface.

The reference scores every candidate span against every label embedding
with a masked dot product — ground truth formula
``sigmoid(einsum("lkd,bpd->bplk", span_rep, struct_proj))``
(ref Scripts/dump_gliner2_tensors.py:83, SpanHead/GLiNER2SpanScoreBuilder.swift:44-69).

This container has no torch/onnxruntime, so the transformer encoder is
behind a swappable backend (exactly the strategy the reference's own tests
use — GLiNER2SchemaProjectorTests feed fake sequential hidden states):

  * GazetteerSpec    — deterministic lexicon backend. Drives the golden
                       parity tests (entities/offsets/scores/NMS pinned by
                       ref python_outputs.json) and the flagship KG query
                       over the synthetic corpus.
  * HashEmbeddingSpec— deterministic hashed bi-encoder: hashed word/label
                       embeddings, vectorized span mean-pooling + cosine
                       scoring. Cost-shaped like the real model (dense
                       [spans x dim] @ [dim x labels] per doc); used for
                       benchmarks. Mean pooling mirrors ref
                       Inference/SpanBuilder.swift:84-108; cosine mirrors
                       ref Inference/SimilarityScorer.swift:77-100.
  * NeuralStubSpec   — the GLiNER2-shaped span dataflow with seeded
                       weights: hashed word embeddings -> BiLSTM ->
                       span-rep FFN -> span x label dot product. The
                       cost-realistic backend (per-doc LSTM + FFN FLOPs).
  * PromptEncodingSpec— the full schema-encoding dataflow: prompt+text
                       subword encoding behind an encoder seam, prompt
                       projection, span, classifier and count heads.

Every backend provides ``score_document`` (dense [words x widths x
labels] logits), ``classify_logits`` (document-level label logits) and
``count_logits``; the two neural backends also batch documents through
``score_documents``.

Specs are tiny picklable dataclasses (broadcast with the query); the heavy
state is built lazily ONCE PER PYTHON WORKER via ``get_backend`` — the
Spark analogue of the reference's compile-once Core ML model reuse
(ref Models/GLiNEREncoder.swift:222-232) and label-embedding cache
(ref Inference/LabelEncoder.swift:10-51). Keep
``spark.python.worker.reuse=true`` so the cache survives across tasks.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

from glinerswift_spark.scoring.core import logit

NEG_INF = float(-1e30)


@dataclass(frozen=True)
class GazetteerSpec:
    """(lowercased surface, label) -> score in (0,1). Frozen/picklable."""

    entries: tuple = ()  # tuple of ((surface_lower, label), score)

    @staticmethod
    def from_dict(lexicon: dict) -> "GazetteerSpec":
        return GazetteerSpec(entries=tuple(sorted(lexicon.items())))

    def build(self) -> "GazetteerBackend":
        return GazetteerBackend(dict(self.entries))


@dataclass(frozen=True)
class HashEmbeddingSpec:
    dim: int = 64
    seed: int = 42
    scale: float = 8.0
    bias: float = -4.0
    # legacy GLiNER-v1 config surface kept available, like the reference's
    # Configuration.poolingMethod / similarityMetric (Configuration.swift:45-65):
    pooling: str = "mean"      # mean | max | concat (ref SpanBuilder.swift:84-146)
    similarity: str = "cosine"  # cosine | dot (ref SimilarityScorer.swift:50-110)

    def build(self) -> "HashEmbeddingBackend":
        return HashEmbeddingBackend(
            self.dim, self.seed, self.scale, self.bias, self.pooling, self.similarity
        )


def predict_count(logits: np.ndarray, max_count: int = 20) -> int:
    """A4: argmax over the 20 count logits -> predicted #structure
    instances, clamped (ref Models/GLiNER2SpanPipeline.swift:114-123,
    173-198; hook truth Scripts/dump_gliner2_tensors.py:65-66)."""
    return int(min(np.argmax(logits), max_count))


class GazetteerBackend:
    def __init__(self, lexicon: dict):
        self.lexicon = lexicon
        self.by_surface: dict = {}
        self._cells_cache: dict = {}
        for (surface, label), score in lexicon.items():
            self.by_surface.setdefault(surface, {})[label] = logit(score)
        from glinerswift_spark.functions.text import WORD_RE

        # longest phrase (in words) bounds the widths worth scoring —
        # everything wider stays -inf, which decodes identically to
        # scoring-and-thresholding it.
        self.max_phrase_words = max(
            (len(WORD_RE.findall(s)) for s in self.by_surface), default=1
        )

    def score_document(
        self, text: str, spans: list, labels: list
    ) -> np.ndarray:
        """logits [n_words, max_width, n_labels]; -inf where unmatched."""
        from glinerswift_spark.config import DEFAULT_CONFIG

        n = len(spans)
        max_w = DEFAULT_CONFIG.max_span_width
        out = np.full((n, max_w, len(labels)), NEG_INF, dtype=np.float64)
        label_idx = {lb: i for i, lb in enumerate(labels)}
        wmax = min(max_w, self.max_phrase_words)
        by_surface = self.by_surface
        for s in range(n):
            cs = spans[s][0]
            for w in range(min(wmax, n - s)):
                hit = by_surface.get(text[cs : spans[s + w][1]].lower())
                if hit:
                    for lb, lg in hit.items():
                        li = label_idx.get(lb)
                        if li is not None:
                            out[s, w, li] = lg
        return out

    def score_document_sparse(
        self, text: str, spans: list, labels: list
    ) -> list:
        """Sparse scoring: only the matched (start_word, width_idx,
        label_idx, logit) hits, in dense enumeration order (s asc, w asc,
        li asc) so `decode_candidates` reproduces the dense path's
        tie-break total order exactly. A lexicon backend touches ~10 cells
        of the [words x widths x labels] tensor per document — emitting
        just those skips the dense allocation + argwhere scan entirely."""
        from glinerswift_spark.config import DEFAULT_CONFIG

        n = len(spans)
        max_w = DEFAULT_CONFIG.max_span_width
        cells_by_surface = self._label_cells(tuple(labels))
        wmax = min(max_w, self.max_phrase_words)
        out = []
        for s in range(n):
            cs = spans[s][0]
            for w in range(min(wmax, n - s)):
                cells = cells_by_surface.get(text[cs : spans[s + w][1]].lower())
                if cells:
                    for li, lg in cells:
                        out.append((s, w, li, lg))
        return out

    def _label_cells(self, labels: tuple) -> dict:
        """surface -> ((label_idx, logit), ...) for one query's label list,
        sorted by label_idx (the enumeration tie-break order). Cached per
        label tuple — the per-hit dict-filter + sort in the scan loop was
        ~1/3 of single-core scoring time."""
        cached = self._cells_cache.get(labels)
        if cached is None:
            label_idx = {lb: i for i, lb in enumerate(labels)}
            cached = {}
            for surface, hit in self.by_surface.items():
                cells = sorted(
                    (li, lg)
                    for lb, lg in hit.items()
                    if (li := label_idx.get(lb)) is not None
                )
                if cells:
                    cached[surface] = tuple(cells)
            self._cells_cache[labels] = cached
        return cached

    def classify_logits(self, text: str, spans: list, labels: list) -> np.ndarray:
        """Document-level label logits: the max logit per label over the
        sparse hits, so no [words x widths x labels] tensor is built.
        Value-exact with max-over-the-dense-tensor (labels never hit keep
        the dense path's NEG_INF fill)."""
        out = np.full(len(labels), NEG_INF)
        for _, _, li, lg in self.score_document_sparse(text, spans, labels):
            if lg > out[li]:
                out[li] = lg
        return out

    def count_logits(self, text: str, structure_name: str) -> np.ndarray:
        """Deterministic count head for the lexicon backend: number of
        DISTINCT lexicon surfaces present (word-level), one-hot logits."""
        words = set(text.lower().split())
        n = min(sum(1 for s in self.by_surface if s in words), 19)
        logits = np.full(20, -10.0)
        logits[n] = 10.0
        return logits


def _hash_vec(token: str, dim: int, seed: int) -> np.ndarray:
    h = hashlib.md5(f"{seed}:{token}".encode()).digest()
    rng = np.random.default_rng(int.from_bytes(h[:8], "little"))
    v = rng.standard_normal(dim)
    return v / np.linalg.norm(v)


class HashEmbeddingBackend:
    def __init__(
        self,
        dim: int,
        seed: int,
        scale: float,
        bias: float,
        pooling: str = "mean",
        similarity: str = "cosine",
    ):
        self.dim = dim
        self.seed = seed
        self.scale = scale
        self.bias = bias
        self.pooling = pooling
        self.similarity = similarity
        self._word_cache: dict = {}
        self._label_cache: dict = {}

    def _word(self, w: str) -> np.ndarray:
        v = self._word_cache.get(w)
        if v is None:
            v = self._word_cache[w] = _hash_vec(w.lower(), self.dim, self.seed)
        return v

    def _labels(self, labels: list) -> np.ndarray:
        key = tuple(labels)
        m = self._label_cache.get(key)
        if m is None:
            m = np.stack([_hash_vec("label:" + lb, self.dim, self.seed) for lb in labels])
            self._label_cache[key] = m
        return m

    def score_document(self, text: str, spans: list, labels: list) -> np.ndarray:
        from glinerswift_spark.config import DEFAULT_CONFIG

        n = len(spans)
        max_w = DEFAULT_CONFIG.max_span_width
        n_lb = len(labels)
        if n == 0 or n_lb == 0:
            return np.full((n, max_w, n_lb), NEG_INF)

        words = np.stack([self._word(text[s:e]) for s, e in spans])  # [n, d]
        prefix = np.vstack([np.zeros((1, self.dim)), np.cumsum(words, axis=0)])
        lab = self._labels(labels)  # [L, d]
        if self.pooling == "concat":
            # [start ‖ end ‖ mean] (ref SpanBuilder.swift:131-146); label
            # vectors tiled to the tripled dimension
            lab = np.concatenate([lab, lab, lab], axis=1) / np.sqrt(3.0)

        out = np.full((n, max_w, n_lb), NEG_INF, dtype=np.float64)
        for w in range(max_w):
            m = n - w
            if m <= 0:
                break
            mean_emb = (prefix[w + 1 : w + 1 + m] - prefix[:m]) / (w + 1)
            if self.pooling == "mean":
                span_emb = mean_emb  # ref SpanBuilder.swift:84-108
            elif self.pooling == "max":
                # elementwise max over the span (ref SpanBuilder.swift:110-129)
                span_emb = words[:m].copy()
                for k in range(1, w + 1):
                    np.maximum(span_emb, words[k : k + m], out=span_emb)
            elif self.pooling == "concat":
                span_emb = np.concatenate(
                    [words[:m], words[w : w + m], mean_emb], axis=1
                )
            else:
                raise ValueError(f"unknown pooling {self.pooling!r}")
            if self.similarity == "cosine":
                norms = np.linalg.norm(span_emb, axis=1, keepdims=True)
                norms[norms == 0] = 1.0
                sim = (span_emb / norms) @ lab.T  # [m, L]
            elif self.similarity == "dot":
                sim = span_emb @ lab.T
            else:
                raise ValueError(f"unknown similarity {self.similarity!r}")
            out[:m, w, :] = sim * self.scale + self.bias
        return out

    def classify_logits(self, text: str, spans: list, labels: list) -> np.ndarray:
        """Doc-level label logits from WIDTH-1 spans only: logit[l] =
        max over words of sim(word_emb, label_emb)*scale+bias — the
        bi-encoder classifier-head analogue (strongest single word per
        label). Equal to the dense span tensor's width-1 slice max to
        float round-off (the dense path's width-1 mean is a prefix-sum
        difference), at 1/max_width the FLOPs and no
        [words x widths x labels] allocation; a doc-level classification
        job must not pay the span head's candidate enumeration."""
        n = len(spans)
        if n == 0 or not labels:
            return np.full(len(labels), NEG_INF)
        words = np.stack([self._word(text[s:e]) for s, e in spans])
        lab = self._labels(labels)
        if self.pooling == "concat":
            lab = np.concatenate([lab, lab, lab], axis=1) / np.sqrt(3.0)
            span_emb = np.concatenate([words, words, words], axis=1)
        else:
            span_emb = words  # mean/max pooling of one word IS the word
        if self.similarity == "cosine":
            norms = np.linalg.norm(span_emb, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            sim = (span_emb / norms) @ lab.T
        else:
            sim = span_emb @ lab.T
        return (sim * self.scale + self.bias).max(axis=0)

    def count_logits(self, text: str, structure_name: str) -> np.ndarray:
        h = hashlib.md5(
            f"count:{self.seed}:{structure_name}:{text[:64]}".encode()
        ).digest()
        rng = np.random.default_rng(int.from_bytes(h[:8], "little"))
        return rng.standard_normal(20)


@dataclass(frozen=True)
class NeuralStubSpec:
    """The complete GLiNER2-shaped dataflow with deterministic weights:

      words -> hashed word embeddings (stand-in for transformer hidden
      states, first-subword gather P7) -> BiLSTM contextualizer -> span
      representation head (FFN over [h_start ‖ h_end]) -> dot product
      against label embeddings (the reference's
      einsum("lkd,bpd->bplk") scoring, ref Scripts/dump_gliner2_tensors.py:83)
      -> logits.

    Numerics live in scoring/heads.py; trained weights would drop into the
    same classes via the S1/S3 manifest loaders. This is the
    cost-realistic backend: per-doc LSTM + FFN FLOPs dominate, like a real
    encoder."""

    dim: int = 64
    lstm_hidden: int = 32
    rep_dim: int = 64
    seed: int = 42
    scale: float = 4.0
    bias: float = -2.0

    def build(self) -> "NeuralStubBackend":
        return NeuralStubBackend(self)


class NeuralStubBackend:
    def __init__(self, spec: NeuralStubSpec):
        from glinerswift_spark.scoring.heads import SpanRepHead

        self.spec = spec
        self.head = SpanRepHead(
            spec.dim, spec.lstm_hidden, spec.rep_dim, seed_key=f"head:{spec.seed}"
        )
        self._word_cache: dict = {}
        self._label_cache: dict = {}

    def _word(self, w: str) -> np.ndarray:
        v = self._word_cache.get(w)
        if v is None:
            v = self._word_cache[w] = _hash_vec(w.lower(), self.spec.dim, self.spec.seed)
        return v

    def _labels(self, labels: list) -> np.ndarray:
        key = tuple(labels)
        m = self._label_cache.get(key)
        if m is None:
            m = np.stack(
                [_hash_vec("label:" + lb, self.spec.rep_dim, self.spec.seed) for lb in labels]
            )
            self._label_cache[key] = m
        return m

    def score_document(self, text: str, spans: list, labels: list) -> np.ndarray:
        from glinerswift_spark.config import DEFAULT_CONFIG

        n = len(spans)
        max_w = DEFAULT_CONFIG.max_span_width
        n_lb = len(labels)
        if n == 0 or n_lb == 0:
            return np.full((n, max_w, n_lb), NEG_INF)
        words = np.stack([self._word(text[s:e]) for s, e in spans])
        span_rep = self.head(words, max_w)           # [n, max_w, rep]
        logits = span_rep @ self._labels(labels).T   # [n, max_w, L]
        logits = logits * self.spec.scale + self.spec.bias
        # mask spans that run past the document end (start > n-1-w)
        for w in range(1, max_w):
            logits[max(n - w, 0) :, w, :] = NEG_INF
        return logits

    def score_documents(
        self, texts: list, spans_list: list, labels: list
    ) -> list:
        """Batched scoring: one BiLSTM/FFN batch pass across documents —
        the per-timestep GEMMs run once for the whole batch instead of
        once per document. Same numerics as score_document per doc
        (float round-off only; pinned by test)."""
        from glinerswift_spark.config import DEFAULT_CONFIG

        max_w = DEFAULT_CONFIG.max_span_width
        n_lb = len(labels)
        lab = self._labels(labels) if n_lb else None
        word_mats = []
        for text, spans in zip(texts, spans_list):
            if spans and n_lb:
                word_mats.append(
                    np.stack([self._word(text[s:e]) for s, e in spans])
                )
            else:
                word_mats.append(np.zeros((0, self.spec.dim)))
        reps = self.head.batch(word_mats, max_w)
        out = []
        for spans, span_rep in zip(spans_list, reps):
            n = len(spans)
            if n == 0 or n_lb == 0:
                out.append(np.full((n, max_w, n_lb), NEG_INF))
                continue
            logits = span_rep @ lab.T * self.spec.scale + self.spec.bias
            for w in range(1, max_w):
                logits[max(n - w, 0):, w, :] = NEG_INF
            out.append(logits)
        return out

    def classify_logits(self, text: str, spans: list, labels: list) -> np.ndarray:
        """Doc-level label logits from WIDTH-1 span reps only: one BiLSTM
        pass + n width-1 FFN reps instead of the full [n, max_width]
        span tensor — bit-identical to the dense tensor's width-1 slice
        max (same head code path, max_width=1), at 1/max_width the
        FFN/score FLOPs."""
        n = len(spans)
        if n == 0 or not labels:
            return np.full(len(labels), NEG_INF)
        words = np.stack([self._word(text[s:e]) for s, e in spans])
        rep = self.head(words, 1)[:, 0, :]  # [n, rep]
        logits = rep @ self._labels(labels).T * self.spec.scale + self.spec.bias
        return logits.max(axis=0)

    def count_logits(self, text: str, structure_name: str) -> np.ndarray:
        h = hashlib.md5(
            f"ncount:{self.spec.seed}:{structure_name}:{text[:64]}".encode()
        ).digest()
        rng = np.random.default_rng(int.from_bytes(h[:8], "little"))
        return rng.standard_normal(20)


@dataclass(frozen=True)
class PromptEncodingSpec:
    """The full GLiNER2 schema-encoding dataflow (P6+P7+P8 wired end to
    end behind the backend seam):

      (schema, text) -> combined prompt+text token sequence -> unigram
      subword tokenize (F3) -> per-subword hidden states (the encoder
      SEAM — deterministic fixed-window 'contextual' hash states here; a
      real transformer drops in at exactly this point) -> first-subword
      word gather (P7) -> prompt-range mean for [P]/[E] markers (P8) ->
      prompt projection FFN -> span-rep head (F12) -> span x label dot
      product (J1, the einsum analogue) -> logits.

    Count predictor runs off the [P] embedding; count-embed produces
    per-instance label projections (ref GLiNER2SpanPipeline.swift:63-147).

    Weight shipping, in precedence order:
      * ``weights_broadcast`` — a ``sc.broadcast(PromptHeads)`` handle:
        the driver loads/builds the heads ONCE and Spark's broadcast
        machinery caches the deserialized bundle per executor — the
        "broadcast model weights per executor" deployment shape. The
        handle pickles inside this frozen spec like any broadcast in a
        closure.
      * ``weights_dir`` — a PromptHeads.save() directory read per worker
        (ship files via spark-submit --files + the manifest's
        resolve_for_executors).
      * neither — deterministic seeded weights (no checkpoints in this
        container)."""

    dim: int = 64
    lstm_hidden: int = 32
    rep_dim: int = 64
    seed: int = 42
    scale: float = 4.0
    bias: float = -2.0
    max_count: int = 20
    max_seq_len: int = 512
    weights_dir: str = ""
    weights_broadcast: object = None
    # Encoder seam (items the reference fills with Core ML): a picklable
    # callable ``provider(encoding, default_states) -> [T, dim]`` that
    # replaces/augments the deterministic hash states. A real ONNX/torch
    # encoder, or precomputed per-word states (WordStatesProvider below),
    # drops in here without touching the pipeline. Must be hashable (the
    # spec is the per-worker backend cache key).
    hidden_states_provider: object = None

    def build(self) -> "PromptEncodingBackend":
        return PromptEncodingBackend(self)


@dataclass(frozen=True)
class WordStatesProvider:
    """Precomputed per-word hidden states keyed by lowercased surface.

    Every subword of a TEXT-segment word is overridden with the word's
    vector (so the first-subword gather P7 returns it exactly, whatever
    the subword segmentation); schema/separator/pad positions keep the
    backend's default states. Unknown words keep the default too — the
    provider degrades gracefully on out-of-table surfaces.

    This is the deployment shape for precomputed embeddings (a broadcast
    word->vector table) and the test seam that feeds the reference's REAL
    DeBERTa hidden states (python_outputs.json encoder_output) through
    the full backend extraction path.
    """

    entries: tuple = ()  # tuple of (word_lower, tuple-of-floats)

    @staticmethod
    def from_dict(table: dict) -> "WordStatesProvider":
        return WordStatesProvider(
            entries=tuple(sorted((w, tuple(map(float, v))) for w, v in table.items()))
        )

    def _table(self) -> dict:
        t = getattr(self, "_map", None)
        if t is None:
            t = {w: np.asarray(v, dtype=np.float64) for w, v in self.entries}
            object.__setattr__(self, "_map", t)  # frozen-safe memo
        return t

    def __call__(self, encoding, default_states: np.ndarray) -> np.ndarray:
        from glinerswift_spark.functions.schema_encoding import SEGMENT_TEXT

        table = self._table()
        out = np.array(default_states, copy=True)
        text_start = None
        for i, (seg, orig) in enumerate(encoding.segments):
            if seg != SEGMENT_TEXT:
                continue
            if text_start is None:
                text_start = orig
            vec = table.get(encoding.text_words[orig - text_start])
            if vec is not None:
                out[i] = vec
        return out


def _char_vocab() -> list:
    """Fallback unigram vocabulary when no tokenizer.json ships with the
    manifest: '▁'-prefixed and bare single characters over printable
    ASCII. Guarantees every normalized word segments (multi-piece, first
    piece distinct per leading character), which is what the subword
    plumbing needs; a real vocab swaps in via
    UnigramTokenizer.from_tokenizer_json."""
    import string

    chars = string.ascii_lowercase + string.digits + string.punctuation
    vocab = [("<unk>", -12.0)]
    vocab += [("▁" + c, -2.0) for c in chars]
    vocab += [(c, -2.5) for c in chars]
    vocab.append(("▁", -3.0))
    return vocab


class _CachedTokenizer:
    """Memoizing facade over UnigramTokenizer: the schema/text encoder
    re-tokenizes the same words constantly (labels every document,
    Zipf-repeated text words) and the per-char lattice Viterbi is the
    python-side cost — one dict hit replaces it."""

    def __init__(self, inner):
        self.inner = inner
        self.unk = inner.unk
        self._memo: dict = {}

    def tokenize(self, text: str):
        r = self._memo.get(text)
        if r is None:
            r = self._memo[text] = self.inner.tokenize(text)
        return r


class PromptEncodingBackend:
    SPECIALS = ("[P]", "[E]", "[C]", "[L]", "[SEP_TEXT]")

    def __init__(self, spec: PromptEncodingSpec):
        from glinerswift_spark.functions.subword import UnigramTokenizer
        from glinerswift_spark.scoring.heads import PromptHeads

        self.spec = spec
        inner_tok = UnigramTokenizer(_char_vocab())
        base = len(inner_tok.pieces)
        self.special_ids = {}
        for i, tok in enumerate(self.SPECIALS):
            self.special_ids[tok] = base + i
            inner_tok.register_special_token(tok, base + i)
        self.tokenizer = _CachedTokenizer(inner_tok)
        if spec.weights_broadcast is not None:
            # .value is executor-cached by Spark's broadcast machinery:
            # one deserialization per worker, shared across tasks
            self.heads = spec.weights_broadcast.value
        elif spec.weights_dir:
            self.heads = PromptHeads.load(spec.weights_dir)
        else:
            self.heads = PromptHeads.seeded(
                spec.dim, spec.lstm_hidden, spec.rep_dim,
                max_count=spec.max_count, key=f"promptheads:{spec.seed}",
            )
        self._vec_cache: dict = {}

    # -- encoder seam ------------------------------------------------------
    def _tok_vec(self, token: str) -> np.ndarray:
        v = self._vec_cache.get(token)
        if v is None:
            v = self._vec_cache[token] = _hash_vec(
                "hs:" + token, self.spec.dim, self.spec.seed
            )
        return v

    def _hidden_states(self, encoding) -> np.ndarray:
        """Per-subword hidden states: the default deterministic contextual
        hash states, optionally transformed by the spec's injectable
        ``hidden_states_provider`` (the encoder seam — real/precomputed
        states drop in here). P6 is enforced REGARDLESS of provider:
        masked positions are zeroed after the provider runs."""
        states = self._default_hidden_states(encoding)
        provider = self.spec.hidden_states_provider
        if provider is None:
            return states
        return self._finish_provider_states(
            encoding, provider(encoding, states)
        )

    def _finish_provider_states(self, encoding, out) -> np.ndarray:
        """Shared provider post-step: dtype, shape check, P6 re-zeroing
        of masked positions (enforced REGARDLESS of provider).

        Always copies: asarray on an already-C-contiguous float64 input
        is a no-copy view, and the in-place masked zeroing below would
        silently corrupt a provider-side cache of its own states."""
        out = np.array(out, dtype=np.float64, copy=True)
        if out.shape != (len(encoding.input_ids), self.spec.dim):
            raise ValueError(
                f"hidden_states_provider returned shape {out.shape}; "
                f"expected ({len(encoding.input_ids)}, {self.spec.dim})"
            )
        mask = np.asarray(encoding.attention_mask, dtype=bool)
        out[~mask] = 0.0
        return out

    def _default_hidden_states(self, encoding) -> np.ndarray:
        """Deterministic per-subword states with a fixed attention window:
        state(i) = normalize(h(orig_i) + 0.5 h(orig_{i+1}) + 0.25 h(orig_{i-1})).
        The window makes the states CONTEXTUAL enough that each [E]
        marker absorbs its following label (as the real encoder's
        attention does) — without it every [E] would project to the same
        label embedding and the prompt-mean path would be untestable."""
        orig = encoding.original_tokens
        mask = encoding.attention_mask
        T = len(orig)
        n_real = sum(mask)
        if n_real == T or all(mask[:n_real]) and not any(mask[n_real:]):
            # vectorized fast path (no padding, or suffix-only padding —
            # the only shapes pad_encoding produces): same per-element
            # add order as the scalar loop, so values are identical
            V = np.stack([self._tok_vec(t) for t in orig[:n_real]]) \
                if n_real else np.zeros((0, self.spec.dim))
            out_r = V.copy()
            if n_real > 1:
                out_r[:-1] += 0.5 * V[1:]
                out_r[1:] += 0.25 * V[:-1]
            norms = np.sqrt((out_r * out_r).sum(axis=1, keepdims=True))
            norms[norms == 0] = 1.0
            out = np.zeros((T, self.spec.dim))
            out[:n_real] = out_r / norms
            return out
        out = np.zeros((T, self.spec.dim))
        for i in range(T):
            if not mask[i]:
                continue  # P6: masked positions emit nothing
            v = self._tok_vec(orig[i]).copy()
            if i + 1 < T and mask[i + 1]:
                v += 0.5 * self._tok_vec(orig[i + 1])
            if i > 0 and mask[i - 1]:
                v += 0.25 * self._tok_vec(orig[i - 1])
            n = np.linalg.norm(v)
            out[i] = v / (n if n > 0 else 1.0)
        return out

    # -- pipeline ----------------------------------------------------------
    def encode(self, words: list, labels: list, task: str = "entities",
               marker: str = "[E]"):
        from glinerswift_spark.functions.schema_encoding import (
            encode_schema_input,
        )

        return encode_schema_input(
            self.tokenizer, words, labels, self.special_ids,
            task=task, max_len=self.spec.max_seq_len, marker=marker,
        )

    def _project(self, encoding):
        from glinerswift_spark.functions.schema_encoding import (
            project_hidden_states,
        )

        return project_hidden_states(self._hidden_states(encoding), encoding)

    def score_document(self, text: str, spans: list, labels: list) -> np.ndarray:
        from glinerswift_spark.config import DEFAULT_CONFIG
        from glinerswift_spark.functions.schema_encoding import (
            entity_label_embeddings,
        )

        n = len(spans)
        max_w = DEFAULT_CONFIG.max_span_width
        n_lb = len(labels)
        if n == 0 or n_lb == 0:
            return np.full((n, max_w, n_lb), NEG_INF)
        words = [text[s:e] for s, e in spans]
        encoding = self.encode(words, labels)
        word_embs, prompts = self._project(encoding)
        label_embs = entity_label_embeddings(prompts, n_lb)     # [L, dim]
        label_proj = self.heads.prompt_proj(label_embs)         # [L, rep]
        span_rep = self.heads.span_head(word_embs, max_w)       # [n, w, rep]
        logits = span_rep @ label_proj.T                        # [n, w, L]
        logits = logits * self.spec.scale + self.spec.bias
        for w in range(1, max_w):
            logits[max(n - w, 0):, w, :] = NEG_INF
        return logits

    def score_documents(
        self, texts: list, spans_list: list, labels: list
    ) -> list:
        """Batched scoring: encoding + projection stay per-document
        (python-side, memoized tokenization), but the span-rep head runs
        ONE BiLSTM/FFN batch pass across all documents — the same batch
        seam a real batched transformer encoder plugs into.

        Overflow is reported per document: a document whose encoding
        exceeds ``spec.max_seq_len`` stays out of the forward pass and
        gets ``None`` in its output slot (the caller re-chunks it), while
        every other slot holds its logits as usual. ``score_document``
        raises ``EncodingOverflowError`` instead."""
        from glinerswift_spark.config import DEFAULT_CONFIG
        from glinerswift_spark.functions.schema_encoding import (
            EncodingOverflowError,
            entity_label_embeddings,
        )

        max_w = DEFAULT_CONFIG.max_span_width
        n_lb = len(labels)
        fits = []  # indices of the documents that fit the window
        encodings = []
        for i, (text, spans) in enumerate(zip(texts, spans_list)):
            encoding = None
            if spans and n_lb:
                words = [text[s:e] for s, e in spans]
                try:
                    encoding = self.encode(words, labels)
                except EncodingOverflowError:
                    continue
            fits.append(i)
            encodings.append(encoding)

        # Cross-document encoder batching: a provider exposing
        # forward_batch gets ALL the batch's encodings in one call, so a
        # wide (DRAM-bandwidth-bound) encoder streams its weights once
        # per micro-batch instead of once per document. Providers
        # without the hook (WordStatesProvider, test seams) keep the
        # per-document path; the default hash states are then computed
        # per doc as before.
        provider = self.spec.hidden_states_provider
        states_by_doc: list = [None] * len(encodings)
        if provider is not None and hasattr(provider, "forward_batch"):
            live_idx = [i for i, e in enumerate(encodings) if e is not None]
            batched = provider.forward_batch([encodings[i] for i in live_idx])
            for i, raw in zip(live_idx, batched):
                states_by_doc[i] = self._finish_provider_states(
                    encodings[i], raw
                )

        word_mats = []
        label_projs = []
        for encoding, states in zip(encodings, states_by_doc):
            if encoding is None:
                word_mats.append(np.zeros((0, self.spec.dim)))
                label_projs.append(None)
                continue
            if states is None:
                word_embs, prompts = self._project(encoding)
            else:
                from glinerswift_spark.functions.schema_encoding import (
                    project_hidden_states,
                )

                word_embs, prompts = project_hidden_states(states, encoding)
            word_mats.append(word_embs)
            label_projs.append(
                self.heads.prompt_proj(entity_label_embeddings(prompts, n_lb))
            )
        reps = self.heads.span_head.batch(word_mats, max_w)
        out: list = [None] * len(texts)
        for i, span_rep, lab in zip(fits, reps, label_projs):
            n = len(spans_list[i])
            if n == 0 or lab is None:
                out[i] = np.full((n, max_w, n_lb), NEG_INF)
                continue
            logits = span_rep @ lab.T * self.spec.scale + self.spec.bias
            for w in range(1, max_w):
                logits[max(n - w, 0):, w, :] = NEG_INF
            out[i] = logits
        return out

    def classify_logits(self, text: str, spans: list, labels: list) -> np.ndarray:
        """Dedicated classifier head: logits come from the schema's [C]
        label embeddings through a linear head — the reference's
        dataflow (ref Models/GLiNER2ClassifierModel.swift:18-51:
        classifier.logits(schemaEmbeddings:)), NOT a max over the span
        tensor. No span representations are computed at all."""
        from glinerswift_spark.functions.prompt import TOKEN_CLASSIFICATION
        from glinerswift_spark.functions.schema_encoding import (
            entity_label_embeddings,
        )

        words = [text[s:e] for s, e in spans]
        encoding = self.encode(
            words, labels, task="classification", marker=TOKEN_CLASSIFICATION
        )
        _, prompts = self._project(encoding)
        label_embs = entity_label_embeddings(
            prompts, len(labels), kind="classification"
        )
        return self.heads.classifier(label_embs)[:, 0]

    def count_logits(self, text: str, structure_name: str) -> np.ndarray:
        """[P] prompt embedding -> count-predictor linear head (A4 input,
        ref GLiNER2SpanPipeline.swift:117: countPredictor.predict(
        promptEmbeddings: [promptEmbedding]))."""
        from glinerswift_spark.functions.schema_encoding import (
            prompt_task_embedding,
        )
        from glinerswift_spark.functions.text import WORD_RE

        words = WORD_RE.findall(text) or [""]
        encoding = self.encode(words, [structure_name], task=structure_name)
        _, prompts = self._project(encoding)
        return self.heads.count_predictor(prompt_task_embedding(prompts))

    def structure_projections(self, text: str, labels: list) -> np.ndarray:
        """Count-conditioned per-instance label projections
        [predicted_count, L, dim]: count-embed over the [E] label
        embeddings, truncated to the [P]-predicted instance count
        (ref GLiNER2SpanPipeline.swift:118-124)."""
        from glinerswift_spark.functions.schema_encoding import (
            entity_label_embeddings,
            prompt_task_embedding,
        )
        from glinerswift_spark.functions.text import WORD_RE

        words = WORD_RE.findall(text) or [""]
        encoding = self.encode(words, labels)
        _, prompts = self._project(encoding)
        label_embs = entity_label_embeddings(prompts, len(labels))
        count = predict_count(
            self.heads.count_predictor(prompt_task_embedding(prompts)),
            self.spec.max_count,
        )
        return self.heads.count_embed(label_embs, count)


_BACKEND_CACHE: dict = {}


def get_backend(spec):
    """Per-Python-worker backend singleton (model loaded once per worker)."""
    key = spec
    b = _BACKEND_CACHE.get(key)
    if b is None:
        b = _BACKEND_CACHE[key] = spec.build()
    return b


# ---------------------------------------------------------------------------
# Flagship gazetteer over the synthetic corpus vocabulary (/root/testdata
# documents.parquet). Deterministic scores: 0.6 + (len(term) % 40) / 100 —
# chosen to be exactly re-computable in ANSI SQL for the DuckDB oracle.
# ---------------------------------------------------------------------------

OPERATOR_TERMS = ("scan", "join", "sort", "merge", "filter", "agg", "hash", "group")
OBJECT_TERMS = ("table", "column", "row", "key", "vector", "stream", "batch", "query")


def term_score(term: str) -> float:
    return 0.6 + (len(term) % 40) / 100.0


def flagship_gazetteer() -> GazetteerSpec:
    lex = {}
    for t in OPERATOR_TERMS:
        lex[(t, "operator")] = term_score(t)
    for t in OBJECT_TERMS:
        lex[(t, "object")] = term_score(t)
    return GazetteerSpec.from_dict(lex)


FLAGSHIP_LABELS = ["operator", "object"]
