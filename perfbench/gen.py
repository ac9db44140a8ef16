"""Seeded input generator for the three benchmark workloads.

Every table the engine sees comes from here: ``documents`` (doc_id, text,
lang), the gazetteer lexicon and the ``embeddings`` dimension table. The
same seed gives byte-identical inputs; nothing reads the repository's
test data.

Text is drawn from a Zipf-Mandelbrot vocabulary (frequent words are short,
as in real text), so shingle document frequencies, lexicon hit rates and
subword counts behave like a crawl rather than like a 29-word toy corpus.

Where the input shapes come from. One figure is sourced: kg_build's
mean document length follows C4.en, the cleaned Common Crawl corpus, at
365M documents and 156B tokens, i.e. ~430 tokens per document (Dodge et
al., "Documenting Large Webtext Corpora", EMNLP 2021, Table 1). The form
of the word distribution is the Zipf-Mandelbrot law reviewed by
Piantadosi ("Zipf's word frequency law in natural language", Psychonomic
Bulletin & Review, 2014); its parameters here are not fitted. Every other
share -- the lognormal spread of document lengths, entity density, label
mix, near-variant share, entity popularity, the encoder workload's long
and URL-soup shares, the dedup workload's planted shares -- is an
UNVERIFIED ASSUMPTION, chosen to exercise a code path, not measured from
a crawl. ``ASSUMED`` lists them so the result sidecar carries them.

Each ``make_*`` returns a ``Workload`` holding the documents, whatever
ground truth the output check needs, and ``props``: the input properties
later claims use as their base (docs, words, share over the chunk word
budget, share of subword-overflowing docs, lexicon size, planted dup
shares, max shingle document frequency).
"""

from __future__ import annotations

import hashlib
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

LANGS = ("en", "de", "fr", "es")
KG_LABELS = ["person", "organization", "location"]
ENCODER_LABELS = ["person", "organization"]
EMBED_DIM = 64
N_VECS = 32768
CHUNK_MAX_WORDS = 232  # Configuration().chunk_max_words
# C4.en: 156B tokens / 365M documents (Dodge et al. 2021, Table 1)
C4_MEAN_WORDS = 430

# generator parameters with no published source (see the module
# docstring); the generators read them from here
ASSUMED = {
    "kg_build": {
        "length_lognormal_sigma": 0.9,  # median = mean / e^(sigma^2 / 2)
        "words_per_entity": 25,
        "label_mix_person_org_loc": [0.5, 0.3, 0.2],
        "variant_spelling_share": 0.2,
        "entity_popularity_zipf_a": 1.3,
        "gazetteer_bases": {"person": 2000, "organization": 1200, "location": 800},
    },
    "encoder_extract": {
        "short_doc_median_words": 30,
        "long_doc_every": 25,   # 4% of docs
        "url_soup_every": 50,   # 2% of docs
    },
    "dedup_corpus": {
        "exact_dup_share": 0.03,
        "near_dup_share": 0.05,
        "heavy_replica_share": 0.03,
        "boilerplate_docs_over_max_df": 1.1,
    },
}
_CONS = "bcdfghjklmnprstvwz"
_VOWS = "aeiou"


@dataclass
class Workload:
    name: str
    seed: int
    doc_ids: list
    texts: list
    langs: list
    props: dict = field(default_factory=dict)
    lexicon: dict | None = None          # (surface_lower, label) -> score
    embeddings: np.ndarray | None = None  # N_VECS x EMBED_DIM float32
    kept_ids: list | None = None         # dedup ground truth (sorted)
    components: list | None = None       # dedup ground truth: sorted id groups


def _rng(seed: int, salt: str) -> np.random.Generator:
    h = hashlib.sha256(f"{salt}:{seed}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def _syllable_word(rng, n_syl: int) -> str:
    return "".join(
        _CONS[rng.integers(len(_CONS))] + _VOWS[rng.integers(len(_VOWS))]
        for _ in range(n_syl)
    )


class ZipfVocab:
    """``size`` distinct lowercase words; rank r has weight 1/(r+2.7)^1.07
    and higher ranks get longer words. The word length at each rank is the
    same for every seed (only the letters are seeded), so subword counts,
    and with them the encoder's work, do not move with the seed."""

    def __init__(self, rng, size: int = 20000):
        lengths = np.random.default_rng(0).gamma(2.0, 1.0, size=size)
        words: list = []
        seen: set = set()
        for r in range(size):
            n_chars = 2 + min(7, int(lengths[r] * (0.6 + r / size * 1.5)))
            for attempt in range(1, 10**6):
                w = "".join(
                    chr(97 + int(c)) for c in rng.integers(0, 26, size=n_chars)
                )
                if w not in seen:
                    break
                # a length whose distinct words run out gets one letter more
                n_chars += attempt % 20 == 0
            seen.add(w)
            words.append(w)
        self.words = np.array(words, dtype=object)
        ranks = np.arange(size, dtype=np.float64)
        p = 1.0 / (ranks + 2.7) ** 1.07
        self.cdf = np.cumsum(p / p.sum())
        self.wordset = seen

    def sample(self, rng, n: int) -> list:
        idx = np.searchsorted(self.cdf, rng.random(n), side="right")
        return list(self.words[np.minimum(idx, len(self.words) - 1)])


def _fixed_order(values):
    """``values`` shuffled in an order that is the same for every seed.

    The engine hash-partitions documents by doc_id, so the job's time is
    set by the partition that draws the most long documents. A seeded
    order moved that load between partitions: encoder_extract's job_s
    ranged 2.4-3.1 s over five seeds while each run's repetitions agreed
    within ~5%. In a fixed order the seed changes which words a run
    sees, not how much work each partition gets."""
    return np.random.default_rng(0).permutation(values)


def _doc_lengths(n: int, median: float, sigma: float, lo: int, hi: int):
    """``n`` document lengths whose multiset is the same for every seed
    (the lognormal's quantiles at (i + 0.5) / n), in ``_fixed_order``."""
    from statistics import NormalDist

    z = np.array([NormalDist().inv_cdf((i + 0.5) / n) for i in range(n)])
    lengths = np.clip(np.round(median * np.exp(sigma * z)), lo, hi).astype(int)
    return _fixed_order(lengths)


def surface_vec_id(surface: str, n_vecs: int = N_VECS) -> int:
    """The engine's surface -> embedding row assignment
    (plans.kg_pipeline.attach_embeddings): md5(lower(surface))[:8] mod N."""
    return int(hashlib.md5(surface.lower().encode()).hexdigest()[:8], 16) % n_vecs


# -- kg_build ----------------------------------------------------------------

def _variant(rng, surface: str) -> str:
    """A near-variant spelling: one vowel of one token changed."""
    toks = surface.split(" ")
    t = int(rng.integers(len(toks)))
    w = toks[t]
    pos = [i for i, c in enumerate(w) if c in _VOWS]
    i = pos[int(rng.integers(len(pos)))] if pos else len(w) - 1
    choices = [v for v in _VOWS if v != w[i]]
    toks[t] = w[:i] + choices[int(rng.integers(len(choices)))] + w[i + 1:]
    return " ".join(toks)


def make_kg(seed: int, n_docs: int = 200) -> Workload:
    """Crawl-like pages mentioning people, organizations and places from a
    generated gazetteer (Zipf-popular entities; ~20% of entities also
    appear under a near-variant spelling whose embedding is planted close
    to the base spelling's, so linking has real clusters to find).

    Page lengths are lognormal with C4.en's mean (~430 words), so most
    pages run over the 232-word chunk budget, as crawled pages do."""
    a = ASSUMED["kg_build"]
    rng = _rng(seed, "kg")
    vocab = ZipfVocab(rng)
    taken = set(vocab.wordset)

    def name_token(n_syl):
        while True:
            w = _syllable_word(rng, n_syl)
            if w not in taken:
                taken.add(w)
                return w.capitalize()

    bases: dict = {}   # label -> list of base surfaces (display case)
    suffix = {"organization": ("Corp", "Group", "Labs", "Bank", "Media")}
    for label, k in a["gazetteer_bases"].items():
        out, seen = [], set()
        while len(out) < k:
            if label == "person":
                s = f"{name_token(2)} {name_token(int(rng.integers(2, 4)))}"
            elif label == "organization":
                sfx = suffix[label][int(rng.integers(5))]
                s = f"{name_token(int(rng.integers(2, 4)))} {sfx}"
            else:
                s = name_token(int(rng.integers(2, 4)))
                if rng.random() < 0.3:
                    s = f"{s} {name_token(2)}"
            if s.lower() not in seen:
                seen.add(s.lower())
                out.append(s)
        bases[label] = out

    emb = rng.standard_normal((N_VECS, EMBED_DIM)).astype(np.float32)
    claimed: set = set()
    lexicon: dict = {}
    pools: dict = {}   # label -> list of lists of display spellings
    n_variant = 0
    for label, surfs in bases.items():
        groups = []
        for s in surfs:
            group = [s]
            lexicon[(s.lower(), label)] = round(0.55 + 0.4 * float(rng.random()), 3)
            vid = surface_vec_id(s)
            claimed.add(vid)
            if rng.random() < a["variant_spelling_share"]:
                v = _variant(rng, s)
                vv = surface_vec_id(v)
                if (v.lower(), label) not in lexicon and vv not in claimed:
                    claimed.add(vv)
                    emb[vv] = emb[vid] + 0.15 * rng.standard_normal(EMBED_DIM)
                    lexicon[(v.lower(), label)] = round(
                        0.55 + 0.4 * float(rng.random()), 3
                    )
                    group.append(v)
                    n_variant += 1
            groups.append(group)
        pools[label] = groups

    # entity popularity: Zipf over each label's groups
    def pick(label):
        groups = pools[label]
        r = int(rng.zipf(a["entity_popularity_zipf_a"])) - 1
        if r >= len(groups):
            r = int(rng.integers(len(groups)))
        g = groups[r]
        return g[int(rng.integers(len(g)))]

    sigma = a["length_lognormal_sigma"]
    lengths = _doc_lengths(n_docs, C4_MEAN_WORDS / np.exp(sigma**2 / 2), sigma, 12, 4000)
    texts = []
    for n in lengths:
        groups = []
        for _ in range(max(1, round(n / a["words_per_entity"]))):
            # a person near an organization or place, so relation
            # templates fire within the 100-char window
            lab = KG_LABELS[int(rng.choice(3, p=a["label_mix_person_org_loc"]))]
            ins = [pick(lab)]
            if lab == "person" and rng.random() < 0.6:
                ins += vocab.sample(rng, int(rng.integers(1, 4)))
                ins.append(pick("organization" if rng.random() < 0.6 else "location"))
            groups.append(ins)
        # filler words make up the rest of the page's length
        n_ins = sum(len(w.split(" ")) for ins in groups for w in ins)
        words = vocab.sample(rng, max(1, int(n) - n_ins))
        for ins in groups:
            pos = int(rng.integers(len(words) + 1))
            words[pos:pos] = ins
        texts.append(" ".join(words))
    wl = Workload(
        "kg_build", seed, list(range(n_docs)), texts,
        [LANGS[i % 4] for i in range(n_docs)], lexicon=lexicon,
        embeddings=emb,
    )
    wl.props = _base_props(texts) | {
        "lexicon_surfaces": len(lexicon),
        "variant_surfaces": n_variant,
    }
    return wl


# -- encoder_extract ---------------------------------------------------------

def _url(rng) -> str:
    n = int(rng.integers(45, 76))
    body = "".join(chr(97 + int(c)) for c in rng.integers(0, 26, n - 12))
    return f"https://{body[:6]}.example/{body[6:]}?id={int(rng.integers(10**5))}"


def make_encoder(seed: int, n_docs: int = 400) -> Workload:
    """Mostly short docs (6-70 words); every 25th doc is long (240-320
    words, over the 232-word chunk budget); every 50th is subword-dense
    URL soup: 10-16 URLs, under the word budget but 600+ subwords, so it
    overflows max_seq_len (512) inside a batch and forces bisection.
    These shares are assumed, not measured: they are set so each of the
    batching, chunking and overflow paths runs in every repetition.

    The vocabulary is 3k words, so the per-worker tokenizer memo is as
    warm after the warm-up pass as it would be deep into a large corpus;
    with 20k words it kept filling across repetitions and job_s drifted
    down ~15% over six of them."""
    a = ASSUMED["encoder_extract"]
    url_every, long_every = a["url_soup_every"], a["long_doc_every"]
    rng = _rng(seed, "encoder")
    vocab = ZipfVocab(rng, size=3000)
    n_url, n_long = len(range(17, n_docs, url_every)), len(range(5, n_docs, long_every))
    url_counts = iter(_fixed_order(np.linspace(10, 16, n_url).round().astype(int)))
    long_lengths = iter(_fixed_order(np.linspace(240, 320, n_long).round().astype(int)))
    short_lengths = iter(_doc_lengths(n_docs, a["short_doc_median_words"], 0.45, 6, 70))
    texts = []
    for i in range(n_docs):
        if i % url_every == 17:
            texts.append(" ".join(_url(rng) for _ in range(next(url_counts))))
        elif i % long_every == 5:
            texts.append(" ".join(vocab.sample(rng, int(next(long_lengths)))))
        else:
            texts.append(" ".join(vocab.sample(rng, int(next(short_lengths)))))
    wl = Workload(
        "encoder_extract", seed, list(range(n_docs)), texts,
        [LANGS[i % 4] for i in range(n_docs)],
    )
    wl.props = _base_props(texts)
    return wl


# -- dedup_corpus -------------------------------------------------------------

def make_dedup(seed: int, n_docs: int = 1000, max_df: int = 200) -> Workload:
    """Zipf-vocabulary docs with planted structure and its ground truth:

    * exact duplicates (3% of docs) of otherwise-unique docs;
    * light near-dup families (~5% of docs): 1-2 copies with one word
      substituted per ~60 (3-shingle Jaccard ~0.95 with the original);
    * heavy replicas (3%): 60% of words replaced, Jaccard well under 0.5,
      so they are candidates the verifier must reject;
    * boilerplate: a footer in ~1.1 x max_df docs (over the df guard) and
      one in ~0.15 x max_df docs (under it, so it yields candidate pairs).
    """
    a = ASSUMED["dedup_corpus"]
    rng = _rng(seed, "dedup")
    vocab = ZipfVocab(rng)
    n_exact = int(a["exact_dup_share"] * n_docs)
    n_heavy = int(a["heavy_replica_share"] * n_docs)
    n_near = int(a["near_dup_share"] * n_docs)
    n_base = n_docs - n_exact - n_heavy - n_near
    base = [
        vocab.sample(rng, int(n))
        for n in _doc_lengths(n_base, 90, 0.5, 15, 700)
    ]
    footer_hi = vocab.sample(rng, 9)
    footer_lo = vocab.sample(rng, 9)
    hi_docs = set(rng.choice(n_base, size=min(n_base, int(a["boilerplate_docs_over_max_df"] * max_df)), replace=False).tolist())
    lo_docs = set(rng.choice(n_base, size=int(0.15 * max_df), replace=False).tolist())
    for i in range(n_base):
        if i in hi_docs:
            base[i] = base[i] + footer_hi
        if i in lo_docs:
            base[i] = base[i] + footer_lo

    docs = [list(w) for w in base]
    origin = list(range(n_base))  # index of the base doc each doc derives from
    kind = ["base"] * n_base
    # near-dup families: sources drawn without replacement from bases long
    # enough (>= 40 words) that one substitution per 60 words keeps the
    # copy's 3-shingle Jaccard with its original above 0.8
    src = rng.permutation(n_base)
    longs = [int(b) for b in src if len(base[int(b)]) >= 40]
    src = longs + [int(b) for b in src if len(base[int(b)]) < 40]
    si = 0
    while sum(1 for k in kind if k == "near") < n_near:
        b = src[si]; si += 1
        for _ in range(int(rng.integers(1, 3))):
            w = list(base[b])
            for j in rng.choice(len(w), size=max(1, len(w) // 60), replace=False):
                w[int(j)] = vocab.sample(rng, 1)[0]
            docs.append(w); origin.append(b); kind.append("near")
    for _ in range(n_exact):
        b = src[si]; si += 1
        docs.append(list(base[b])); origin.append(b); kind.append("exact")
    for _ in range(n_heavy):
        b = src[si]; si += 1
        w = list(base[b])
        for j in rng.choice(len(w), size=int(0.6 * len(w)), replace=False):
            w[int(j)] = vocab.sample(rng, 1)[0]
        docs.append(w); origin.append(b); kind.append("heavy")

    # shuffle so planted copies do not sit next to their originals
    order = rng.permutation(len(docs))
    texts = [" ".join(docs[int(o)]) for o in order]
    origins = [origin[int(o)] for o in order]
    kinds = [kind[int(o)] for o in order]

    groups: dict = {}
    for did, (o, k) in enumerate(zip(origins, kinds)):
        if k in ("base", "near", "exact"):
            groups.setdefault(o, []).append(did)
    components = sorted(sorted(g) for g in groups.values() if len(g) > 1)
    removed = {d for g in components for d in g[1:]}
    kept = [d for d in range(len(texts)) if d not in removed]
    wl = Workload(
        "dedup_corpus", seed, list(range(len(texts))), texts,
        [LANGS[i % 4] for i in range(len(texts))],
        kept_ids=kept, components=components,
    )
    shingle_df: Counter = Counter()
    for t in texts:
        w = t.split(" ")
        shingle_df.update({" ".join(w[i:i + 3]) for i in range(len(w) - 2)})
    wl.props = _base_props(texts) | {
        "near_dup_share": round(sum(k == "near" for k in kinds) / len(texts), 4),
        "exact_dup_share": round(sum(k == "exact" for k in kinds) / len(texts), 4),
        "heavy_replica_share": round(sum(k == "heavy" for k in kinds) / len(texts), 4),
        "max_shingle_df": max(shingle_df.values()),
        "max_df": max_df,
        "kept_docs": len(kept),
    }
    return wl


def _base_props(texts: list) -> dict:
    from glinerswift_spark.functions.text import word_spans

    n_words = [len(word_spans(t)) for t in texts]
    return {
        "docs": len(texts),
        "words": int(sum(n_words)),
        "mean_words": round(sum(n_words) / len(texts), 1),
        "median_words": float(np.median(n_words)),
        "share_over_chunk_max_words": round(
            sum(n > CHUNK_MAX_WORDS for n in n_words) / len(texts), 4
        ),
    }


def overflow_share(texts: list, labels: list) -> float:
    """Share of documents whose whole-document schema encoding overflows
    the encoder's max_seq_len (they take the bisection/re-chunk path)."""
    from glinerswift_spark.functions.schema_encoding import EncodingOverflowError
    from glinerswift_spark.scoring.backends import PromptEncodingSpec, get_backend
    from glinerswift_spark.functions.text import word_spans

    be = get_backend(PromptEncodingSpec())
    n = 0
    for t in texts:
        try:
            be.encode([t[s:e] for s, e in word_spans(t)], labels)
        except EncodingOverflowError:
            n += 1
    return round(n / len(texts), 4)


MAKERS = {"kg_build": make_kg, "encoder_extract": make_encoder, "dedup_corpus": make_dedup}


def make(workload: str, seed: int) -> Workload:
    wl = MAKERS[workload](seed)
    if workload == "encoder_extract":
        wl.props["overflow_share"] = overflow_share(wl.texts, ENCODER_LABELS)
    return wl


def write_inputs(wl: Workload, in_dir: str) -> None:
    """``<in_dir>/documents.parquet`` and, for kg_build,
    ``<in_dir>/embeddings.parquet`` — the layout sources.pages reads."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(in_dir, exist_ok=True)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(wl.doc_ids, pa.int64()),
            "text": pa.array(wl.texts, pa.string()),
            "lang": pa.array(wl.langs, pa.string()),
        }),
        os.path.join(in_dir, "documents.parquet"),
    )
    if wl.embeddings is not None:
        pq.write_table(
            pa.table({
                "vec_id": pa.array(range(len(wl.embeddings)), pa.int64()),
                "embedding": pa.FixedSizeListArray.from_arrays(
                    pa.array(wl.embeddings.ravel()), wl.embeddings.shape[1]
                ).cast(pa.list_(pa.float32())),
            }),
            os.path.join(in_dir, "embeddings.parquet"),
        )
