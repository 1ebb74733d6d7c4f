"""Seeded input generator for the benchmark workloads.

Single process, numpy only, deterministic: the same seed gives the same
bytes. Every generated text is ASCII, so the pure-Python reference split
(Java's ``\\s`` class) and Spark's ``\\s+`` split agree token for token.

The seed draws the shape parameters (vocabulary size, Zipf exponent,
doc-length tail, edge-case rates, duplicate shares, cluster-size tail,
embedding clusters) from fixed ranges; the total amount of work (input
tokens, docs, vectors) is fixed per workload so that different seeds
cost about the same and only the shape moves.

Outputs land in a cache directory per (kind, seed), with
``params.json`` recording the drawn parameters and a content digest.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 3

# work sizes at scale 1.0; --smoke scales them down
INDEX_TOKENS = 400_000
PREP_DOCS = 300
PREP_BIG_CLUSTER = 150
PREP_BIG_LEN = 350  # tokens of each member of the dominant cluster
PREP_TOKENS = 100_000
EMB_VECS = 600
EMB_DIM = 32

LETTERS = "abcdefghijklmnopqrstuvwxyz"
# English letter frequencies (percent): word-initial and in-word
_INITIAL = [11.7, 4.4, 5.2, 3.2, 2.8, 4.0, 1.6, 4.2, 7.3, 0.5, 0.9, 2.4, 3.8,
            2.3, 7.6, 4.3, 0.2, 2.8, 6.7, 16.0, 1.2, 0.8, 5.5, 0.05, 0.8, 0.05]
_INNER = [8.2, 1.5, 2.8, 4.3, 12.7, 2.2, 2.0, 6.1, 7.0, 0.2, 0.8, 4.0, 2.4,
          6.7, 7.5, 1.9, 0.1, 6.0, 6.3, 9.1, 2.8, 1.0, 2.4, 0.2, 2.0, 0.1]
STOPWORDS = ("the", "of", "and", "to", "in", "is", "that", "for", "it", "was")
PUNCT_WRAPS = ((",", ""), (".", ""), (";", ""), ("!", ""), ("?", ""),
               ("(", ")"), ('"', '"'), ("'", "'"))
PUNCT_ONLY = ("--", "...", "&", "-", "'", "!?")
# Java's \s class; newline-free runs keep the corpus one row per doc
WHITESPACE = (" ", " ", " ", " ", " ", " ", "  ", "\t", "\n", "\r\n", "\x0b", "\x0c")
LANGS = ("de", "fr", "es", "zh")
CONSONANTS = "bcdfghjklmnpqrstvwxz"

# llm_prep pipeline settings (the pipeline's defaults); the reference
# kept set is computed with them at generation time
PREP_LANGUAGES = ("en",)
PREP_MIN_QUALITY = 0.3
PREP_DEDUP_THRESHOLD = 0.8

# the engine's tokenization rule, restated for the reference index
WS_RE = re.compile("[ \t\n\x0b\f\r]+")
NON_ALPHA_RE = re.compile("[^a-z]")


def _probs(weights) -> np.ndarray:
    w = np.asarray(weights, dtype=np.float64)
    return w / w.sum()


def make_vocab(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct lowercase pseudo-words, English-like letters."""
    words: list[str] = []
    seen: set[str] = set()
    p0, p1 = _probs(_INITIAL), _probs(_INNER)
    while len(words) < size:
        n = size - len(words) + 64
        lens = np.clip(rng.poisson(5.5, n) + 2, 2, 14)
        first = rng.choice(26, n, p=p0)
        rest = rng.choice(26, int(lens.sum()), p=p1)
        pos = 0
        for k in range(n):
            w = LETTERS[first[k]] + "".join(
                LETTERS[c] for c in rest[pos : pos + lens[k] - 1]
            )
            pos += lens[k]
            if w not in seen:
                seen.add(w)
                words.append(w)
    return words[:size]


def zipf_draw(rng: np.random.Generator, n_vocab: int, s: float, n: int) -> np.ndarray:
    """``n`` word ranks from a Zipf(s) law over ``n_vocab`` words."""
    cdf = np.cumsum(_probs(np.arange(1, n_vocab + 1, dtype=np.float64) ** -s))
    return np.minimum(np.searchsorted(cdf, rng.random(n)), n_vocab - 1)


def doc_lengths(rng: np.random.Generator, total: int, median: float, sigma: float,
                lo: int, hi: int) -> list[int]:
    """Lognormal doc lengths (heavy right tail) summing to ``total``."""
    out: list[int] = []
    left = total
    while left > 0:
        n = int(np.clip(rng.lognormal(np.log(median), sigma), lo, hi))
        n = min(n, left)
        out.append(n)
        left -= n
    return out


def _decorate(rng: np.random.Generator, words: list[str], vocab: list[str],
              rates: dict) -> list[str]:
    """Apply the tokenizer edge cases at the drawn per-token rates."""
    n = len(words)
    r = rng.random((6, n))
    keys = ("case", "apostrophe", "hyphen", "digits", "punct", "punct_only")
    hit = np.flatnonzero((r < np.array([[rates[k]] for k in keys])).any(axis=0))
    out = list(words)
    for i in hit:
        w = out[i]
        if r[0, i] < rates["case"]:
            w = w.upper() if r[0, i] < rates["case"] / 3 else w.capitalize()
        if r[1, i] < rates["apostrophe"] and len(w) > 2:
            w = w[:-1] + "'" + w[-1]  # don't -> dont
        if r[2, i] < rates["hyphen"]:
            w = w + "-" + vocab[int(r[2, i] * 1e9) % len(vocab)]  # gable-ended
        if r[3, i] < rates["digits"]:
            w = str(int(r[3, i] * 1e7) % 9000 + 1000) if r[3, i] < rates["digits"] / 2 else w + str(i % 97)
        if r[4, i] < rates["punct"]:
            a, b = PUNCT_WRAPS[int(r[4, i] * 1e9) % len(PUNCT_WRAPS)]
            w = a + w + b if b else w + a
        if r[5, i] < rates["punct_only"]:
            w = PUNCT_ONLY[int(r[5, i] * 1e9) % len(PUNCT_ONLY)]
        out[i] = w
    return out


def _join(rng: np.random.Generator, toks: list[str]) -> str:
    seps = rng.integers(0, len(WHITESPACE), len(toks))
    return "".join(t + WHITESPACE[s] for t, s in zip(toks, seps)).rstrip(" ")


def index_params(seed: int) -> dict:
    rng = np.random.default_rng([seed, 1])
    return {
        "vocab": int(rng.integers(80_000, 120_001)),
        "zipf_s": round(float(rng.uniform(1.0, 1.15)), 4),
        "len_median": round(float(rng.uniform(90, 130)), 2),
        "len_sigma": round(float(rng.uniform(0.9, 1.2)), 4),
        "rates": {
            "case": round(float(rng.uniform(0.03, 0.08)), 4),
            "apostrophe": round(float(rng.uniform(0.005, 0.02)), 4),
            "hyphen": round(float(rng.uniform(0.005, 0.02)), 4),
            "digits": round(float(rng.uniform(0.005, 0.02)), 4),
            "punct": round(float(rng.uniform(0.02, 0.05)), 4),
            "punct_only": round(float(rng.uniform(0.002, 0.01)), 4),
        },
    }


def gen_index_corpus(seed: int, scale: float = 1.0) -> tuple[dict, list[tuple[int, str]]]:
    """The index_build corpus: (params, [(doc_id, text)])."""
    p = index_params(seed)
    p["tokens"] = max(2_000, int(INDEX_TOKENS * scale))
    rng = np.random.default_rng([seed, 2])
    vocab = make_vocab(rng, p["vocab"])
    ranks = zipf_draw(rng, len(vocab), p["zipf_s"], p["tokens"])
    words = _decorate(rng, [vocab[k] for k in ranks], vocab, p["rates"])
    docs = []
    pos = 0
    for doc_id, n in enumerate(
        doc_lengths(rng, p["tokens"], p["len_median"], p["len_sigma"], 1, 5_000)
    ):
        docs.append((doc_id, _join(rng, words[pos : pos + n])))
        pos += n
    p["docs"] = len(docs)
    return p, docs


def prep_params(seed: int) -> dict:
    rng = np.random.default_rng([seed, 3])
    return {
        "vocab": int(rng.integers(20_000, 40_001)),
        "zipf_s": round(float(rng.uniform(1.0, 1.15)), 4),
        "stopword_rate": round(float(rng.uniform(0.2, 0.35)), 4),
        "len_median": round(float(rng.uniform(150, 220)), 2),
        "len_sigma": round(float(rng.uniform(0.5, 0.8)), 4),
        "exact_dup_share": round(float(rng.uniform(0.04, 0.08)), 4),
        "tail_dup_share": round(float(rng.uniform(0.08, 0.14)), 4),
        "cluster_alpha": round(float(rng.uniform(1.1, 1.5)), 4),
        "junk_share": round(float(rng.uniform(0.03, 0.06)), 4),
        "en_share": round(float(rng.uniform(0.8, 0.9)), 4),
        "pii_rate": round(float(rng.uniform(0.002, 0.01)), 4),
        "emb_clusters": int(rng.integers(8, 13)),
        "emb_big_frac": round(float(rng.uniform(0.3, 0.45)), 4),
        "emb_noise": round(float(rng.uniform(0.15, 0.3)), 4),
        "emb_dup_share": round(float(rng.uniform(0.01, 0.03)), 4),
    }


def _cluster_sizes(rng: np.random.Generator, total: int, alpha: float) -> list[int]:
    """Near-dup cluster sizes (>= 2 each) from a Pareto tail, summing
    to ``total``."""
    sizes = []
    left = total
    while left >= 2:
        s = int(min(left, max(2, round(2 * (1 + rng.pareto(alpha))))))
        if left - s == 1:
            s += 1
        sizes.append(s)
        left -= s
    return sizes


def prep_tokens(text: str) -> list[str]:
    """The engine's whitespace tokens for dedup, quality and chunking:
    split on single spaces, empties dropped."""
    return [t for t in text.split(" ") if t]


def prep_quality(text: str) -> float:
    """The quality score's formula (stopword share, mean token length,
    length), restated over the generator's own stopword list."""
    toks = prep_tokens(text)
    stop = sum(t in STOPWORDS for t in toks) / len(toks)
    mean_len = sum(map(len, toks)) / len(toks)
    return 0.4 * stop + 0.3 * min(mean_len / 10, 1.0) + 0.3 * min(len(toks) / 100, 1.0)


def prep_shingles(text: str) -> set[str]:
    """Distinct 3-token shingles, as the near-dup stage forms them."""
    t = prep_tokens(text)
    return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}


def reference_prep_kept(docs: list[tuple], languages: tuple[str, ...],
                        min_quality: float, threshold: float) -> list[int]:
    """Pure-Python twin of the pipeline's filters and one-pass dedup
    rule: the doc_ids that must land. A doc lands iff its language is
    kept, its quality reaches ``min_quality``, its text equals no
    smaller kept doc_id's, and its shingle Jaccard against every smaller
    canonical doc_id stays below ``threshold``.

    Raises ValueError when a doc's quality or a pair's Jaccard sits
    close enough to its threshold that the engine's rounding or its LSH
    recall (the S-curve, see operators/dedup.py lsh_banding) could
    decide it differently: the inputs are made to keep clear margins."""
    kept = []
    for doc_id, text, lang, _ in docs:
        if lang not in languages:
            continue
        q = prep_quality(text)
        if abs(q - min_quality) < 0.1:
            raise ValueError(f"doc {doc_id}: quality {q:.3f} too close to {min_quality}")
        if q >= min_quality:
            kept.append((doc_id, text))
    canon, seen = [], set()
    for doc_id, text in sorted(kept):
        if text not in seen:
            seen.add(text)
            canon.append((doc_id, prep_shingles(text)))
    by_shingle: dict[str, list[int]] = defaultdict(list)
    for k, (_, sh) in enumerate(canon):
        for g in sh:
            by_shingle[g].append(k)
    dropped = set()
    for b, (doc_b, sh_b) in enumerate(canon):
        shared: dict[int, int] = defaultdict(int)
        for g in sh_b:
            for a in by_shingle[g]:
                if a < b:
                    shared[a] += 1
        for a, n in shared.items():
            jac = n / (len(canon[a][1]) + len(sh_b) - n)
            if abs(jac - threshold) < 0.1:
                raise ValueError(f"docs {canon[a][0]}, {doc_b}: Jaccard {jac:.3f} "
                                 f"too close to {threshold}")
            if jac >= threshold:
                dropped.add(doc_b)
    return sorted(d for d, _ in canon if d not in dropped)


def gen_prep_inputs(seed: int, scale: float = 1.0):
    """The llm_prep inputs: (params, docs, vecs, planted).

    docs: [(doc_id, text, lang, source)]: one dominant near-duplicate
    cluster of a fixed size (all ``en``, so every seed gives the LSH
    stage the same skew), a Pareto tail of small clusters, exact copies,
    short low-quality docs and unique docs; vecs: float32 [n, dim] with
    ids 0..n-1 and labels; planted: ids of exact duplicates (their text
    and language, or their vector, equal those of a smaller id) and the
    near-dup cluster sizes."""
    p = prep_params(seed)
    n_docs = max(60, int(PREP_DOCS * scale))
    n_big = max(8, int(PREP_BIG_CLUSTER * scale))
    n_vecs = max(200, int(EMB_VECS * scale))
    p.update(docs=n_docs, big_cluster=n_big, vecs=n_vecs, dim=EMB_DIM)
    rng = np.random.default_rng([seed, 4])
    vocab = make_vocab(rng, p["vocab"])

    def fresh_text(n: int) -> list[str]:
        toks = [vocab[k] for k in zipf_draw(rng, len(vocab), p["zipf_s"], n)]
        stop = rng.random(n) < p["stopword_rate"]
        picks = rng.integers(0, len(STOPWORDS), n)
        pii = rng.random(n) < p["pii_rate"]
        for i in range(n):
            if stop[i]:
                toks[i] = STOPWORDS[picks[i]]
            if pii[i]:
                toks[i] = (
                    f"{toks[i]}.{vocab[(i * 7919) % len(vocab)]}@example.com"
                    if i % 2 else f"10.{i % 250}.{(i * 31) % 250}.{(i * 17) % 250}"
                )
        return toks

    def member(base: list[str]) -> list[str]:
        """A near copy: one or two tokens replaced by other words."""
        out = list(base)
        for i in rng.choice(len(base), int(rng.integers(1, 3)), replace=False):
            w = out[i]
            while w == out[i]:
                w = vocab[int(rng.integers(0, len(vocab)))]
            out[i] = w
        return out

    def lengths(n: int) -> np.ndarray:
        # >= 100 tokens keeps every regular doc well above the quality
        # threshold; only the junk docs fall below it
        return np.clip(rng.lognormal(np.log(p["len_median"]), p["len_sigma"], n),
                       100, 1_500).astype(int)

    n_exact = int(n_docs * p["exact_dup_share"])
    n_junk = max(1, int(n_docs * p["junk_share"]))
    sizes = _cluster_sizes(rng, int(n_docs * p["tail_dup_share"]), p["cluster_alpha"])
    n_base = n_docs - n_big - n_exact - n_junk - sum(sizes)
    # fixed token total: the unique docs take what the clusters leave
    tail_lens = np.maximum(lengths(len(sizes)), 300)
    rest = int(PREP_TOKENS * scale) - n_big * PREP_BIG_LEN - int(np.dot(sizes, tail_lens))
    base_lens = lengths(n_base)
    base_lens = np.maximum(100, base_lens * max(rest, 0) / base_lens.sum()).astype(int)
    recs = []  # (tokens, lang or None for a seeded label)
    recs += [(fresh_text(int(n)), None) for n in base_lens]
    # low quality: a few vowel-free two-letter tokens (never a stopword
    # in any list), scoring below 0.15
    recs += [(["".join(CONSONANTS[c] for c in rng.integers(0, len(CONSONANTS), 2))
               for _ in range(int(rng.integers(8, 25)))], None) for _ in range(n_junk)]
    big_base = fresh_text(PREP_BIG_LEN)
    recs += [(member(big_base), "en") for _ in range(n_big)]
    for size, n in zip(sizes, tail_lens):
        base = fresh_text(int(n))
        recs += [(member(base), None) for _ in range(size)]
    recs = [
        (" ".join(toks), lang or ("en" if u < p["en_share"] else LANGS[int(u * 1e6) % len(LANGS)]),
         f"src{int(s)}")
        for (toks, lang), u, s in zip(recs, rng.random(len(recs)), rng.integers(0, 4, len(recs)))
    ]
    for _ in range(n_exact):  # exact copies of any earlier row, lang included
        recs.append(recs[int(rng.integers(0, len(recs)))])
    order = rng.permutation(len(recs))
    docs = [(i, *recs[k]) for i, k in enumerate(order)]
    # the pipeline filters on language before it deduplicates, so a doc
    # must drop when a smaller doc_id has the same text AND language
    seen: set[tuple[str, str]] = set()
    dup_docs = []
    for doc_id, text, lang, _ in docs:
        if (text, lang) in seen:
            dup_docs.append(doc_id)
        seen.add((text, lang))

    k = p["emb_clusters"]
    big = int(n_vecs * p["emb_big_frac"])
    n_dup_vecs = int(n_vecs * p["emb_dup_share"])
    rest = rng.multinomial(n_vecs - big - n_dup_vecs, rng.dirichlet(np.ones(k - 1)))
    labels = np.repeat(np.arange(k), [big, *rest])
    centers = rng.normal(size=(k, EMB_DIM))
    vecs = centers[labels] + p["emb_noise"] * rng.normal(size=(len(labels), EMB_DIM))
    src = rng.integers(0, len(labels), n_dup_vecs)
    vecs = np.concatenate([vecs, vecs[src]]).astype(np.float32)
    labels = np.concatenate([labels, labels[src]])
    order = rng.permutation(n_vecs)
    vecs, labels = vecs[order], labels[order]
    first: dict[bytes, int] = {}
    dup_vecs = []
    for i in range(n_vecs):
        key = vecs[i].tobytes()
        if key in first:
            dup_vecs.append(i)
        else:
            first[key] = i
    planted = {"exact_dup_docs": dup_docs, "exact_dup_vecs": dup_vecs,
               "near_dup_cluster_sizes": [n_big, *sizes]}
    return p, docs, (vecs, labels.astype(np.int32)), planted


def reference_index(docs: list[tuple[int, str]]) -> dict[str, bytes]:
    """Pure-Python twin of build_index + write_index_text: per letter,
    ``word:[ids]`` lines ranked by (df desc, word asc)."""
    post: dict[str, set[int]] = defaultdict(set)
    for doc_id, text in docs:
        for tok in WS_RE.split(text.lower()):
            w = NON_ALPHA_RE.sub("", tok)
            if w:
                post[w].add(doc_id)
    by_letter: dict[str, list] = defaultdict(list)
    for w, ids in post.items():
        by_letter[w[0]].append((-len(ids), w, sorted(ids)))
    return {
        c: "".join(
            f"{w}:[{' '.join(map(str, ids))}]\n" for _, w, ids in sorted(by_letter[c])
        ).encode()
        for c in LETTERS
    }


def digest(parts) -> str:
    h = hashlib.sha256()
    for part in parts:
        h.update(part if isinstance(part, bytes) else str(part).encode())
        h.update(b"\x00")
    return h.hexdigest()


def _write_docs(path: str, docs: list[tuple]) -> None:
    cols = list(zip(*docs))
    arrays = {"doc_id": pa.array(cols[0], pa.int64()), "text": pa.array(cols[1], pa.string())}
    if len(cols) > 2:
        arrays["lang"] = pa.array(cols[2], pa.string())
        arrays["source"] = pa.array(cols[3], pa.string())
    pq.write_table(pa.table(arrays), path)


def build_index_inputs(out: str, seed: int, scale: float) -> dict:
    p, docs = gen_index_corpus(seed, scale)
    _write_docs(os.path.join(out, "documents.parquet"), docs)
    ref = reference_index(docs)
    os.makedirs(os.path.join(out, "reference"))
    for c, data in ref.items():
        with open(os.path.join(out, "reference", f"{c}.txt"), "wb") as fh:
            fh.write(data)
    p["input_bytes"] = sum(len(t) for _, t in docs)
    p["digest"] = digest(x for d in docs for x in d)
    p["reference_digest"] = digest(ref[c] for c in LETTERS)
    return p


def build_prep_inputs(out: str, seed: int, scale: float) -> dict:
    p, docs, (vecs, labels), planted = gen_prep_inputs(seed, scale)
    _write_docs(os.path.join(out, "documents.parquet"), docs)
    emb = pa.table({
        "vec_id": pa.array(np.arange(len(vecs), dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    pq.write_table(emb, os.path.join(out, "embeddings.parquet"))
    planted["kept_doc_ids"] = reference_prep_kept(
        docs, PREP_LANGUAGES, PREP_MIN_QUALITY, PREP_DEDUP_THRESHOLD)
    with open(os.path.join(out, "planted.json"), "w") as fh:
        json.dump(planted, fh)
    p["input_bytes"] = sum(len(d[1]) for d in docs) + vecs.nbytes
    p["digest"] = digest([*(x for d in docs for x in d), vecs.tobytes()])
    p["planted"] = {k: len(v) for k, v in planted.items()}
    return p


BUILDERS = {"index": build_index_inputs, "prep": build_prep_inputs}


def ensure_inputs(cache_root: str, kind: str, seed: int, scale: float = 1.0) -> tuple[str, dict]:
    """Generate (or reuse) the inputs of ``kind`` for ``seed``; returns
    (directory, params). The directory appears atomically, so an
    interrupted generation is never reused."""
    sizes = (GEN_VERSION, INDEX_TOKENS, PREP_DOCS, PREP_BIG_CLUSTER, PREP_BIG_LEN,
             PREP_TOKENS, EMB_VECS, EMB_DIM, scale)
    tag = f"{kind}-s{seed}-{hashlib.sha256(repr(sizes).encode()).hexdigest()[:10]}"
    final = os.path.join(cache_root, tag)
    meta = os.path.join(final, "params.json")
    if not os.path.exists(meta):
        tmp = final + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        p = BUILDERS[kind](tmp, seed, scale)
        p.update(kind=kind, seed=seed, scale=scale, gen_version=GEN_VERSION)
        with open(os.path.join(tmp, "params.json"), "w") as fh:
            json.dump(p, fh, indent=1, sort_keys=True)
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
    with open(meta) as fh:
        return final, json.load(fh)
