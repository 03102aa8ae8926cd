"""Seeded inputs and pure-Python ground truth for the benchmark.

Everything here is a function of the seed and the sizes: the corpus (Zipf
vocabulary, lognormal lengths, planted near-duplicates and exact
copies), the query stream and the ingest batches. The engine only ever
sees the generated parquet; the truth is derived with the package's
own row-at-a-time twin ``functions.text.python_terms`` and the same
tokenizer rules, never with Spark. Generation and truth building are
never inside a timed region.
"""

from __future__ import annotations

import functools
import json
import math
import os
import re
from collections import Counter
from dataclasses import dataclass

import numpy as np

from mapreduce_inverted_index_spark.functions.text import STOPWORDS, python_terms

# Bump when the generator's output for a given (seed, size) changes, so
# a stale cache entry is never read back.
GEN_VERSION = 2

VOCAB_SIZE = 50_000
ZIPF_S = 1.1
MEDIAN_LEN = 200  # tokens; a corpus profile may set another
LEN_SIGMA = 0.6
NEAR_DUP_SHARE = 0.10
EXACT_COPY_SHARE = 0.01
SUBSTITUTE_SHARE = 0.05
SENTENCE_LEN = 14
SHARD_FILES = 4
VOCAB_SEED = 20_251_016

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _make_vocab(rng: np.random.Generator) -> list[str]:
    """Zipf rank -> word. Alphabetic stopwords sit on every other rank
    of the head, as in English text, so the stopword filter does real
    work; the rest are unique pseudo-words that are never stopwords."""
    stops = [w for w in STOPWORDS if w.isalpha()]
    stop_set = set(stops)
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < VOCAB_SIZE - len(stops):
        n = int(rng.integers(3, 11))
        w = "".join(rng.choice(_LETTERS, n))
        if w not in seen and w not in stop_set:
            seen.add(w)
            words.append(w)
    vocab: list[str] = []
    si = wi = 0
    while si < len(stops) or wi < len(words):
        if si < len(stops) and (len(vocab) % 2 == 0 or wi >= len(words)):
            vocab.append(stops[si])
            si += 1
        else:
            vocab.append(words[wi])
            wi += 1
    return vocab


def _zipf_cdf() -> np.ndarray:
    ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    return np.cumsum(p / p.sum())


def _sample_ranks(rng: np.random.Generator, cdf: np.ndarray, n: int) -> np.ndarray:
    return np.minimum(np.searchsorted(cdf, rng.random(n)), VOCAB_SIZE - 1)


def _lengths(rng: np.random.Generator, n: int, median_len: int) -> np.ndarray:
    raw = rng.lognormal(math.log(median_len), LEN_SIGMA, n)
    return np.clip(raw, 8, 2000).astype(np.int64)


def _render(words: list[str]) -> str:
    """Token list -> text with sentence case and punctuation, so the
    normalizer's lowercase and character-delete steps have work."""
    out = []
    for i, w in enumerate(words):
        if i % SENTENCE_LEN == 0:
            w = w.capitalize()
        if i % SENTENCE_LEN == SENTENCE_LEN - 1 or i == len(words) - 1:
            w += "."
        elif i % 5 == 3:
            w += ","
        out.append(w)
    return " ".join(out)


def tokens(text: str) -> list[str]:
    """Twin of ``functions.text.tokenize`` (stopwords kept)."""
    return re.sub(r"[^a-z\s]", "", text.lower()).split()


def shingles(text: str, n: int = 3) -> frozenset[str]:
    """Twin of ``dedup.word_shingles``: distinct word n-grams, or the
    raw token list for documents shorter than ``n``."""
    toks = tokens(text)
    if len(toks) < n:
        return frozenset(toks)
    return frozenset(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))


@functools.cache
def vocabulary() -> tuple[str, ...]:
    """The Zipf vocabulary, rank order. Fixed across seeds, like a
    language: a seed draws a sample of text, not a new language."""
    return tuple(_make_vocab(np.random.default_rng(VOCAB_SEED)))


def _generate(seed: int, shard: int, n_docs: int, first_id: int,
              median_len: int) -> tuple[list[tuple[int, str]], list]:
    """One shard: ids ``first_id .. first_id + n_docs - 1`` in shuffled
    order, with its planted near-duplicate pairs."""
    rng = np.random.default_rng([seed, 0, shard])
    vocab = vocabulary()
    cdf = _zipf_cdf()
    n_exact = max(1, int(n_docs * EXACT_COPY_SHARE))
    n_near = max(1, int(n_docs * NEAR_DUP_SHARE))
    n_orig = n_docs - n_exact - n_near
    lens = _lengths(rng, n_orig, median_len)
    flat = _sample_ranks(rng, cdf, int(lens.sum()))
    bounds = np.concatenate([[0], np.cumsum(lens)])
    originals = [
        [vocab[r] for r in flat[bounds[i]:bounds[i + 1]]] for i in range(n_orig)
    ]
    # planted near-duplicates: a copy of an original with a share of its
    # tokens replaced by fresh Zipf draws
    near_src = rng.integers(0, n_orig, n_near)
    near_docs = []
    for s in near_src:
        words = list(originals[s])
        k = max(1, round(len(words) * SUBSTITUTE_SHARE))
        pos = rng.choice(len(words), k, replace=False)
        for p, r in zip(pos, _sample_ranks(rng, cdf, k)):
            if vocab[r] == words[p]:  # a substitution must change the text
                r = (r + 1) % VOCAB_SIZE
            words[p] = vocab[r]
        near_docs.append(words)
    exact_src = rng.integers(0, n_orig, n_exact)
    texts = [_render(w) for w in originals]
    texts += [_render(w) for w in near_docs]
    texts += [texts[s] for s in exact_src]
    # shuffle ids so planted copies are not adjacent to their source
    ids = first_id + rng.permutation(n_docs)
    docs = [(int(ids[i]), texts[i]) for i in range(n_docs)]
    near_pairs = sorted(
        tuple(sorted((int(ids[s]), int(ids[n_orig + j])))) for j, s in enumerate(near_src)
    )
    return docs, near_pairs


def build_truth(docs: list[tuple[int, str]]) -> dict:
    """Postings and per-doc term frequencies from the row-at-a-time
    tokenizer twin, plus the exact-duplicate groups under
    ``dedup.normalize_for_dedup`` (lowercase, trim, collapse spaces)."""
    postings: dict[str, list[int]] = {}
    tf: dict[int, dict[str, int]] = {}
    by_text: dict[str, list[int]] = {}
    raw = 0
    for doc_id, text in docs:
        raw += len(tokens(text))
        by_text.setdefault(re.sub(r"\s+", " ", text.lower().strip()), []).append(doc_id)
        kept = python_terms(text, keep_duplicates=True)
        if not kept:
            continue
        counts = Counter(kept)
        tf[doc_id] = dict(counts)
        for t in counts:
            postings.setdefault(t, []).append(doc_id)
    for p in postings.values():
        p.sort()
    return {
        "postings": postings,
        "tf": tf,
        "exact_groups": sorted(sorted(g) for g in by_text.values() if len(g) > 1),
        "raw_tokens": raw,
    }


def write_docs(docs: list[tuple[int, str]], path: str, n_files: int) -> list[str]:
    """Documents as ``n_files`` parquet files of ``(doc_id, text)``,
    so a scan has as many splits as a real multi-file input. Returns
    the file paths."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    step = -(-len(docs) // n_files)
    out = []
    for i in range(0, len(docs), step):
        part = docs[i:i + step]
        out.append(os.path.join(path, f"part-{i // step:05d}.parquet"))
        pq.write_table(
            pa.table({"doc_id": pa.array([d for d, _ in part], pa.int64()),
                      "text": pa.array([t for _, t in part], pa.string())}),
            out[-1],
        )
    return out


@dataclass
class Corpus:
    """Generated documents, the parquet files that hold them, and
    everything the checks need."""

    docs: list[tuple[int, str]]
    files: list[str]
    near_pairs: list[tuple[int, int]]
    postings: dict[str, list[int]]
    tf: dict[int, dict[str, int]]
    exact_groups: list[list[int]]
    raw_tokens: int

    @property
    def dl(self) -> dict[int, int]:
        return {d: sum(v.values()) for d, v in self.tf.items()}

    @property
    def input_bytes(self) -> int:
        return sum(len(t.encode()) for _, t in self.docs)


def load_shard(seed: int, shard: int, n_docs: int, cache_dir: str,
               median_len: int = MEDIAN_LEN) -> Corpus:
    """Shard ``shard`` of the corpus for ``seed``: ``n_docs`` documents
    of ``median_len`` tokens at the median, with ids from
    ``shard * n_docs``, in ``SHARD_FILES`` parquet files.
    Inputs and truth are generated on first use and read back from
    ``cache_dir`` after."""
    import pyarrow.parquet as pq

    base = os.path.join(cache_dir, f"v{GEN_VERSION}-s{seed}-k{shard}-n{n_docs}-m{median_len}")
    if not os.path.isfile(os.path.join(base, "truth.json")):
        docs, near_pairs = _generate(seed, shard, n_docs, shard * n_docs, median_len)
        tmp = f"{base}.tmp-{os.getpid()}"
        write_docs(docs, tmp, SHARD_FILES)
        with open(os.path.join(tmp, "truth.json"), "w") as f:
            json.dump({"near_pairs": near_pairs, **build_truth(docs)}, f)
        try:
            os.rename(tmp, base)
        except OSError:  # a concurrent run committed the same entry
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    files = sorted(os.path.join(base, f) for f in os.listdir(base) if f.endswith(".parquet"))
    table = pq.read_table(files)
    with open(os.path.join(base, "truth.json")) as f:
        t = json.load(f)
    return Corpus(
        docs=list(zip(table.column("doc_id").to_pylist(), table.column("text").to_pylist())),
        files=files,
        near_pairs=[tuple(p) for p in t["near_pairs"]],
        postings=t["postings"],
        tf={int(d): v for d, v in t["tf"].items()},
        exact_groups=t["exact_groups"],
        raw_tokens=t["raw_tokens"],
    )


def ingest_batch(seed: int, cycle: int, first_id: int, n_docs: int,
                 median_len: int = MEDIAN_LEN) -> list[tuple[int, str]]:
    """A fresh batch of documents from the corpus distribution, with
    ids ``first_id .. first_id + n_docs - 1``."""
    rng = np.random.default_rng([seed, 1, cycle])
    vocab = vocabulary()
    cdf = _zipf_cdf()
    lens = _lengths(rng, n_docs, median_len)
    flat = _sample_ranks(rng, cdf, int(lens.sum()))
    bounds = np.concatenate([[0], np.cumsum(lens)])
    return [
        (first_id + i, _render([vocab[r] for r in flat[bounds[i]:bounds[i + 1]]]))
        for i in range(n_docs)
    ]


class TermSampler:
    """Zipf-weighted draws of indexed (non-stopword) terms."""

    def __init__(self, rng: np.random.Generator, postings: dict):
        live = [w for w in vocabulary() if w in postings]
        ranks = np.arange(1, len(live) + 1, dtype=np.float64)
        p = ranks ** -ZIPF_S
        self._cdf = np.cumsum(p / p.sum())
        self._words = live
        self._rng = rng

    def draw(self, k: int) -> list[str]:
        out: list[str] = []
        while len(out) < k:
            i = min(int(np.searchsorted(self._cdf, self._rng.random())), len(self._words) - 1)
            if self._words[i] not in out:
                out.append(self._words[i])
        return out


def phrase_truth(docs: list[tuple[int, str]], phrases: list[tuple[str, str]]) -> dict:
    """``{(w1, w2): {doc_id: occurrences}}`` for the given bigrams,
    over the raw token stream (stopwords kept) like ``phrase_query``."""
    want = set(phrases)
    out: dict = {p: {} for p in phrases}
    for doc_id, text in docs:
        toks = tokens(text)
        for a, b in zip(toks, toks[1:]):
            if (a, b) in want:
                hits = out[(a, b)]
                hits[doc_id] = hits.get(doc_id, 0) + 1
    return out


def sample_phrases(rng: np.random.Generator, docs: list[tuple[int, str]], n: int) -> list[tuple[str, str]]:
    """Bigrams that occur in the corpus, drawn by occurrence (a random
    position of a random document), so frequent bigrams recur."""
    out: list[tuple[str, str]] = []
    while len(out) < n:
        _, text = docs[int(rng.integers(0, len(docs)))]
        toks = tokens(text)
        i = int(rng.integers(0, len(toks) - 1))
        if (toks[i], toks[i + 1]) not in out:
            out.append((toks[i], toks[i + 1]))
    return out


def bm25_truth(query: list[str], tf: dict, dl: dict,
               k1: float = 1.2, b: float = 0.75) -> list[tuple[int, float]]:
    """Pure-Python ``term_queries.bm25_rank`` over every matching doc:
    Lucene idf, each transcendental rounded to 9 places, per-doc sum in
    query order rounded to 6, ties broken by ascending doc_id."""
    n_docs = len(dl)
    avgdl = sum(dl.values()) / n_docs
    df = {t: 0 for t in query}
    for doc_tf in tf.values():
        for t in query:
            if t in doc_tf:
                df[t] += 1
    idf = {t: round_half_up(math.log(1.0 + (n_docs - df[t] + 0.5) / (df[t] + 0.5)), 9)
           for t in query if df[t]}
    scores = []
    for doc_id, doc_tf in tf.items():
        parts = [doc_tf.get(t) for t in query]
        if not any(parts):
            continue
        total = 0.0
        for t, f in zip(query, parts):
            if f:
                total += round_half_up(
                    idf[t] * (f * (k1 + 1)) / (f + k1 * (1 - b + b * dl[doc_id] / avgdl)), 9
                )
        scores.append((doc_id, round_half_up(total, 6)))
    scores.sort(key=lambda s: (-s[1], s[0]))
    return scores


def round_half_up(x: float, places: int) -> float:
    """Spark's ``round`` on a double: HALF_UP on its decimal string."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), rounding=ROUND_HALF_UP))
