"""Seeded inputs for every workload.

Everything here is a pure function of the seed, so two runs with one
seed send byte-identical inputs. The corpus imitates the sf0.1 shape
the engine's tests use: 5,000 bag-of-words documents over a small code
vocabulary and 2,000 clustered 64-d embeddings whose ids are the first
2,000 doc ids.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np

N_DOCS = 5000
N_VECS = 2000
DIM = 64
N_CLUSTERS = 16
LANGS = ("en", "en", "en", "zh", "es", "de")

VOCAB = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data vector index token parse cache load write read commit branch "
    "graph node edge class method call import module config server client "
    "request response error retry thread lock queue buffer page block "
    "segment shard replica schema field record"
).split()


def _zipf_weights(n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** 0.9
    return w / w.sum()


def corpus(seed: int, n_docs: int = N_DOCS) -> list[tuple[int, str, str, str]]:
    """(doc_id, text, lang, source) rows with pairwise-distinct token
    sequences of 20-120 words, so any duplicate the curation stage
    finds is one the benchmark planted (two random documents of 20+
    words share almost no word 3-grams)."""
    rng = np.random.default_rng([seed, 1])
    weights = _zipf_weights(len(VOCAB))
    vocab = np.array(VOCAB)
    rows, seen = [], set()
    doc_id = 0
    while doc_id < n_docs:
        n = int(rng.integers(20, 121))
        text = " ".join(vocab[rng.choice(len(VOCAB), size=n, p=weights)])
        if text in seen:
            continue
        seen.add(text)
        lang = LANGS[int(rng.integers(len(LANGS)))]
        rows.append((doc_id, text, lang, f"src{doc_id % 97}"))
        doc_id += 1
    return rows


def embeddings(seed: int, n: int = N_VECS, dim: int = DIM) -> np.ndarray:
    """(n, dim) float32 vectors around N_CLUSTERS seeded centres; row i
    is the embedding of doc_id i."""
    rng = np.random.default_rng([seed, 2])
    centres = rng.standard_normal((N_CLUSTERS, dim))
    labels = rng.integers(N_CLUSTERS, size=n)
    return (centres[labels] + 0.6 * rng.standard_normal((n, dim))).astype(np.float32)


def inflate(base: np.ndarray, rows: int, seed: int) -> np.ndarray:
    """`rows` vectors made of jittered copies of `base` — the batch
    workload's large corpus, drawn from the same distribution."""
    rng = np.random.default_rng([seed, 3])
    pick = rng.integers(len(base), size=rows)
    out = base[pick] + 0.05 * rng.standard_normal((rows, base.shape[1])).astype(np.float32)
    return out.astype(np.float32)


def query_texts(docs: list[tuple], n: int, seed: int, salt: int) -> list[str]:
    """`n` queries of 2-3 distinct words, each drawn from one corpus
    document, so every query matches at least that document."""
    rng = np.random.default_rng([seed, 4, salt])
    out = []
    for _ in range(n):
        words = list(dict.fromkeys(docs[int(rng.integers(len(docs)))][1].split()))
        take = min(len(words), int(rng.integers(2, 4)))
        out.append(" ".join(rng.choice(words, size=take, replace=False)))
    return out


def query_vectors(base: np.ndarray, n: int, seed: int, salt: int) -> np.ndarray:
    """`n` query vectors: corpus vectors with a little seeded noise."""
    rng = np.random.default_rng([seed, 5, salt])
    pick = rng.integers(len(base), size=n)
    noise = 0.1 * rng.standard_normal((n, base.shape[1]))
    return (base[pick].astype(np.float64) + noise)


def ingest_deltas(
    docs: list[tuple], base_n: int, seed: int, upserts: int = 100, deletes: int = 10,
) -> Iterator[tuple[list[tuple[int, str]], list[int]]]:
    """An endless stream of steps, each (upserted (doc_id, text) rows,
    deleted ids), over an index built from `docs[:base_n]`. Held-out
    documents arrive first; after they run out, upserts are mutated
    versions of live documents. Deletes hit live ids that the same
    step does not upsert."""
    rng = np.random.default_rng([seed, 6])
    live = {d[0]: d[1] for d in docs[:base_n]}
    held = [(d[0], d[1]) for d in docs[base_n:]]
    vocab = np.array(VOCAB)
    while True:
        batch = held[:upserts]
        held = held[upserts:]
        if len(batch) < upserts:
            ids = sorted(live)
            for i in rng.choice(len(ids), size=upserts - len(batch), replace=False):
                words = live[ids[i]].split()
                words[int(rng.integers(len(words)))] = str(vocab[rng.integers(len(vocab))])
                batch.append((ids[i], " ".join(words + [str(vocab[rng.integers(len(vocab))])])))
        for doc_id, text in batch:
            live[doc_id] = text
        touched = {d for d, _ in batch}
        candidates = sorted(set(live) - touched)
        gone = sorted(int(candidates[i]) for i in rng.choice(len(candidates), size=deletes, replace=False))
        for doc_id in gone:
            del live[doc_id]
        yield batch, gone


def curation_input(
    docs: list[tuple], seed: int, exact: int = 250, near: int = 250,
) -> tuple[list[tuple], set[int], set[int]]:
    """The corpus plus `exact` verbatim copies and `near` near-copies
    (one word of a long document replaced) under ids above every
    original, so the copy is the one each dedup stage drops. Near-copy
    sources have at least 90 words: one changed word then leaves a
    3-gram Jaccard of at least 0.96, well above the 0.8 threshold."""
    rng = np.random.default_rng([seed, 7])
    long_ids = [d[0] for d in docs if len(d[1].split()) >= 90]
    near_src = rng.choice(long_ids, size=near, replace=False)
    rest = sorted(set(range(len(docs))) - set(int(i) for i in near_src))
    exact_src = rng.choice(rest, size=exact, replace=False)
    vocab = np.array(VOCAB)
    rows = list(docs)
    next_id = len(docs)
    exact_ids, near_ids = set(), set()
    for i in exact_src:
        _, text, lang, source = docs[int(i)]
        rows.append((next_id, text, lang, source))
        exact_ids.add(next_id)
        next_id += 1
    for i in near_src:
        _, text, lang, source = docs[int(i)]
        words = text.split()
        pos = len(words) - 1
        words[pos] = next(w for w in vocab[rng.permutation(len(vocab))] if w != words[pos])
        rows.append((next_id, " ".join(words), lang, source))
        near_ids.add(next_id)
        next_id += 1
    return rows, exact_ids, near_ids
