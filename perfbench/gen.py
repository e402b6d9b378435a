"""Seeded corpus generator for the near-dup pipeline benchmark.

Every corpus is a pure function of ``(workload, seed, sizes)``.  Text is
word soup drawn from a Zipf distribution over a few thousand synthetic
words, so documents share common trigrams the way natural text does.
Near-duplicates are planted on purpose and every planted relation goes
into a ground-truth manifest together with its true char-3-gram Jaccard,
computed with the same set definition as
``functions/shingles.shingle_set``: one right-space-padded k-gram per
starting position, as a set.

The program under test only ever sees the ``documents`` parquet written
by :func:`write_documents`; the manifest stays on the benchmark side.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np

K = 3
N_WORDS = 3000
ZIPF_S = 1.1
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def shingle_set(text: str, k: int = K) -> frozenset[str]:
    """Python twin of ``functions/shingles.shingle_set``: the distinct
    ``rpad(text[i:i+k], k, ' ')`` for every start position; empty text
    has no shingles."""
    return frozenset(text[i:i + k].ljust(k) for i in range(len(text)))


def jaccard(a: frozenset, b: frozenset) -> float:
    if not a and not b:
        return 0.0
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


@dataclass
class Corpus:
    """Generated documents plus the benchmark-side ground truth.

    ``texts[i]`` is the text of doc id ``i``.  ``planted`` lists
    ``(a, b, jaccard)`` with ``a < b`` for every planted near-duplicate
    pair; ``clusters`` lists the doc ids of every planted cluster
    (clustered_dedup); ``store_texts`` is the stored corpus with ids
    ``0 .. len-1`` and then ``texts`` are the crawl with ids offset by
    ``crawl_base`` (store_ingest)."""

    workload: str
    seed: int
    texts: list[str]
    planted: list[tuple[int, int, float]] = field(default_factory=list)
    clusters: list[list[int]] = field(default_factory=list)
    store_texts: list[str] = field(default_factory=list)
    crawl_base: int = 0

    def ids(self) -> list[int]:
        return [self.crawl_base + i for i in range(len(self.texts))]

    def text_of(self, doc_id: int) -> str:
        if doc_id >= self.crawl_base:
            return self.texts[doc_id - self.crawl_base]
        return self.store_texts[doc_id]

    def manifest(self) -> dict:
        return {
            "workload": self.workload,
            "seed": self.seed,
            "k": K,
            "n_docs": len(self.texts),
            "n_store_docs": len(self.store_texts),
            "crawl_base": self.crawl_base,
            "planted": [list(p) for p in self.planted],
            "clusters": self.clusters,
        }


class _Words:
    """Zipf-distributed synthetic vocabulary bound to one generator."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        lens = rng.integers(2, 9, size=N_WORDS * 2)
        raw = ["".join(rng.choice(LETTERS, size=n)) for n in lens]
        self.words = np.array(list(dict.fromkeys(raw))[:N_WORDS])
        p = 1.0 / np.arange(1, len(self.words) + 1) ** ZIPF_S
        self.p = p / p.sum()

    def draw(self, n: int) -> list[str]:
        return list(self.rng.choice(self.words, size=n, p=self.p))

    def doc(self, mean_words: int) -> list[str]:
        n = int(self.rng.integers(int(mean_words * 0.8), int(mean_words * 1.2) + 1))
        return self.draw(max(n, 1))

    def edit(self, words: list[str], n_edits: int) -> list[str]:
        """Replace ``n_edits`` random word positions with fresh draws."""
        out = list(words)
        if n_edits:
            pos = self.rng.choice(len(out), size=min(n_edits, len(out)), replace=False)
            for i, w in zip(pos, self.draw(len(pos))):
                out[i] = w
        return out


def unique_long(seed: int, n_docs: int, mean_words: int, dup_frac: float) -> Corpus:
    """Long, mostly unique docs; ``dup_frac * n_docs`` of them are edited
    copies of another doc (one planted pair each)."""
    rng = np.random.default_rng([seed, 1])
    words = _Words(rng)
    n_dup = int(round(n_docs * dup_frac))
    base = [words.doc(mean_words) for _ in range(n_docs - n_dup)]
    sources = rng.choice(len(base), size=n_dup, replace=False)
    copies = [
        words.edit(base[s], int(rng.integers(1, max(2, mean_words // 40) + 1)))
        for s in sources
    ]
    slot = rng.permutation(n_docs)  # slot[i] = doc id of generated doc i
    texts = [""] * n_docs
    for i, w in enumerate(base + copies):
        texts[slot[i]] = " ".join(w)
    planted = []
    for j, s in enumerate(sources):
        a, b = sorted((int(slot[s]), int(slot[len(base) + j])))
        planted.append((a, b, jaccard(shingle_set(texts[a]), shingle_set(texts[b]))))
    return Corpus("unique_long", seed, texts, planted=sorted(planted))


def clustered(
    seed: int, n_docs: int, mean_words: int, cluster_frac: float,
    cluster_size: int, max_edits: int,
) -> Corpus:
    """Short docs; ``cluster_frac`` of them sit in clusters of about
    ``cluster_size`` members, each member its cluster's base text with
    0..``max_edits`` word replacements.  Every within-cluster pair is a
    planted pair."""
    rng = np.random.default_rng([seed, 2])
    words = _Words(rng)
    n_clustered = int(n_docs * cluster_frac)
    gen: list[list[str]] = []
    groups: list[list[int]] = []
    while len(gen) < n_clustered:
        size = int(rng.integers(cluster_size * 3 // 4, cluster_size * 5 // 4 + 1))
        size = max(2, min(size, n_clustered - len(gen)))
        base = words.doc(mean_words)
        groups.append(list(range(len(gen), len(gen) + size)))
        gen.extend(
            words.edit(base, int(rng.integers(0, max_edits + 1))) for _ in range(size)
        )
    gen.extend(words.doc(mean_words) for _ in range(n_docs - len(gen)))
    slot = rng.permutation(n_docs)
    texts = [""] * n_docs
    for i, w in enumerate(gen):
        texts[slot[i]] = " ".join(w)
    clusters = [sorted(int(slot[i]) for i in g) for g in groups]
    planted = []
    for members in clusters:
        sets = {m: shingle_set(texts[m]) for m in members}
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                a, b = members[x], members[y]
                planted.append((a, b, jaccard(sets[a], sets[b])))
    return Corpus("clustered_dedup", seed, texts, planted=sorted(planted), clusters=clusters)


def store_ingest(
    seed: int, n_store: int, n_crawl: int, mean_words: int, copy_frac: float,
) -> Corpus:
    """A stored corpus of ``n_store`` unique docs (ids 0..n_store-1) and a
    crawl batch of ``n_crawl`` docs (ids from ``crawl_base``), of which
    ``copy_frac`` are edited near-copies of distinct stored docs."""
    rng = np.random.default_rng([seed, 3])
    words = _Words(rng)
    store = [words.doc(mean_words) for _ in range(n_store)]
    n_copy = int(round(n_crawl * copy_frac))
    sources = rng.choice(n_store, size=n_copy, replace=False)
    crawl = [
        words.edit(store[s], int(rng.integers(1, max(2, mean_words // 40) + 1)))
        for s in sources
    ]
    crawl += [words.doc(mean_words) for _ in range(n_crawl - n_copy)]
    slot = rng.permutation(n_crawl)
    texts = [""] * n_crawl
    for i, w in enumerate(crawl):
        texts[slot[i]] = " ".join(w)
    store_texts = [" ".join(w) for w in store]
    base = 10 ** (len(str(n_store)) + 1)
    planted = []
    for j, s in enumerate(sources):
        crawl_id = base + int(slot[j])
        planted.append((
            int(s), crawl_id,
            jaccard(shingle_set(store_texts[s]), shingle_set(texts[slot[j]])),
        ))
    return Corpus(
        "store_ingest", seed, texts, planted=sorted(planted),
        store_texts=store_texts, crawl_base=base,
    )


def write_documents(path: str, ids: list[int], texts: list[str]) -> None:
    """Write a ``documents`` parquet (doc_id: long, text: string) as one
    file, the shape of the repo's testdata tables."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    table = pa.table({
        "doc_id": pa.array(ids, type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
    })
    pq.write_table(table, os.path.join(path, "documents.parquet"))
