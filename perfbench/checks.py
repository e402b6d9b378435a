"""Output checks for the benchmark's workloads, in plain Python.

Each check takes outputs already collected to the driver plus the
generated corpus, and returns a list of failure messages (empty when
the output is correct).  Nothing here calls the program under test, so
a check cannot agree with the program by sharing its bugs.
"""

from __future__ import annotations

import hashlib

from gen import Corpus, jaccard, shingle_set

THRESHOLD = 0.8
TOL = 1e-9


class JaccardOracle:
    """Recomputes true char-3-gram Jaccard for doc-id pairs, memoised
    per pair so repeated runs over one corpus pay once."""

    def __init__(self, corpus: Corpus):
        self.corpus = corpus
        self._sets: dict[int, frozenset] = {}
        self._pairs: dict[tuple[int, int], float] = {}

    def _set(self, doc_id: int) -> frozenset:
        s = self._sets.get(doc_id)
        if s is None:
            s = self._sets[doc_id] = shingle_set(self.corpus.text_of(doc_id))
        return s

    def __call__(self, a: int, b: int) -> float:
        j = self._pairs.get((a, b))
        if j is None:
            j = self._pairs[(a, b)] = jaccard(self._set(a), self._set(b))
        return j


def check_pairs(
    pairs: list[tuple[int, int, float]], oracle: JaccardOracle,
    threshold: float = THRESHOLD, ordered: bool = True,
) -> list[str]:
    """Every output pair is unique, (when ``ordered``) has a < b, and
    carries a Jaccard that matches the recomputed one and clears
    ``threshold``."""
    fails = []
    seen = set()
    for a, b, j in pairs:
        if (a, b) in seen:
            fails.append(f"duplicate pair ({a},{b})")
        seen.add((a, b))
        if ordered and not a < b:
            fails.append(f"pair ({a},{b}) not ordered a < b")
        true = oracle(a, b)
        if abs(true - j) > TOL:
            fails.append(f"pair ({a},{b}) jaccard {j!r} != recomputed {true!r}")
        if true < threshold - TOL:
            fails.append(f"pair ({a},{b}) true jaccard {true:.4f} < {threshold}")
        if len(fails) > 20:
            break
    return fails


def components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """doc_id -> min doc id of its connected component (union-find)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_groups(
    groups: list[tuple[int, int]], reference_pairs: list[tuple[int, int, float]],
) -> list[str]:
    """Each (doc_id, group_id) row's group is the min doc id of the doc's
    connected component over ``reference_pairs``, and the rows cover
    exactly the docs that appear in some pair, once each."""
    want = components([(a, b) for a, b, _ in reference_pairs])
    got: dict[int, int] = {}
    fails = []
    for d, g in groups:
        if d in got:
            fails.append(f"doc {d} appears in two rows")
        got[d] = g
    if set(got) != set(want):
        missing = sorted(set(want) - set(got))[:5]
        extra = sorted(set(got) - set(want))[:5]
        fails.append(f"grouped docs differ: missing {missing} extra {extra}")
    wrong = [(d, g, want[d]) for d, g in got.items() if d in want and want[d] != g]
    for d, g, w in wrong[:10]:
        fails.append(f"doc {d} group_id {g} != component min {w}")
    return fails


def check_store(
    pairs: list[tuple[int, int, float]],
    survivors: list[int],
    crawl_ids: list[int],
    seen_ids: list[int],
    store_rows: dict[str, dict[int, int]],
    num_bands: int,
) -> list[str]:
    """store_ingest: survivors are exactly the crawl docs without a
    verified pair; every table of the extended store (``store_rows``:
    table -> {doc_id: row count}) holds exactly the seen docs plus the
    survivors, with one signature row and ``num_bands`` band rows per
    doc."""
    fails = []
    matched = {a for a, _, _ in pairs}
    surv = set(survivors)
    if len(surv) != len(survivors):
        fails.append("duplicate survivor ids")
    if surv & matched:
        fails.append(f"survivors with a verified pair: {sorted(surv & matched)[:5]}")
    if surv | matched != set(crawl_ids):
        fails.append("survivors plus matched docs != crawl batch")
    want = set(seen_ids) | surv
    for table, rows in store_rows.items():
        if set(rows) != want:
            missing = sorted(want - set(rows))[:5]
            extra = sorted(set(rows) - want)[:5]
            fails.append(f"store {table}: missing {missing} extra {extra}")
        per_doc = {"signatures": 1, "bands": num_bands}.get(table)
        bad = [d for d, n in rows.items() if per_doc is not None and n != per_doc]
        if bad:
            fails.append(
                f"store {table}: docs {sorted(bad)[:5]} do not have {per_doc} row(s)"
            )
    return fails


def planted_recall(
    planted: list[tuple[int, int, float]], found: set[tuple[int, int]],
    threshold: float = THRESHOLD,
) -> tuple[float, int]:
    """Share of planted pairs with true Jaccard >= ``threshold`` that the
    output found, with its base (the number of such planted pairs)."""
    base = [(a, b) for a, b, j in planted if j >= threshold]
    if not base:
        return 1.0, 0
    return sum((a, b) in found for a, b in base) / len(base), len(base)


def fingerprint(*parts) -> str:
    """Order-independent digest of collected outputs (each part a list
    of tuples or ints)."""
    h = hashlib.sha256()
    for part in parts:
        for row in sorted(part):
            h.update(repr(row).encode())
        h.update(b"|")
    return h.hexdigest()
