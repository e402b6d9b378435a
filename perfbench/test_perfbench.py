"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The end-to-end tests run ``run.py`` from the repository root, as its
command line documents, at tiny size; the check tests feed each output
check a correct output and a deliberately corrupted one and need the
check to catch the corruption.
"""

from __future__ import annotations

import itertools
import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import checks  # noqa: E402
import gen  # noqa: E402
from ledger import LAYERS, _covered, _intervals_minus  # noqa: E402
from run import MIN_RUNS  # noqa: E402
from workloads import GOLDEN_PAIRS, GOLDEN_TEXTS  # noqa: E402

BENCHMARK = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def _run(workload: str, scale: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", scale],
        cwd=HERE.parent, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _assert_result(res: dict, trace: int) -> dict:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    # The cold set-up run, at least MIN_RUNS timed runs, the traced run.
    assert res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= 1 + MIN_RUNS + trace
    want = BENCHMARK["per_layer" if trace else "end_to_end"]
    assert {m["name"] for m in want} == set(res["metrics"])
    for m in want:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
    return {k: v["value"] for k, v in res["metrics"].items()}


@pytest.mark.parametrize(
    "workload,trace",
    [("unique_long", 0), ("clustered_dedup", 1), ("store_ingest", 1)],
)
def test_workload_runs_at_tiny_size(workload, trace):
    m = _assert_result(_run(workload, "tiny", trace), trace)
    if not trace:
        assert m["planted_recall"] > 0.5 and m["wall_s"] > 0
        return
    # Every layer's self time plus the unattributed remainder is the
    # traced wall, and no job ran outside a span.
    self_total = sum(m[f"{L}.self_s"] for L in LAYERS)
    assert self_total + m["trace.unattributed_s"] == pytest.approx(m["trace.wall_s"], abs=0.05)
    assert m["trace.ungrouped_jobs"] == 0
    assert m["minhash.calls"] > 0 and m["sink.jobs"] > 0
    if workload == "store_ingest":
        # minhash_signatures_array is lazy inside the band store calls, so
        # its jobs run in (and are billed to) the bandstore spans.
        assert m["minhash.jobs"] == 0
        assert m["bandstore.jobs"] > 0 and m["bandstore.bytes_written"] > 0
        assert m["dedup.calls"] == 0
    else:
        assert m["minhash.jobs"] > 0
        assert m["dedup.jobs"] > 0 and m["dedup.groups"] > 0
        assert m["bandstore.calls"] == 0 and m["bandstore.bytes_written"] == 0


def test_golden_corpus_gives_reference_pairs():
    """The reference's 5-line corpus under config.GOLDEN: both golden
    pairs are found (recall 1 over 2), and the run's checks passed, so
    every output pair has true Jaccard >= 0.3 — which only the golden
    pairs have."""
    m = _assert_result(_run("unique_long", "golden", 0), 0)
    assert m["planted_recall"] == 1.0
    sets = [gen.shingle_set(t) for t in GOLDEN_TEXTS]
    above = {
        (a, b) for a, b in itertools.combinations(range(5), 2)
        if gen.jaccard(sets[a], sets[b]) >= 0.3
    }
    assert above == GOLDEN_PAIRS


# -- the checks catch corrupted outputs --------------------------------------

@pytest.fixture(scope="module")
def unique_corpus():
    return gen.unique_long(3, n_docs=40, mean_words=100, dup_frac=0.2)


def _true_pairs(corpus):
    return [(a, b, j) for a, b, j in corpus.planted if j >= checks.THRESHOLD]


def test_check_pairs_catches_a_wrong_pair(unique_corpus):
    oracle = checks.JaccardOracle(unique_corpus)
    good = _true_pairs(unique_corpus)
    assert good and checks.check_pairs(good, oracle) == []
    a, b, j = good[0]
    assert checks.check_pairs([(a, b, j - 0.01)] + good[1:], oracle)
    unrelated = next(
        (x, y) for x, y in itertools.combinations(range(40), 2)
        if oracle(x, y) < 0.5
    )
    assert checks.check_pairs(good + [(*unrelated, oracle(*unrelated))], oracle)
    assert checks.check_pairs(good + [good[0]], oracle)
    assert checks.check_pairs([(b, a, j)] + good[1:], oracle)


def test_check_groups_catches_a_wrong_group_id():
    pairs = [(1, 5, 0.9), (5, 9, 0.9), (2, 3, 0.9)]
    good = [(1, 1), (5, 1), (9, 1), (2, 2), (3, 2)]
    assert checks.check_groups(good, pairs) == []
    assert checks.check_groups([(1, 1), (5, 1), (9, 5), (2, 2), (3, 2)], pairs)
    assert checks.check_groups(good[:-1], pairs)
    assert checks.check_groups(good + [(4, 4)], pairs)


def test_check_store_catches_a_dropped_row():
    seen, crawl = [0, 1, 2], [100, 101, 102]
    pairs = [(100, 1, 0.9)]
    survivors = [101, 102]
    docs = seen + survivors
    good = {"shingle_ids": {d: 30 for d in docs}, "signatures": {d: 1 for d in docs},
            "bands": {d: 8 for d in docs}}
    assert checks.check_store(pairs, survivors, crawl, seen, good, 8) == []
    for table in good:
        dropped = {t: dict(r) for t, r in good.items()}
        del dropped[table][102]
        assert checks.check_store(pairs, survivors, crawl, seen, dropped, 8)
    short = {t: dict(r) for t, r in good.items()}
    short["bands"][0] = 7
    assert checks.check_store(pairs, survivors, crawl, seen, short, 8)
    assert checks.check_store(pairs, survivors + [100], crawl, seen, good, 8)
    assert checks.check_store(pairs, [101], crawl, seen, good, 8)


def test_fingerprint_sees_any_change():
    rows = [(1, 2, 0.9), (3, 4, 0.85)]
    assert checks.fingerprint(rows) == checks.fingerprint(list(reversed(rows)))
    assert checks.fingerprint(rows) != checks.fingerprint(rows[:1])
    assert checks.fingerprint(rows) != checks.fingerprint([(1, 2, 0.9), (3, 4, 0.86)])


def test_planted_recall_counts_only_pairs_above_threshold():
    planted = [(1, 2, 0.95), (3, 4, 0.9), (5, 6, 0.5)]
    assert checks.planted_recall(planted, {(1, 2)}) == (0.5, 2)
    assert checks.planted_recall(planted, {(1, 2), (3, 4), (5, 6)}) == (1.0, 2)


def test_generator_is_seeded_and_manifest_jaccard_is_true():
    a = gen.store_ingest(5, n_store=50, n_crawl=20, mean_words=40, copy_frac=0.3)
    b = gen.store_ingest(5, n_store=50, n_crawl=20, mean_words=40, copy_frac=0.3)
    c = gen.store_ingest(6, n_store=50, n_crawl=20, mean_words=40, copy_frac=0.3)
    assert a.texts == b.texts and a.planted == b.planted and a.texts != c.texts
    for s, n, j in a.planted:
        assert j == gen.jaccard(gen.shingle_set(a.text_of(s)), gen.shingle_set(a.text_of(n)))
    cl = gen.clustered(5, n_docs=100, mean_words=20, cluster_frac=0.8,
                       cluster_size=8, max_edits=2)
    assert sum(len(g) for g in cl.clusters) == 80
    assert len(cl.planted) == sum(len(g) * (len(g) - 1) // 2 for g in cl.clusters)


def test_shingle_set_matches_the_program_definition():
    # rpad to k, one gram per start position, empty text has none.
    assert gen.shingle_set("abcd") == {"abc", "bcd", "cd ", "d  "}
    assert gen.shingle_set("") == frozenset()


def test_interval_arithmetic():
    assert _intervals_minus((0, 10), [(2, 3), (5, 7), (6, 8)]) == [(0, 2), (3, 5), (8, 10)]
    assert _intervals_minus((0, 10), [(-1, 11)]) == []
    assert _covered([(0, 2), (3, 5)], [(1, 4)]) == pytest.approx(2.0)
