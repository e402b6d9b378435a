"""Distributed BPE merge training (operators/bpe.py) — exact equality
with the driver-side trainer (functions/bpe.train_bpe), determinism,
greedy-overlap semantics, and the unrolled-CTE oracle generator."""

from __future__ import annotations

import re

import duckdb
from pyspark.sql import functions as F

from mapreduce_minhash_lsh_spark.functions.bpe import train_bpe
from mapreduce_minhash_lsh_spark.operators.bpe import (
    learn_bpe_merges,
    oracle_sql_for_merges,
    word_frequencies,
)
from mapreduce_minhash_lsh_spark.sources.tables import load_table
from tests.conftest import SF_SMALL


def _merge_pairs(df):
    return [(r.lhs, r.rhs) for r in df.orderBy("merge_rank").collect()]


def test_matches_driver_trainer_on_corpus(spark):
    docs = load_table(spark, SF_SMALL, "documents")
    freqs = {
        r.word: r.cnt
        for r in word_frequencies(docs, word_pattern="^[a-z]+$").collect()
    }
    got = _merge_pairs(learn_bpe_merges(docs, 12, word_pattern="^[a-z]+$"))
    assert got == train_bpe(freqs, 12)
    assert len(got) == 12


def test_partition_invariant(spark):
    docs = load_table(spark, SF_SMALL, "documents")
    a = _merge_pairs(learn_bpe_merges(docs, 6, word_pattern="^[a-z]+$"))
    b = _merge_pairs(
        learn_bpe_merges(docs.repartition(7), 6, word_pattern="^[a-z]+$")
    )
    assert a == b and len(a) == 6


def test_merge_loop_releases_vocab_blocks(spark):
    """Each merge barriers a new vocabulary table; the replaced one's
    checkpoint blocks must be freed (DataFrame.unpersist does not reach
    them), so training leaves no persisted RDD behind."""
    from mapreduce_minhash_lsh_spark.operators.bpe import (
        learn_bpe_merges_from_freqs,
    )

    freqs = spark.createDataFrame(
        [("lower", 5), ("lowest", 2), ("newer", 6), ("wider", 3)],
        "word string, cnt long",
    )
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    merges = learn_bpe_merges_from_freqs(freqs, 5)
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()
    assert merges.count() == 5


def test_greedy_overlap_and_early_stop(spark):
    # "aaaa": (a,a) counts 3, merges left-to-right to [aa, aa] (the
    # fresh symbol never re-merges within the iteration), then (aa,aa)
    # fully merges the word — so K=5 stops after 2 merges.
    docs = spark.createDataFrame([("d1", "aaaa")], ["doc_id", "text"])
    out = learn_bpe_merges(docs, 5)
    rows = out.orderBy("merge_rank").collect()
    assert [(r.merge_rank, r.lhs, r.rhs, r.merged) for r in rows] == [
        (1, "a", "a", "aa"),
        (2, "aa", "aa", "aaaa"),
    ]
    assert train_bpe({"aaaa": 1}, 5) == [("a", "a"), ("aa", "aa")]


def test_tie_breaks_lexicographically(spark):
    # (a,b) and (c,d) both have weight 2 — the lexicographically
    # smaller pair must win, same as the driver trainer's min key.
    docs = spark.createDataFrame(
        [("d1", "ab cd"), ("d2", "cd ab")], ["doc_id", "text"]
    )
    out = _merge_pairs(learn_bpe_merges(docs, 1))
    assert out == [("a", "b")] == train_bpe({"ab": 2, "cd": 2}, 1)


def test_min_count_prunes_noise(spark):
    # "zq" appears once; min_count=2 must drop it, so (z,q) can never
    # be learned even though "xy" is fully merged after one step.
    docs = spark.createDataFrame(
        [("d1", "xy xy xy zq")], ["doc_id", "text"]
    )
    out = _merge_pairs(learn_bpe_merges(docs, 5, min_count=2))
    assert out == [("x", "y")]


def test_oracle_generator_matches_driver_trainer():
    # The unrolled-CTE oracle IS the trainer: run it in DuckDB on a
    # crafted table covering the overlap and tie shapes and compare to
    # train_bpe on the same frequency table.
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute(
        "CREATE TABLE docs(text VARCHAR); INSERT INTO docs VALUES"
        " ('aaaa aaaa abab'), ('low lower lowest ab cd'), ('cd ab low')"
    )
    res = con.execute(oracle_sql_for_merges(8, "docs", "text")).fetchall()
    freqs = dict(
        con.execute(
            "SELECT word, count(*) FROM (SELECT unnest(string_split"
            "(text, ' ')) AS word FROM docs) WHERE word <> '' GROUP BY word"
        ).fetchall()
    )
    assert [(r[1], r[2]) for r in res] == train_bpe(freqs, 8)
    # ranks are 1..K and merged is the concatenation
    assert [r[0] for r in res] == list(range(1, len(res) + 1))
    assert all(r[3] == r[1] + r[2] for r in res)


def test_trained_token_counts_matches_priority_encoder(spark):
    # Sequential-by-rank apply (the operator) must agree with the
    # priority scheme (encode_word) on every in-vocabulary word — the
    # corpus vocabulary is in-vocab by construction.
    from mapreduce_minhash_lsh_spark.functions.bpe import encode_word
    from mapreduce_minhash_lsh_spark.operators.bpe import (
        trained_token_counts,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    freqs = {
        r.word: r.cnt
        for r in word_frequencies(docs, word_pattern="^[a-z]+$").collect()
    }
    merges = train_bpe(freqs, 12)
    expected = {}
    for r in docs.select("doc_id", "text").collect():
        words = [w for w in r.text.split() if re.fullmatch("[a-z]+", w)]
        if words:
            expected[r.doc_id] = (
                len(words),
                sum(len(encode_word(w, merges)) for w in words),
            )
    got = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in trained_token_counts(
            docs, 12, word_pattern="^[a-z]+$"
        ).collect()
    }
    assert got == expected


def test_trained_token_counts_oracle_survives_exhaustion():
    # K larger than the available merges: the apply chain must pass
    # seqs through unchanged (LEFT JOIN + COALESCE), not vanish.
    from mapreduce_minhash_lsh_spark.operators.bpe import (
        oracle_sql_for_trained_token_counts,
    )

    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute(
        "CREATE TABLE docs(doc_id INT, text VARCHAR);"
        " INSERT INTO docs VALUES (1, 'aaaa aaaa'), (2, 'aaaa')"
    )
    res = dict(
        (r[0], (r[1], r[2]))
        for r in con.execute(
            oracle_sql_for_trained_token_counts(5, "docs", "text")
        ).fetchall()
    )
    # merges exhaust after (a,a), (aa,aa): every word is 1 token
    assert res == {1: (2, 2), 2: (1, 1)}


def test_max_vocab_caps_deterministically(spark):
    # max_vocab keeps the top-N words by (cnt DESC, word ASC): with
    # the two rare words excluded, their unique chars can never merge.
    docs = spark.createDataFrame(
        [("d1", "xy xy xy ab ab zq vw")], ["doc_id", "text"]
    )
    out = _merge_pairs(learn_bpe_merges(docs, 5, max_vocab=2))
    assert out == [("x", "y"), ("a", "b")] == train_bpe(
        {"xy": 3, "ab": 2}, 5
    )


def test_merges_asset_round_trip(spark, tmp_path):
    from mapreduce_minhash_lsh_spark.functions.bpe import encode_word
    from mapreduce_minhash_lsh_spark.operators.bpe import (
        load_merges,
        save_merges,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    trained = learn_bpe_merges(docs, 8, word_pattern="^[a-z]+$")
    path = str(tmp_path / "tokenizer.json")
    save_merges(trained, path)
    merges = load_merges(spark, path)
    assert merges == _merge_pairs(trained)
    # the loaded asset drives the priority encoder directly
    assert encode_word("merge", merges) == encode_word(
        "merge", _merge_pairs(trained)
    )
    # foreign format fails loudly
    import json
    import pytest

    bad = str(tmp_path / "bad.json")
    (tmp_path / "bad.json").write_text(json.dumps({"format": "other"}))
    with pytest.raises(ValueError, match="not a bpe_merges/v1"):
        load_merges(spark, bad)
