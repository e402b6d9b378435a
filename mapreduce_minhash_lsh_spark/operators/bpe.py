"""Distributed BPE merge training — learn the tokenizer ON the corpus.

``functions/bpe.py`` ships the classic driver-side trainer
(``train_bpe``) over a word-frequency dict, which is how the frozen
``BPE_MERGES`` asset is produced.  That is fine when the vocabulary
fits in driver memory; at 100 TB you want the corpus-scale work on the
cluster.  ``learn_bpe_merges`` is the distributed form of the SAME
algorithm (Sennrich et al. 2016, greedy most-frequent-adjacent-pair):

* the only corpus-scale job is ONE word-count shuffle
  (explode -> groupBy word); everything after runs on the pruned
  vocabulary table, which ``min_count`` / ``max_vocab`` bound hard
  (production tokenizer training always prunes — a 100 TB crawl's
  raw "vocabulary" is mostly noise seen once);
* each merge iteration is one bounded aggregate on that table
  (explode adjacent symbol pairs weighted by word count, argmax via
  orderBy().limit(1) — Spark plans a TakeOrdered, no full sort
  shuffle) plus a map-side fold that applies the merge;
* the driver receives exactly ONE row per iteration (the winning
  pair) — bounded by construction, the repo's standard stance;
* the vocabulary table goes through a ``barrier`` each iteration so
  the K-deep fold lineage never accumulates into one mega-codegen
  stage (same convention as the Borůvka loop, operators/dedup.py),
  and the previous iteration's blocks are released.

Determinism contract (shared with the driver-side trainer and the
DuckDB oracle): ties between equally frequent pairs break on the pair
lexicographically — (count DESC, left ASC, right ASC) — and a merge
applies greedily left-to-right within a word (a symbol produced by
this iteration's merge does not re-merge with its neighbour until the
next iteration).  ``tests/test_bpe_train.py`` pins exact equality with
``functions.bpe.train_bpe`` on the same frequency table.

Reference anchor: the reference (Java MapReduce MinHash, ~603 lines)
has no tokenizer surface; this extends the engine for the LLM-pipeline
brief alongside ``bpe_token_counts`` (application of a shipped asset).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapreduce_minhash_lsh_spark.barrier import barrier, release

#: Schema of the result: one row per learned merge, in learn order.
MERGES_SCHEMA = T.StructType(
    [
        T.StructField("merge_rank", T.LongType(), False),
        T.StructField("lhs", T.StringType(), False),
        T.StructField("rhs", T.StringType(), False),
        T.StructField("merged", T.StringType(), False),
    ]
)


def _words(
    docs: DataFrame, text_col: str, word_pattern: str | None, *extra_cols: str
) -> DataFrame:
    """Exploded (``*extra_cols``, word) rows — the shared tokenization
    of the train and apply paths, so both see the identical word
    stream (empty strings dropped; ``word_pattern`` gates the charset
    on BOTH paths or neither)."""
    words = docs.select(
        *extra_cols, F.explode(F.split(F.col(text_col), r"\s+")).alias("word")
    ).where(F.col("word") != "")
    if word_pattern is not None:
        words = words.where(F.col("word").rlike(word_pattern))
    return words


def word_frequencies(
    docs: DataFrame,
    text_col: str = "text",
    word_pattern: str | None = None,
    min_count: int = 1,
    max_vocab: int | None = None,
) -> DataFrame:
    """(word, cnt) from whitespace-split ``text_col`` — the one
    corpus-scale shuffle of BPE training.

    ``word_pattern`` (a Java/RE2-common regex like ``^[a-z]+$``)
    restricts the trained charset; ``min_count`` drops hapax noise;
    ``max_vocab`` keeps the top-N words by (cnt DESC, word ASC) — both
    prunes are deterministic, so the learned merges are a pure
    function of the corpus.  ``max_vocab`` costs one extra bounded
    TakeOrdered-style pass; leave it None when ``min_count`` already
    bounds the table."""
    words = _words(docs, text_col, word_pattern)
    freqs = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    if min_count > 1:
        freqs = freqs.where(F.col("cnt") >= F.lit(min_count))
    if max_vocab is not None:
        freqs = freqs.orderBy(F.col("cnt").desc(), F.col("word")).limit(max_vocab)
    return freqs


def _apply_merge(seq, lhs: str, rhs: str):
    """Fold ``seq`` (array<string> of symbols) applying merge
    (lhs, rhs) greedily left-to-right: when the accumulator's last
    symbol is ``lhs`` and the next symbol is ``rhs``, replace the last
    with ``lhs+rhs`` (which cannot re-merge this iteration — the
    standard BPE semantics, identical to functions.bpe.train_bpe's
    while-loop and to the oracle's doubled-space REPLACE trick)."""
    l, r, m = F.lit(lhs), F.lit(rhs), F.lit(lhs + rhs)
    return F.aggregate(
        F.slice(seq, 2, F.greatest(F.size(seq) - 1, F.lit(0))),
        F.slice(seq, 1, 1),
        lambda acc, x: F.when(
            (F.element_at(acc, -1) == l) & (x == r),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(m)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def learn_bpe_merges(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    word_pattern: str | None = None,
    min_count: int = 1,
    max_vocab: int | None = None,
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges from ``docs`` and return
    them as (merge_rank, lhs, rhs, merged), merge_rank starting at 1.

    Stops early (fewer rows than ``n_merges``) if the vocabulary runs
    out of adjacent pairs — every word fully merged to one symbol.
    Exact-equal to ``functions.bpe.train_bpe`` on the same frequency
    table (pinned by tests/test_bpe_train.py); the registered query's
    DuckDB twin unrolls the same iterations as chained CTEs, so the
    distributed trainer carries a full value oracle."""
    return learn_bpe_merges_from_freqs(
        word_frequencies(docs, text_col, word_pattern, min_count, max_vocab),
        n_merges,
    )


def _pair_argmax(vocab: DataFrame) -> DataFrame:
    """The per-iteration winning pair: adjacent-pair explode weighted
    by word count, then (total DESC, lhs, rhs) limit 1 — Spark plans a
    TakeOrderedAndProject over the partial-aggregated pair counts (no
    full sort shuffle; plan-pinned by tests/test_plan_shape.py)."""
    # Filter BEFORE the pair transform: sequence(1, size-1) on a
    # single-symbol word would DESCEND to index 0.
    pairs = vocab.where(F.size("seq") >= 2).select(
        "cnt",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("seq") - 1),
                lambda i: F.struct(
                    F.element_at("seq", i).alias("lhs"),
                    F.element_at("seq", i + 1).alias("rhs"),
                ),
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair.lhs", "pair.rhs")
        .agg(F.sum("cnt").alias("total"))
        .orderBy(F.col("total").desc(), "lhs", "rhs")
        .limit(1)
    )


def learn_bpe_merges_from_freqs(freqs: DataFrame, n_merges: int) -> DataFrame:
    """The training loop over an existing (word, cnt) frequency table —
    the entry point for callers that maintain the counts themselves
    (``streaming/jobs.streaming_bpe_merges`` folds its count log and
    trains here, so batch and streaming cannot drift)."""
    spark = freqs.sparkSession
    # Symbol sequences: one char per symbol.  split('') leaves a
    # trailing '' (Java split with limit -1); array_remove drops it.
    vocab = barrier(freqs.select(
        "cnt", F.array_remove(F.split(F.col("word"), ""), "").alias("seq")
    ))
    merges: list[tuple[int, str, str, str]] = []
    try:
        for rank in range(1, n_merges + 1):
            # bounded: exactly one row per iteration
            best = _pair_argmax(vocab).collect()
            if not best:
                break
            lhs, rhs = best[0]["lhs"], best[0]["rhs"]
            merges.append((rank, lhs, rhs, lhs + rhs))
            nxt = barrier(vocab.select(
                "cnt", _apply_merge(F.col("seq"), lhs, rhs).alias("seq")
            ))
            release(vocab)
            vocab = nxt
    finally:
        release(vocab)
    return spark.createDataFrame(merges, MERGES_SCHEMA)


def trained_token_counts(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    word_pattern: str | None = None,
    min_count: int = 1,
    max_vocab: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Train-then-encode in one call: learn ``n_merges`` merges from
    ``docs``, then count each document's subword tokens UNDER THOSE
    MERGES — (doc_id, n_words, n_bpe_tokens).  The complement of
    ``bpe_token_counts`` (which applies the frozen shipped asset): here
    the tokenizer is fit to the corpus at hand, and the apply path is
    pure JVM — the K collected merges (bounded: a tokenizer is a
    broadcastable asset by construction) become K chained map-side
    folds over the exploded word stream, then ONE partial-aggregated
    groupBy(doc_id).  No join, no Python, no persisted state outliving
    the call.

    Encoding semantics are sequential-by-rank (each learned merge
    applied exhaustively left-to-right, in learn order — subword-nmt's
    apply scheme), which reproduces the training-state segmentation
    exactly for every in-vocabulary word; tests pin agreement with the
    priority scheme (``functions.bpe.encode_word``) on the corpus
    vocabulary.  Words failing ``word_pattern`` are outside the
    tokenizer's charset and excluded from BOTH counts (documents with
    no in-charset words drop out entirely) — the oracle applies the
    identical gate.

    At 100 TB the fold-per-occurrence apply trades compute for the
    absence of a shuffle/join; if average document length makes that
    wrong, fold per DISTINCT word instead (word_frequencies +
    broadcast join back) — same result by construction."""
    m_df = learn_bpe_merges(
        docs, n_merges, text_col, word_pattern, min_count, max_vocab
    )
    pairs = [(r.lhs, r.rhs) for r in m_df.collect()]  # bounded: K rows
    words = _words(docs, text_col, word_pattern, id_col)
    # One PROJECTION per merge, each reading the previous level's
    # named column: _apply_merge references its input three times, so
    # nesting K folds into one expression is a 3^K tree (K=12 hung
    # analysis); chained aliases keep it linear, and CollapseProject
    # will not re-inline a non-cheap alias referenced more than once.
    folded = words.select(
        id_col, F.array_remove(F.split(F.col("word"), ""), "").alias("seq")
    )
    for lhs, rhs in pairs:
        folded = folded.select(
            id_col, _apply_merge(F.col("seq"), lhs, rhs).alias("seq")
        )
    return (
        folded.select(id_col, F.size("seq").alias("word_tokens"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("word_tokens").alias("n_bpe_tokens"),
        )
    )


def oracle_sql_for_merges(
    n_merges: int,
    table: str = "documents",
    text_col: str = "text",
    word_pattern: str | None = None,
) -> str:
    """The DuckDB twin of ``learn_bpe_merges``: the K iterations
    UNROLLED as chained CTEs (SQL cannot loop, but it can repeat).
    Per iteration: adjacent-pair counts via list unnest, argmax with
    the shared (count DESC, lhs, rhs) tie-break, then the merge applied
    with the doubled-space REPLACE trick — doubling every separator
    makes each one independent, so left-to-right non-overlapping
    REPLACE implements exactly the greedy fold (' a  a  a  a ' with
    merge (a,a) -> ' aa  aa ', never a dropped adjacent occurrence).
    Generated programmatically so Spark and oracle can never drift on
    K."""
    ctes = _training_ctes(n_merges, table, text_col, word_pattern)
    selects = "\nUNION ALL ".join(
        f"SELECT CAST({k + 1} AS BIGINT) AS merge_rank, lhs, rhs, "
        f"lhs || rhs AS merged FROM b{k}"
        for k in range(n_merges)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT * FROM (\n{selects}\n) ORDER BY merge_rank"
    )


def _pat_filter(word_pattern: str | None) -> str:
    return (
        f"WHERE regexp_matches(word, '{word_pattern}')"
        if word_pattern is not None
        else "WHERE word <> ''"
    )


def _dbl_space_replace(seq_expr: str, b: str) -> str:
    """Apply merge (b.lhs, b.rhs) to a space-separated symbol string —
    the doubled-space REPLACE trick (see oracle_sql_for_merges)."""
    return f"""trim(regexp_replace(
           replace(' ' || replace({seq_expr}, ' ', '  ') || ' ',
                   ' ' || {b}.lhs || '  ' || {b}.rhs || ' ',
                   ' ' || {b}.lhs || {b}.rhs || ' '),
           '  +', ' ', 'g'))"""


def _training_ctes(
    n_merges: int, table: str, text_col: str, word_pattern: str | None
) -> list[str]:
    """The shared CTE chain: w0 (word freqs + char seqs), then per
    iteration p{k} (pair counts), b{k} (argmax merge), w{k+1} (merge
    applied).  Every multiply-referenced CTE is MATERIALIZED — DuckDB's
    default inlining would otherwise expand the doubly-referenced chain
    exponentially in K."""
    ctes = [
        f"""w0 AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS cnt,
         trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS seq
  FROM (SELECT unnest(string_split({text_col}, ' ')) AS word FROM {table})
  {_pat_filter(word_pattern)} GROUP BY word
)"""
    ]
    for k in range(n_merges):
        ctes.append(
            f"""p{k} AS MATERIALIZED (
  SELECT lst[i] AS lhs, lst[i + 1] AS rhs, cnt FROM (
    SELECT cnt, lst, unnest(range(1, len(lst))) AS i
    FROM (SELECT cnt, string_split(seq, ' ') AS lst FROM w{k})
  )
),
b{k} AS (
  SELECT lhs, rhs FROM p{k} GROUP BY lhs, rhs
  ORDER BY sum(cnt) DESC, lhs, rhs LIMIT 1
),
w{k + 1} AS MATERIALIZED (
  SELECT w.cnt,
         {_dbl_space_replace('w.seq', 'b')} AS seq
  FROM w{k} w CROSS JOIN b{k} b
)"""
        )
    return ctes


def oracle_sql_for_trained_token_counts(
    n_merges: int,
    table: str = "documents",
    text_col: str = "text",
    word_pattern: str | None = None,
    id_col: str = "doc_id",
) -> str:
    """The DuckDB twin of ``trained_token_counts``: the training chain
    (shared with ``oracle_sql_for_merges``) learns b0..b{K-1}, then an
    e0..e{K} chain applies the same replaces to the exploded corpus
    word stream and aggregates per document."""
    ctes = _training_ctes(n_merges, table, text_col, word_pattern)
    ctes.append(
        f"""e0 AS MATERIALIZED (
  SELECT {id_col}, trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS seq
  FROM (SELECT {id_col}, unnest(string_split({text_col}, ' ')) AS word
        FROM {table})
  {_pat_filter(word_pattern)}
)"""
    )
    for k in range(n_merges):
        ctes.append(
            f"""e{k + 1} AS MATERIALIZED (
  SELECT e.{id_col},
         COALESCE({_dbl_space_replace('e.seq', 'b')}, e.seq) AS seq
  FROM e{k} e LEFT JOIN b{k} b ON true
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT {id_col},
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(len(string_split(seq, ' '))) AS BIGINT) AS n_bpe_tokens
FROM e{n_merges} GROUP BY {id_col}"""
    )


def save_merges(df: DataFrame, path: str) -> None:
    """Ship the learned tokenizer: write a ``learn_bpe_merges`` result
    as a JSON asset file (rank-ordered merge list) through the
    scheme-resolved FileSystem API — exactly how production pipelines
    freeze a tokenizer once and ship it to every consumer (the
    ``BPE_MERGES`` literal in functions/bpe.py is the in-repo instance
    of the same practice).  The merge list is bounded by construction
    (K rows), so the collect is a manifest write, not a data move."""
    import json

    from mapreduce_minhash_lsh_spark.sources.fs import fs_write_text

    rows = df.orderBy("merge_rank").collect()  # bounded: K rows
    asset = {
        "format": "bpe_merges/v1",
        "n_merges": len(rows),
        "merges": [[r.lhs, r.rhs] for r in rows],
    }
    fs_write_text(df.sparkSession, path, json.dumps(asset, indent=2))


def load_merges(spark, path: str) -> list[tuple[str, str]]:
    """Load a ``save_merges`` asset as the rank-ordered pair list —
    directly consumable by ``functions.bpe.encode_word`` (priority
    scheme) and the fold-apply path.  Fails loudly on a foreign or
    future format rather than mis-tokenizing silently."""
    import json

    from mapreduce_minhash_lsh_spark.sources.fs import fs_read_text

    asset = json.loads(fs_read_text(spark, path))
    if asset.get("format") != "bpe_merges/v1":
        raise ValueError(
            f"not a bpe_merges/v1 asset: {asset.get('format')!r} at {path}"
        )
    merges = [(l, r) for l, r in asset["merges"]]
    if len(merges) != asset["n_merges"]:
        raise ValueError(
            f"corrupt merges asset at {path}: n_merges={asset['n_merges']} "
            f"but {len(merges)} merge rows"
        )
    return merges
