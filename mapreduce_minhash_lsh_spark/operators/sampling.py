"""Deterministic hash-based sampling and dataset splitting.

A training-data pipeline needs samples and train/validation/test splits
that are (a) reproducible across runs and engines, (b) stable under
repartitioning and retries, and (c) assignable row-at-a-time with no
coordination.  ``df.sample()`` gives none of that: its RNG draws depend
on partition layout.  Content-hash bucketing gives all three — a row's
fate is a pure function of its key and the seed, so the same row lands
in the same bucket on any cluster, any engine, any day.

The bucket hash is the md5-hex-parse used by the 'md5' shingle-id
strategy (functions/hashing.py): engine-portable, so every operator here
carries an exact DuckDB oracle twin (registry.py).  The reference has no
sampling surface at all — this extends it for the LLM-pipeline brief.

All operators are pure map-side filters/projections: no shuffle, no
driver state, trivially 100 TB-safe.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mapreduce_minhash_lsh_spark.barrier import barrier
from mapreduce_minhash_lsh_spark.functions.hashing import md5_long

#: Bucket-space size.  1e6 buckets -> fractions resolve to 0.0001%.
DEFAULT_BUCKETS = 1_000_000


def hash_bucket(key: Column, seed: int = 42, buckets: int = DEFAULT_BUCKETS) -> Column:
    """Uniform bucket in [0, buckets) from md5(key || ':' || seed).

    The 60-bit hex prefix is parsed exactly like functions.hashing.md5_id,
    so DuckDB reproduces every bucket bit-for-bit (15 substr terms with
    literal powers of 16 — see queries/_base.py _MD5_PARSE).
    """
    tagged = F.concat(key.cast("string"), F.lit(f":{seed}"))
    return md5_long(tagged) % F.lit(buckets)


def hash_sample(
    df: DataFrame,
    key_col: str,
    numerator: int,
    denominator: int = DEFAULT_BUCKETS,
    seed: int = 42,
) -> DataFrame:
    """Keep rows whose bucket < numerator — an exact-rational Bernoulli
    sample (fraction = numerator/denominator) that is deterministic per
    key.  Rows with equal keys are kept or dropped together, which is
    exactly what you want when the key identifies a document.  Rows with
    a NULL key are always dropped (their bucket is NULL, and NULL < n is
    not true) — filter or impute ids first if they must participate."""
    return df.where(hash_bucket(F.col(key_col), seed, denominator) < F.lit(numerator))


def stratified_sample(
    df: DataFrame,
    strata_cols: list[str],
    k: int,
    key_col: str = "doc_id",
    seed: int = 42,
    out_col: str = "rn",
) -> DataFrame:
    """Exactly min(k, |stratum|) rows per stratum, deterministically.

    Rows are ranked within each stratum by their md5 bucket hash (ties
    broken by key), so the chosen rows are a uniform, reproducible,
    engine-portable pick — unlike per-stratum ``df.sample`` which is
    partition-layout-dependent and only approximately sized.  ``out_col``
    carries the within-stratum rank (1..k).

    Scale: one shuffle on the strata columns; the rank-<=k filter is
    rewritten by Spark into a per-partition group TOP-K
    (WindowGroupLimit), so map tasks emit at most k rows per stratum
    each and no stratum is ever fully sorted in one task.
    """
    w = Window.partitionBy(*strata_cols).orderBy(
        hash_bucket(F.col(key_col), seed), F.col(key_col)
    )
    return (
        df.withColumn(out_col, F.row_number().over(w).cast("long"))
        .where(F.col(out_col) <= k)
    )


def split_assign(
    df: DataFrame,
    key_col: str,
    splits: list[tuple[str, int]],
    seed: int = 42,
    out_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split by bucket range.

    ``splits`` is [(name, weight), ...]; weights are integers summing to
    any total W — row goes to the split whose cumulative-weight window
    (scaled to the bucket space) contains its bucket.  Windows tile the
    space exactly, so assignment is total and disjoint.  E.g.
    ``[("train", 98), ("valid", 1), ("test", 1)]``.
    """
    if not splits:
        raise ValueError("splits must be non-empty")
    bad = [(n, w) for n, w in splits if w <= 0]
    if bad:
        raise ValueError(f"split weights must be positive ints, got {bad}")
    total = sum(w for _, w in splits)
    bucket = hash_bucket(F.col(key_col), seed, DEFAULT_BUCKETS)
    expr: Column | None = None
    acc = 0
    # Cumulative cuts walk low-to-high; the ordered when-chain assigns a
    # row to the first window whose upper cut exceeds its bucket.
    for name, w in splits[:-1]:
        acc += w
        cut = acc * DEFAULT_BUCKETS // total
        cond = bucket < F.lit(cut)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = splits[-1][0]
    assigned = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    # A NULL key must surface as a NULL split, not silently fall through
    # the when-chain into the last (smallest!) split.
    return df.withColumn(
        out_col, F.when(F.col(key_col).isNotNull(), assigned)
    )


def rebalance_to_uniform(
    df: DataFrame,
    group_col: str,
    key_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Downsample over-represented groups so every group contributes at
    most its uniform share — the corpus-mixing primitive for skewed
    source/language distributions (a group at or under its share keeps
    all rows; nothing is ever upsampled).

    Per group, the retention cut is the integer
    ``min(BUCKETS, total * BUCKETS div (k * n_group))`` and a row is
    kept iff its md5 bucket falls under the cut — so the sampled subset
    is a pure function of (key, seed, group counts): reproducible across
    runs, engines, and partitionings, and nested under any other
    hash_sample with the same seed.

    Scale: one partial-aggregated count per group (rows = |groups|,
    broadcast back) + a map-side filter.  The counting pass disappears
    entirely when group counts are already known from catalog stats —
    pass-through of precomputed cuts is trivial to add then.

    Rows with a NULL ``group_col`` are dropped (same contract as
    hash_sample's NULL-key rows) and are excluded from the totals, so
    they cannot deflate other groups' retention cuts.
    """
    df = df.where(F.col(group_col).isNotNull())
    counts = df.groupBy(group_col).agg(F.count("*").cast("long").alias("_n"))
    totals = counts.agg(
        F.sum("_n").cast("long").alias("_total"),
        F.count("*").cast("long").alias("_k"),
    )
    cuts = (
        counts.crossJoin(F.broadcast(totals))
        .select(
            group_col,
            F.least(
                F.lit(DEFAULT_BUCKETS).cast("long"),
                F.expr(f"(_total * {DEFAULT_BUCKETS}) div (_k * _n)"),
            ).alias("_cut"),
        )
    )
    return (
        df.join(F.broadcast(cuts), group_col)
        .where(hash_bucket(F.col(key_col), seed) < F.col("_cut"))
        .drop("_cut")
    )


def cluster_balanced_sample(
    emb: DataFrame,
    per_cluster: int = 20,
    n_lists: int = 16,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    assign: str = "exact",
) -> DataFrame:
    """Diversity-preserving corpus sample: assign every embedding to its
    nearest coarse-quantizer cell (the shared deterministic IVF
    quantizer) and keep the ``per_cluster`` rows with the lowest md5
    bucket in each cell — so every region of embedding space is
    represented no matter how skewed the corpus density (a plain
    Bernoulli sample is dominated by the dense clusters that
    deduplication exists to thin out).

    Deterministic end to end (quantizer + md5 rank, tie-broken on id),
    hence oracle-exact.  Scale note: the rank is a window over
    (list_id) — at extreme corpus sizes pre-thin each cell with
    ``hash_sample`` at a generous rate first, then rank the survivors;
    the md5 bucket makes the two-stage cut identical to the one-stage
    one whenever the pre-thin keeps >= per_cluster rows per cell."""
    from mapreduce_minhash_lsh_spark.operators.ann import ivf_index

    _cents, assigned = ivf_index(emb, n_lists, lloyd_iters, id_col, vec_col, assign)
    bucket = hash_bucket(F.col("neighbor_id"), seed)
    w = Window.partitionBy("list_id").orderBy(bucket.asc(), F.col("neighbor_id").asc())
    return (
        assigned.select(
            "neighbor_id", F.col("list_id").cast("long").alias("list_id")
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= per_cluster)
        .select(
            F.col("neighbor_id").alias(id_col),
            "list_id",
            F.col("rn").cast("integer").alias("rn"),
        )
    )


def cap_per_key(
    df: DataFrame,
    key_col: str,
    cap: int,
    id_col: str,
    seed: int = 42,
) -> DataFrame:
    """Frequency capping: keep at most ``cap`` rows per ``key_col``
    value, chosen deterministically by md5 bucket (tie-broken on id) —
    the CCNet/RefinedWeb "domain cap" that stops a single prolific
    source from dominating the training mix no matter how the crawl is
    partitioned.  Adds a ``key_rank`` column (1-based rank within the
    key) so callers can audit how deep each source's quota went.

    Scale: one shuffle on ``key_col``; the per-key top-``cap`` is a
    rank over each key's partition.  A pathologically hot key (one
    domain with 1e9 docs) concentrates its rank in one task — for that
    regime pre-thin hot keys with ``hash_sample`` at a rate that still
    clears ``cap`` survivors per key (the md5 rank makes the two-stage
    cut identical to the one-stage one whenever the pre-thin keeps
    >= cap rows, the cluster_balanced_sample argument), or relax to
    expected-count capping with a per-key bucket threshold.  Exact rank
    is the default because it is deterministic and oracle-exact.

    Reference anchor: no sampling/capping surface in the reference
    (Main.java:1-89); mandated LLM-pipeline extension.
    """
    bucket = hash_bucket(F.col(id_col), seed)
    w = Window.partitionBy(key_col).orderBy(bucket.asc(), F.col(id_col).asc())
    return (
        df.withColumn("key_rank", F.row_number().over(w).cast("long"))
        .where(F.col("key_rank") <= cap)
    )


def budget_prefix_select(
    df: DataFrame,
    order_cols: list[Column],
    weight_col: str,
    budget: int | float,
    n_buckets: int | None = None,
) -> DataFrame:
    """The maximal prefix of ``df`` under ``order_cols`` whose running
    sum of ``weight_col`` stays <= ``budget`` — "take the best
    documents until the token budget is spent", the selection step a
    training run applies after scoring.  Returns the input columns
    plus ``running`` (the inclusive running sum, so callers can see
    how much budget each kept row consumed).

    A single ``sum() OVER (ORDER BY ...)`` window would move the whole
    corpus to ONE partition (Spark's no-partition window) — the
    classic 100 TB trap.  This is the distributed two-pass cumulative
    sum instead:

    1. range-partition on the order key (so bucket boundaries respect
       the global order) and freeze the assignment with a ``barrier``
       — bucket ids must not be recomputed differently by the two
       downstream subtrees;
    2. per-bucket totals (one bounded row per bucket) come to the
       driver, where the exclusive prefix offsets are a trivial scan of
       <= ``n_buckets`` values — bounded by construction, like the
       sketch grids;
    3. buckets whose OFFSET already exceeds the budget are dropped
       wholesale before any window runs (at 100 TB with a 1% budget,
       ~99% of the corpus never reaches the rank), and the survivors
       get offset + within-bucket running sum from a PER-BUCKET window
       (parallel across buckets, never a global one).

    The kept set is a pure function of the global order and weights —
    bucketing only changes the execution plan, never the result — so
    the DuckDB oracle is the plain one-window SQL.
    """
    spark = df.sparkSession
    n = n_buckets or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    bucketed = barrier(
        df.repartitionByRange(n, *order_cols).withColumn(
            "_bucket", F.spark_partition_id()
        )
    )
    totals = (
        bucketed.groupBy("_bucket")
        .agg(F.sum(weight_col).alias("_total"))
        .orderBy("_bucket")
        .collect()  # bounded: one row per bucket (<= n_buckets)
    )
    offsets, acc = [], 0
    for r in totals:
        offsets.append((r["_bucket"], acc))
        acc += r["_total"]
    off_df = spark.createDataFrame(offsets, ["_bucket", "_off"])
    w = (
        Window.partitionBy("_bucket")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        bucketed.join(F.broadcast(off_df), "_bucket")
        .where(F.col("_off") <= F.lit(budget))
        .withColumn(
            "running", (F.sum(weight_col).over(w) + F.col("_off")).cast("long")
        )
        .where(F.col("running") <= F.lit(budget))
        .drop("_bucket", "_off")
    )
