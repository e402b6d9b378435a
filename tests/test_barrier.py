"""barrier()/release(): the package's one materialization primitive."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from mapreduce_minhash_lsh_spark.barrier import barrier, release

PKG = Path(__file__).resolve().parent.parent / "mapreduce_minhash_lsh_spark"


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_only_barrier_module_checkpoints():
    offenders = [
        f"{path.relative_to(PKG)}:{n}"
        for path in sorted(PKG.rglob("*.py"))
        if path != PKG / "barrier.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "localCheckpoint(" in line or ".checkpoint(" in line
    ]
    assert not offenders, f"checkpoint outside barrier.py: {offenders}"


def test_local_and_reliable_barrier_identical_rows(spark, tmp_path):
    agg = (
        spark.range(200)
        .groupBy((F.col("id") % 17).alias("k"))
        .agg(F.sum(F.col("id") * 3).alias("s"))
    )
    local = sorted(map(tuple, barrier(agg).collect()))
    reliable = sorted(map(tuple, barrier(agg, str(tmp_path / "ckpt")).collect()))
    assert local == reliable
    assert len(local) == 17


def test_release_frees_checkpoint_blocks_unpersist_does_not(spark):
    before = _persisted(spark)
    b = barrier(spark.range(50).groupBy((F.col("id") % 5).alias("k")).count())
    added = _persisted(spark) - before
    assert len(added) == 1
    b.unpersist(True)  # a checkpoint is not in the cache manager
    assert added <= _persisted(spark)
    release(b.where(F.col("k") > 0))  # a filter of a barriered frame
    assert not added & _persisted(spark)
