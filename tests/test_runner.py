"""dic_a1_spark.runner: the timing semantics every bench and tool number
rests on, pinned on toy frames (no registered query)."""

from __future__ import annotations

import time

from pyspark import StorageLevel
from pyspark.sql import functions as F

from dic_a1_spark.runner import timed, warm_up


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_timed_clears_frames_persisted_before_the_call(spark):
    df = spark.range(10).persist()
    df.count()
    assert df.storageLevel != StorageLevel.NONE
    timed(spark, lambda: spark.range(3))
    assert df.storageLevel == StorageLevel.NONE


def test_timed_spans_the_build_and_counts_the_rows(spark):
    def build():
        spark.range(5).count()  # a job at build time, like an iterative operator
        time.sleep(0.2)
        return spark.range(7).where(F.col("id") % 2 == 0)

    sec, rows, df = timed(spark, build)
    assert sec >= 0.2
    assert rows == df.count() == 4


def test_eager_local_checkpoint_survives_timed(spark):
    """bench.py's amplified flagship corpus is an eager localCheckpoint:
    it must outlive the cache clear, or the amplification would be paid
    inside the flagship's timed run."""
    before = _persistent_rdd_ids(spark)
    cp = spark.range(100).repartition(4).localCheckpoint()
    checkpointed = _persistent_rdd_ids(spark) - before
    assert checkpointed
    _, rows, _ = timed(spark, lambda: cp.groupBy(F.col("id") % 3).count())
    assert rows == 3
    assert checkpointed <= _persistent_rdd_ids(spark)


def test_warm_up_leaves_python_workers_serving_pandas_udfs(spark):
    warm_up(spark, lambda: spark.range(3))
    plus_one = F.pandas_udf(lambda s: s + 1, "long")
    got = sorted(r[0] for r in spark.range(4).select(plus_one("id")).collect())
    assert got == [1, 2, 3, 4]
