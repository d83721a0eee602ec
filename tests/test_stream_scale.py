"""streaming/scale.py: the scale-adaptive state-partition derivation."""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from obadiah_spark.streaming.scale import (  # noqa: E402
    scoped_shuffle_partitions, stream_shuffle_partitions)


@pytest.fixture(scope="module")
def spark():
    from obadiah_spark.session import get_spark

    return get_spark("test_stream_scale")


def test_row_bound_sizing(spark):
    par = spark.sparkContext.defaultParallelism
    assert stream_shuffle_partitions(spark, 100) == 1
    assert stream_shuffle_partitions(spark, 100_000) == min(par, 2)
    # clamps to the session's parallelism, never past it
    assert stream_shuffle_partitions(spark, 10**9) == par


def test_group_bound_sizing(spark):
    par = spark.sparkContext.defaultParallelism
    # 20k tiny groups at 1000/partition beats the row term (20k rows)
    assert stream_shuffle_partitions(
        spark, 20_000, n_groups=20_000) == min(par, 20)
    # explicit density override (compute-heavy per-row folds)
    assert stream_shuffle_partitions(
        spark, 64_000, rows_per_partition=2000) == min(par, 32)


def test_per_trigger_sizing(spark):
    par = spark.sparkContext.defaultParallelism
    # the fixed cost is per micro-batch: a 3-trigger replay sizes from
    # the per-trigger volume (ceil(100k/3)=33334 -> ceil(/4200)=8), so
    # the derived count no longer grows to the core cap with the replay
    # total (the r15 anti-scaling)
    assert stream_shuffle_partitions(
        spark, 100_000, rows_per_partition=4200,
        n_triggers=3) == min(par, 8)
    # groups divide by triggers too
    assert stream_shuffle_partitions(
        spark, 20_000, n_groups=20_000, n_triggers=4) == min(par, 5)
    # default n_triggers=1 is the old behavior
    assert stream_shuffle_partitions(
        spark, 100_000, rows_per_partition=4200) == min(par, 24)


def test_scoped_conf_restores(spark):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with scoped_shuffle_partitions(spark, 3):
        assert spark.conf.get(key) == "3"
    assert spark.conf.get(key) == before
    # restores on error too
    with pytest.raises(RuntimeError):
        with scoped_shuffle_partitions(spark, 5):
            raise RuntimeError("boom")
    assert spark.conf.get(key) == before
