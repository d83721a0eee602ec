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


def test_scope_guard_admits_one_thread_per_session():
    """Two threads opening a scope on ONE session: exactly one enters, the
    other is refused. The stub's ``conf.get`` waits until both threads
    reach it, so a guard that checks and registers the session in two
    separate steps (with the conf read between them) lets both in. No
    Spark needed."""
    import threading

    class _Conf:
        def __init__(self, readers: int) -> None:
            self.all_read = threading.Barrier(readers, timeout=2)

        def get(self, key):
            try:
                self.all_read.wait()
            except threading.BrokenBarrierError:
                pass  # the other thread never got this far
            return "8"

        def set(self, key, value) -> None:
            pass

    class _BrokenConf:
        def get(self, key):
            raise OSError("conf unavailable")

    class _Session:
        conf = _Conf(readers=2)

    session = _Session()
    entered, refused = [], []

    def leg() -> None:
        try:
            with scoped_shuffle_partitions(session, 2):
                entered.append(1)
        except RuntimeError:
            refused.append(1)

    threads = [threading.Thread(target=leg) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
        assert not t.is_alive()
    assert (len(entered), len(refused)) == (1, 1)

    # a conf read that raises must not leave the session marked active
    session.conf = _BrokenConf()
    with pytest.raises(OSError):
        with scoped_shuffle_partitions(session, 2):
            pass
    session.conf = _Conf(readers=1)
    with scoped_shuffle_partitions(session, 2):
        entered.append(1)
    assert len(entered) == 2
