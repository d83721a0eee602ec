"""Scale-adaptive shuffle/state partitioning for streaming queries.

Stateful streaming stages (``applyInPandasWithState`` groupBys and any
aggregation under a stream) run with AQE DISABLED — Spark pins every
post-shuffle stage of a stateful query to ``spark.sql.shuffle.partitions``
because the state-store layout is keyed by partition id and frozen into
the checkpoint at first run.  A session-wide constant (the local core
count here, 200 upstream-default) is therefore paid PER MICRO-BATCH as
``partitions × (task launch + state-store open/commit)`` regardless of
batch volume — measured ~4 s/trigger of fixed cost at 32 partitions on
this machine (SCALE.md §7 r14) for micro-batches of a few hundred rows.

The right number of state partitions is a function of stream VOLUME and
KEYSPACE, not of the machine: size it like any other shuffle (guide §2.2
"fewer, larger partitions") so that per-partition work dominates the
per-partition fixed cost.  Two cost terms matter for a Python stateful
stage, measured separately in the r15 A/Bs:

- per ROW: the fold's own arithmetic (µs-class for scalar folds;
  ~100× more for compute-heavy folds like in-state cosine rescoring);
- per GROUP: ``applyInPandasWithState`` materializes one pandas frame
  and one Python call per key per micro-batch (~0.5-1 ms) — a stream
  with tens of thousands of tiny groups is GROUP-bound, not row-bound
  (minhash band buckets: 1 partition = 30 s, 20 partitions = 15 s).

:func:`stream_shuffle_partitions` therefore takes the stream's expected
row volume AND (optionally) its keyspace size and returns
``ceil(max(n_rows / rows_per_partition, n_groups / groups_per_partition))``
clamped to [1, defaultParallelism].  The upper clamp is the machine's
total cores on local mode and the cluster's default parallelism on a
real deployment — a Python stateful stage cannot use more concurrency
than that, and every extra partition is pure per-trigger fixed cost.

Density defaults: 50 000 rows/partition (µs-class per-row work ⇒
~0.1-0.5 s per-partition compute, an order of magnitude above the
~30 ms task + state-store fixed cost) and 1 000 groups/partition
(~0.5-1 s of per-group overhead).  Operators whose per-row work is far
heavier pass an explicit ``rows_per_partition`` (the embedding-rescoring
gate uses 2000 — measured: 2 partitions 17.9 s vs 32 partitions 7.6 s).

Value-neutrality: partition count changes WHERE a group is processed,
never the group membership or the within-group order (every stateful
folder here sorts or min-reduces within the group) — the replay
differentials and the driver oracle hashes are partition-count-invariant.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

#: default density: rows of stream volume per state partition
STREAM_ROWS_PER_PARTITION = 50_000
#: default density: state keys per partition (pandas-frame-per-group cost)
STREAM_GROUPS_PER_PARTITION = 1_000


def stream_shuffle_partitions(
        spark, n_rows: int, n_groups: int | None = None,
        rows_per_partition: int = STREAM_ROWS_PER_PARTITION,
        groups_per_partition: int = STREAM_GROUPS_PER_PARTITION,
        n_triggers: int = 1) -> int:
    """Partition count for a stateful stream expected to carry ``n_rows``
    over ``n_groups`` state keys (total replay volume, or peak
    rows-per-trigger × a safety factor — either way the count scales
    with DATA, not with the machine).

    ``n_triggers`` (r16): the per-partition FIXED cost (task launch +
    state-store open/commit) is paid PER MICRO-BATCH, so for a bounded
    replay of ``n_triggers`` micro-batches the density rules must see
    the per-trigger volume, not the whole replay — sizing from the
    total volume inflated the fixed-cost-bound folds to the core-count
    cap, which made 32 cores pay 4× the per-trigger fixed cost of 8
    cores for the same data (the r15 driver's anti-scaling block:
    sessionize_stream c8/c32 = 0.29).  Pass the replay's micro-batch
    count (a live deployment sizes from peak rows-per-trigger directly
    and leaves the default 1).  Compute-heavy folds whose per-row work
    dwarfs the fixed cost (the embedding rescorer) should still size
    from total volume — parallelism is what bounds THEIR wall clock."""
    n_triggers = max(1, int(n_triggers))
    rows_per_trigger = -(-int(n_rows) // n_triggers)
    want = -(-rows_per_trigger // rows_per_partition)
    if n_groups:
        groups_per_trigger = -(-int(n_groups) // n_triggers)
        want = max(want, -(-groups_per_trigger // groups_per_partition))
    cap = spark.sparkContext.defaultParallelism
    return max(1, min(cap, want))


# sessions with an active scope (ADVICE r15: two overlapping scopes on
# ONE session would interleave save/restore and could leave a tiny
# partition count active session-wide for every later gate; concurrent
# legs must isolate on spark.newSession() instead — _overlap_legs sites).
# Keyed by id(): the scope holds its session alive, so no other object can
# take that id while the entry exists. The check and the add happen under
# one lock: _overlap_legs runs legs on threads, and two threads on one
# session must not both pass between the check and the add.
_ACTIVE_SCOPES: set[int] = set()
_SCOPES_LOCK = threading.Lock()


@contextmanager
def scoped_shuffle_partitions(spark, n_partitions: int):
    """Apply ``spark.sql.shuffle.partitions`` for one streaming run.

    Must enclose BOTH ``start()`` and ``awaitTermination()`` — the conf
    is read at micro-batch planning time, and the state-store layout is
    frozen from it at the checkpoint's first batch.  At most one scope
    may be active per session (raises otherwise, also across threads): a
    concurrent leg that needs its own scope must run on
    ``spark.newSession()`` (isolated conf, shared context)."""
    sid = id(spark)
    with _SCOPES_LOCK:
        if sid in _ACTIVE_SCOPES:
            raise RuntimeError(
                "scoped_shuffle_partitions: a scope is already active on "
                "this session; run the concurrent leg on spark.newSession()")
        _ACTIVE_SCOPES.add(sid)
    key = "spark.sql.shuffle.partitions"
    try:
        old = spark.conf.get(key)
        spark.conf.set(key, str(int(n_partitions)))
        try:
            yield
        finally:
            spark.conf.set(key, old)
    finally:
        _ACTIVE_SCOPES.discard(sid)
