"""Plan-audit guard: PLANS.json must cover every registered query and
contain zero disallowed cartesian/BNLJ nodes.

The audit itself (`python tools/plan_audit.py`) regenerates PLANS.json; this
test makes two silent-failure modes impossible: registering a new query
without auditing its plan, and an audited plan carrying an unexplained
cross product. (A changed plan for an existing query still requires
re-running the tool — that is the per-round discipline, enforced by the
coverage check whenever the query set moves.)"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry
from tools.plan_audit import ALLOWED_BNLJ, ALLOWED_CROSS


def _plans() -> dict:
    with open(os.path.join(REPO, "PLANS.json")) as fh:
        return json.load(fh)


def test_plans_cover_every_query():
    missing = [k for k in entry.queries() if k not in _plans()]
    assert not missing, (
        f"queries with no plan-audit entry (run tools/plan_audit.py): "
        f"{missing}")


def test_no_unexplained_cross_products():
    bad = []
    for name, rec in _plans().items():
        cross = rec.get("cartesian", 0) + rec.get("bnlj", 0)
        if cross and name not in ALLOWED_CROSS and name not in ALLOWED_BNLJ:
            bad.append((name, cross))
    assert not bad, f"disallowed cartesian/BNLJ nodes: {bad}"


def test_allowed_lists_only_name_registered_queries():
    qs = set(entry.queries())
    stale = [k for k in (set(ALLOWED_CROSS) | set(ALLOWED_BNLJ))
             if k not in qs]
    assert not stale, f"allow-list names unknown queries: {stale}"


def test_audit_counts_only_the_query_own_nodes(spark):
    """The formatted explain prints a cached frame's build plan under its
    InMemoryRelation, differently once the cache is materialized; audit()
    counts only the query's own nodes, so the same query over a cached frame
    audits the same before and after the cache is filled."""
    from tools.plan_audit import audit

    cached = (spark.range(100).selectExpr("id % 3 AS k")
              .repartition(4, "k").groupBy("k").count().cache())
    try:
        q = (cached.join(spark.range(10).withColumnRenamed("id", "k"), "k")
             .groupBy("k").count())
        before = audit("q", q)
        cached.count()
        assert audit("q", q) == before
        assert before["exchanges"] == 1  # the query's own aggregate
    finally:
        cached.unpersist()
