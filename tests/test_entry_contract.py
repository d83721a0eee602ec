"""Gate-contract guard: every gate pairs a callable runner with a DuckDB
oracle, and the rotation must keep every entry driver-verified within two
rounds (VERDICT r5 process note)."""

from __future__ import annotations

import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry


def test_every_query_is_oracle_backed():
    """Each gate-table entry has a callable runner and a non-empty SQL
    oracle, so queries() and oracle_sql() share one key set."""
    gates = entry._gates()
    assert gates, "gate table unexpectedly empty"
    for k, (run, sql) in gates.items():
        assert callable(run), f"{k} runner is not callable"
        assert isinstance(sql, str) and sql.strip(), (
            f"{k} oracle is not a SQL string")
    assert list(entry.queries()) == list(gates)
    assert list(entry.oracle_sql()) == list(gates)


def test_no_orphan_oracles():
    qs = entry.queries()
    orphans = [k for k in entry.oracle_sql() if k not in qs]
    assert not orphans, f"oracles without a query: {orphans}"


def _recent_correctness(n: int = 2) -> tuple[list[str], dict]:
    """Union of the *n* newest CORRECTNESS_r*.json files at the repo root.

    The driver caps each round's file at the first 50 `queries()` entries,
    so right after it writes round N's file the rotated-out tail is green
    only in round N-1's file.  The age-bound invariant ("every entry has a
    driver-green row no older than two rounds") is therefore encoded by the
    union of the two most recent files, not the latest alone (VERDICT r7
    What's-wrong #1)."""
    import glob
    import json

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json")))
    assert files, "no driver correctness files found"
    picked = files[-n:]
    union: dict = {}
    for path in picked:  # oldest first, so newer rows win
        with open(path) as fh:
            for k, row in json.load(fh).items():
                green = bool(row) and row.get("rows_match") and not row.get("err")
                if green or k not in union:
                    union[k] = row
    return picked, union


def test_rotation_age_bound():
    """Driver-row age bound (VERDICT r6 task #1, fixed per r7 #1): the
    driver records only the first 50 entries per round, so every entry PAST
    the cap must have a green row in one of the two most recent driver
    correctness files — otherwise its last driver verification would age
    past two rounds before the next cap.

    New entries (registered after the latest driver run) must sit inside
    the 50-slot window so they get their first row immediately."""
    keys = list(entry.queries())
    paths, union = _recent_correctness(2)
    stale = []
    for k in keys[50:]:
        row = union.get(k)
        green = bool(row) and row.get("rows_match") and not row.get("err")
        if not green:
            stale.append(k)
    assert not stale, (
        f"entries past the driver's 50-slot cap without a green row in "
        f"{[os.path.basename(p) for p in paths]} (their driver "
        f"verification would age past two rounds): {stale}")


def test_tests_import_their_own_checkout():
    """conftest.py puts the test's own checkout first on ``sys.path``; a
    test that inserts a fixed absolute path instead would import and test
    the code of that other copy. No file under tests/ may name this
    checkout's absolute path or insert any absolute path literal."""
    import re

    tests_dir = os.path.dirname(os.path.abspath(__file__))
    checkout = os.path.dirname(tests_dir)
    fixed = re.compile(r"""path\.insert\(\s*0\s*,\s*["']/""")
    bad = []
    for root, _, files in os.walk(tests_dir):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path, encoding="utf-8") as f:
                text = f.read()
            if checkout in text or fixed.search(text):
                bad.append(os.path.relpath(path, checkout))
    assert not bad, f"tests importing a fixed checkout: {bad}"
