"""Tracing overhead from the run records in ``.perfbench_out/``.

For every workload and seed that has both an untraced (``--trace 0``) and
a traced (``--trace 1``) record, takes the traced end-to-end numbers
(``traced.*``) minus the untraced ones, and prints the median over seeds.

    python3 perfbench/overhead.py
"""

from __future__ import annotations

import glob
import json
import os
import statistics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TRACED = ("setup_s", "pass_s")


def main() -> None:
    records: dict[tuple[str, int, int], dict] = {}
    for path in glob.glob(os.path.join(ROOT, ".perfbench_out",
                                       "*.record.json")):
        with open(path) as fh:
            rec = json.load(fh)
        records[rec["workload"], rec["seed"], rec["trace"]] = rec["metrics"]
    for workload in sorted({w for w, _, _ in records}):
        seeds = sorted(s for w, s, t in records
                       if w == workload and t == 1
                       and (w, s, 0) in records)
        if not seeds:
            print(f"{workload}: no seed has both a traced and an untraced run")
            continue
        print(f"{workload}: seeds {seeds}")
        for m in TRACED:
            plain = [records[workload, s, 0][m] for s in seeds]
            traced = [records[workload, s, 1][f"traced.{m}"] for s in seeds]
            diff = statistics.median(b - a for a, b in zip(plain, traced))
            base = statistics.median(plain)
            print(f"  {m:8s} untraced {base:8.3f}  traced "
                  f"{statistics.median(traced):8.3f}  overhead "
                  f"{diff:+7.3f} s ({diff / base:+.1%})")


if __name__ == "__main__":
    main()
