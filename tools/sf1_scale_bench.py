"""sf1-scale CORE-SCALING bench (VERDICT r15 #7): at sf0.1 no bench line
shows parallel speedup — per-trigger fixed costs and driver-side planning
dominate — so the r16 partition-sizing and shuffle work is invisible in
the driver's 8-vs-32-core block.  This probe re-measures the heavy
dedup/text gates at ~sf1 (the 10x time/alphabet-decorrelated replication
fabric from tools/scale_probe.py) at BOTH core counts, where the real
work dwarfs the fixed costs, and prints one JSON line with the
per-gate c8/c32 ratio (>1 = parallel speedup; 4.0 = perfect scaling).

Methodology notes (additions-only; the driver bench is untouched):
- each (gate, cpus) arm runs in a FRESH subprocess session on
  local[cpus] (the driver's own scaling protocol), timed twice
  back-to-back with the second pass reported (the bench's two-pass
  steady-state rule);
- gates are consumed with count()/agg() (the scale_probe convention:
  forces the full operator DAG without collecting a 10x output through
  the driver — this probe measures compute scaling, not driver
  transfer);
- the stream leg (dedup_stream) replays through the real gate runner
  against a probe sf dir holding only the replicated documents table.

Usage:  python tools/sf1_scale_bench.py [sf_dir] [work_dir]
Writes plans/r16/SF1_SCALE.json and prints the JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_ARM = r'''
import sys, time
sys.path.insert(0, %(repo)r)
from obadiah_spark.session import get_spark
from pyspark.sql import functions as F

spark = get_spark("sf1_arm")
docs = spark.read.parquet(%(docs)r)
gate = sys.argv[1]

def run():
    if gate == "winnow_pairs":
        from obadiah_spark.pipelines.text import winnow_pairs
        return (winnow_pairs(docs)
                .agg(F.count(F.lit(1)), F.sum("n_shared")).collect())
    if gate == "minhash_batch":
        from obadiah_spark.pipelines.dedup import minhash_lsh_candidates
        return minhash_lsh_candidates(docs).count()
    if gate == "minhash_incremental":
        import tempfile
        from obadiah_spark.pipelines.dedup import (
            minhash_lsh_incremental, write_minhash_index)
        pm = F.pmod(F.col("doc_id"), F.lit(2))
        idx = tempfile.mkdtemp(prefix="sf1_mh_idx_") + "/index"
        write_minhash_index(docs.filter(pm == 0), idx)
        return minhash_lsh_incremental(
            spark, idx, docs.filter(pm != 0)).count()
    if gate == "dedup_stream":
        import __spark_entry__ as e
        return e._q_dedup_stream(spark, %(probe_sf)r).count()
    raise SystemExit(f"unknown gate {gate}")

for p in range(2):
    t0 = time.perf_counter()
    run()
    dt = time.perf_counter() - t0
print(f"ARM {gate} {dt:.3f}")
spark.stop()
'''

GATES = ("winnow_pairs", "minhash_batch", "minhash_incremental",
         "dedup_stream")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    work = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1_scale_work"
    os.makedirs(work, exist_ok=True)

    # build the 10x fabric once (its own session; any core count)
    from obadiah_spark.session import get_spark
    from tools.scale_probe import build_docs

    spark = get_spark("sf1_build")
    docs_path = build_docs(spark, sf_dir, work, 10)
    spark.stop()
    # probe sf dir for the streaming gate runner (reads documents.parquet)
    probe_sf = os.path.join(work, "probe_sf")
    os.makedirs(probe_sf, exist_ok=True)
    link = os.path.join(probe_sf, "documents.parquet")
    if not os.path.exists(link):
        os.symlink(docs_path, link)

    arm_src = _ARM % {"repo": REPO, "docs": docs_path,
                      "probe_sf": probe_sf}
    arm_file = os.path.join(work, "_sf1_arm.py")
    with open(arm_file, "w") as fh:
        fh.write(arm_src)

    res: dict[str, dict[str, float]] = {g: {} for g in GATES}
    for gate in GATES:
        for cpus in ("32", "8"):
            env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
            r = subprocess.run([sys.executable, arm_file, gate],
                               env=env, capture_output=True, text=True)
            line = [ln for ln in r.stdout.splitlines()
                    if ln.startswith("ARM ")]
            if not line:
                print(f"# FAIL {gate} c{cpus}: {r.stderr[-400:]}",
                      file=sys.stderr)
                continue
            sec = float(line[0].split()[-1])
            res[gate][f"c{cpus}"] = sec
            print(f"# {gate} c{cpus}: {sec:.2f}s", file=sys.stderr)

    out = {"metric": "sf1_core_scaling", "reps": 10, "unit": "sec",
           "gates": {}}
    for gate, arms in res.items():
        row = dict(arms)
        if "c8" in arms and "c32" in arms and arms["c32"] > 0:
            row["c8_over_c32"] = round(arms["c8"] / arms["c32"], 2)
        out["gates"][gate] = row
    dest = os.path.join(REPO, "plans", "r16", "SF1_SCALE.json")
    with open(dest, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
