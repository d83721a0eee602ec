"""Physical-plan audit over every gate query: the ".explain and iterate"
discipline as a repeatable check instead of a one-off.

For each `__spark_entry__.queries()` entry (at a small sf — plan SHAPE is
sf-independent) the tool records the formatted physical plan and flags:

- `cartesian` / `bnlj`: CartesianProduct or BroadcastNestedLoopJoin nodes.
  Only the brute-force similarity queries may carry one — they ARE the
  documented O(n²) ground truth the approximate operators are judged
  against (`ALLOWED_CROSS`); anywhere else it is a 100 TB showstopper.
  Exception counted separately as `bnlj_degenerate`: a BNLJ whose
  broadcast build side carries ZERO columns (`Input: []`) — Catalyst
  constant-folded a one-row literal dim (e.g. the single-exchange table)
  into the join, so the "loop" is over one empty row; benign at any scale.
- `exchanges`: number of shuffle Exchange nodes (trend metric — a jump in
  a diff means an operator regressed into extra shuffles).
- `scan_pushdown`: parquet scans whose PushedFilters is empty while the
  query filters that table (heuristic: reported per scan for eyeballing).

Usage:  python tools/plan_audit.py [sf_dir] [key ...]   (default sf0.001)
Writes PLANS.json at the repo root and prints one summary line per query;
exits 1 if a disallowed cartesian/BNLJ appears.
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# the exact-side ground truths are all-pairs BY DESIGN (bounded by max_id /
# corpus size); everything else must join with keys
ALLOWED_CROSS = {"ann_bruteforce", "ngram_jaccard",
                 "embedding_dedup",
                 # IVF coarse quantization: every vector ranked against the
                 # broadcast n_cells(=16)-row codebook — O(n x n_cells),
                 # not all-pairs; candidate generation is a cell equi-join
                 "ann_ivf",
                 # IVF-PQ adds the same bounded pattern twice more: the
                 # m x ksub(=64)-row sub-codebook broadcast into the
                 # per-subspace encode, and the 16-row coarse codebook as
                 # in ann_ivf; the candidate/ADC joins are equi-joins
                 "ann_ivfpq",
                 # the identical bounded IVF patterns: coarse/sub-codebook
                 # broadcasts only; the pair/candidate joins are
                 # (cell, bucket) equi-joins
                 "semdedup", "ann_ivfpq_query",
                 # the union of the two recall bounds (ann_lsh_recall +
                 # embedding_dedup_lsh_recall, retired r15) inherits both
                 # members' documented bounded exact sides
                 "lsh_recall"}

# annotated non-equi joins where BOTH sides are metadata-sized by
# construction — reviewed, not a scale risk; a NEW name appearing here
# must be justified the same way
ALLOWED_BNLJ = {
    "order_book_takers":
        "snapshot_multi era resolution: distinct (pair, era) rows "
        "range-joined (era <= at_ts) to the broadcast instants frame — "
        "O(#pairs x #eras x #instants), all metadata-sized",
    "bigram_rarity":
        "the corpus bigram total is a ONE-ROW broadcast crossJoin "
        "(surprisal denominator) — bounded by construction",
    "quality_classifier":
        "two ONE-ROW broadcast crossJoins: the class token totals and "
        "the class prior — bounded by construction",
    "layout_keys":
        "one ONE-ROW broadcast crossJoin per curve variant: the corpus "
        "min/max stats frame every bucket expression scales against "
        "(sources/layout.py zorder_keys) — bounded by construction",
    "dsir_sample":
        "ONE-ROW broadcast crossJoins only: the raw/target gram totals "
        "(surprisal denominators, the bigram_rarity shape) and the "
        "corpus max-weight shift the accept race normalizes against — "
        "all bounded by construction; the bucket-weight join itself is "
        "an equi-join on bkt",
}


def plan_of(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def _bnlj_counts(plan: str) -> tuple[int, int]:
    """(real, degenerate) BroadcastNestedLoopJoin counts. The formatted
    detail section lists nodes as ``(n) Name``; a BNLJ's build side is the
    immediately preceding BroadcastExchange detail block — degenerate when
    that block's Input is the empty column list."""
    real = degen = 0
    blocks = re.split(r"\n(?=\(\d+\) )", plan)
    for i, b in enumerate(blocks):
        if b.startswith("(") and ") BroadcastNestedLoopJoin" in b.split("\n")[0]:
            prev = blocks[i - 1] if i else ""
            if "BroadcastExchange" in prev.split("\n")[0] and \
                    re.search(r"^Input: \[\]", prev, re.M):
                degen += 1
            else:
                real += 1
    return real, degen


def _own_plan(plan: str) -> str:
    """``plan`` without the detail blocks of the nodes printed under an
    ``InMemoryRelation``: a cached frame's build plan, which the query does
    not run and which prints differently once the cache is materialized."""
    cached, depth = set(), None
    for line in plan.splitlines():
        col = len(line) - len(line.lstrip(" :+-|"))
        if depth is not None and col > depth:
            cached.update(re.findall(r"\((\d+)\)", line))
        else:
            depth = col if "InMemoryRelation" in line else None
    # a detail block starts "(id) Name"
    return "\n".join(b for b in re.split(r"\n(?=\(\d+\) )", plan)
                     if b[1:b.find(")")] not in cached)


def audit(name: str, df) -> dict:
    p = _own_plan(plan_of(df))
    nodes = re.findall(r"^\s*\(\d+\)\s+(\S+)", p, re.M)
    scans = re.findall(r"PushedFilters: \[(.*?)\]", p)
    bnlj, bnlj_degen = _bnlj_counts(p)
    return {
        "cartesian": sum(n.startswith("CartesianProduct") for n in nodes),
        "bnlj": bnlj,
        "bnlj_degenerate": bnlj_degen,
        "exchanges": sum(n == "Exchange" for n in nodes),
        "windows": sum(n == "Window" for n in nodes),
        "scans": len(scans),
        "scans_with_pushdown": sum(bool(s.strip()) for s in scans),
        "nodes": len(nodes),
    }


def main() -> int:
    # foot-gun guard: `plan_audit.py some_key` (sf_dir omitted) must not
    # audit every query against a data dir named "some_key" and overwrite
    # PLANS.json with 79 error stubs
    args = sys.argv[1:]
    if args and not os.path.isdir(args[0]):
        sf_dir, keys = "/root/testdata/sf0.001", args
    else:
        sf_dir = args[0] if args else "/root/testdata/sf0.001"
        keys = args[1:]

    import __spark_entry__ as em
    from obadiah_spark.session import get_spark

    # Streaming-replay runners (pack_stream) EXECUTE in the runner and
    # return a memory-sink scan — their audit records that trivially.
    qs = em.queries()
    unknown = [k for k in keys if k not in qs]
    if unknown:
        print(f"unknown query key(s) {unknown} — a mistyped sf_dir lands "
              f"here too (first arg must be an existing directory to be "
              f"treated as one); known keys: {sorted(qs)[:8]}...",
              file=sys.stderr)
        return 2
    spark = get_spark("plan_audit")
    # The audit plans queries without running them, so whether the cached
    # level3 is materialized decides the size the planner sees for it (and
    # so its join choices). The first checkpoint-table build of a
    # checkout (`_ckpt_silver`, when `.silver_cache/` is absent or stale)
    # materializes it midway through the run; doing it up front makes
    # every run plan against the same state.
    em._l3(spark, sf_dir).count()
    if keys:
        qs = {k: qs[k] for k in keys}

    out: dict[str, dict] = {}
    bad: list[str] = []
    for name, fn in qs.items():
        try:
            res = audit(name, fn(spark, sf_dir))
        except Exception as e:  # a query that cannot even plan is a failure
            out[name] = {"error": str(e)[:200]}
            bad.append(name)
            print(f"ERROR {name}: {str(e)[:120]}")
            continue
        out[name] = res
        cross = res["cartesian"] + res["bnlj"]
        flag = ""
        if cross and name not in ALLOWED_CROSS and name not in ALLOWED_BNLJ:
            bad.append(name)
            flag = "  << DISALLOWED CROSS JOIN"
        print(f"{name}: exchanges={res['exchanges']} windows={res['windows']}"
              f" scans={res['scans']} cross={cross}{flag}")

    plans_path = os.path.join(REPO, "PLANS.json")
    if keys:
        # subset run: MERGE into the existing file — a partial audit must
        # never shrink coverage (the pytest guard checks every query has
        # an entry) — but PRUNE entries for queries that no longer exist,
        # so a rename can't leave a stale record masking (or failing) the
        # guard forever
        try:
            with open(plans_path) as fh:
                merged = json.load(fh)
        except (OSError, ValueError):
            merged = {}
        merged.update(out)
        live = set(em.queries())
        out = {k: v for k, v in merged.items() if k in live}
    with open(plans_path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(f"\n{len(out)} plans audited, {len(bad)} flagged: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
