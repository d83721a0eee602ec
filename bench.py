"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
compact JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {10 slowest}, "sf": ..., "variance": ...}; the FULL per-query
dict (all ~86 lines + first-pass timings) is written to BENCH_FULL.json
and echoed to stderr — the driver's stdout capture keeps only a bounded
tail, which the full dict overflowed two rounds running (BENCH_r07/r08
"parsed": null), so the stdout line must fit the window whole.

Each query is materialized with a full collect (the driver's correctness gate
does the same), timed wall-clock. The shared one-time work — level3
synthesis + the write-once book-checkpoint silver build (consumed by
order_book_ckpt and the period-fold queries) — runs first and is timed
explicitly as its own ``silver_ckpt_build`` line: it is ingestion
lifecycle, not query time, but it stays inside the reported total so
nothing is hidden. The build is write-once ACROSS processes: when the
on-disk table's fingerprint (source parquet mtimes + derivation-code
mtimes) matches, the line reports the warm read-back-and-seed cost; any
testdata or code change forces a cold rebuild.

MEASUREMENT PROTOCOL (two-pass, since round 6): each query runs TWICE
back-to-back and the reported per-query number is the SECOND run. A
70-query single-session sweep is session-order sensitive — mid-run
queries inherit cache-eviction/GC pressure from whatever ran before them
(measured in round 5: spread_periods 11.2 s in-bench vs 4.3 s isolated,
get_events 7.9 vs 3.1) — which poisons round-over-round comparison. The
second consecutive run is a steady-state number that isolated spot
reruns reproduce. Per-query first-pass timings stream to stderr and
their sum is reported under ``first_pass_total_sec`` so cold-path cost
is visible, not hidden; the cold probes (``order_book_cold`` /
``order_book_ckpt_cold``) are intentionally single-run — cold IS what
they measure.

ORDER PROTOCOL (canonical, since round 8): queries run in sorted-key
order, independent of the ``queries()`` registration order (which is the
driver's rotation protocol and reshuffles every round).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


# a variance probe whose spin exceeds this multiple of the run-start spin
# ran in a degraded window; its record carries "valid": false
SPIN_INVALID_RATIO = 1.5


def _spin_probe(n: int = 15_000_000) -> float:
    """Single-core clock-health probe (VERDICT r11 #2): wall time of a
    fixed pure-Python spin loop, ~0.6 s on this machine when quiet. A
    loaded host stretches it roughly with the core's effective share, so
    stamping it at bench start/end AND per isolated variance probe makes
    degraded-window numbers self-invalidating — r11's isolated
    match_sweep reading (297.9 s vs 26.4 s quiet) needed a manual
    reproduction to refute; the stamp carries that evidence in-record."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i & 7
    return round(time.perf_counter() - t0, 3)


def _gc_ms(spark) -> int:
    """Cumulative JVM GC time (ms) across all collectors — per-line
    deltas separate 'this query allocates hard' from 'this query
    inherited a predecessor's heap pressure' (VERDICT r14 #2, the
    sessionize_stream in-bench outlier)."""
    beans = (spark.sparkContext._jvm.java.lang.management
             .ManagementFactory.getGarbageCollectorMXBeans())
    total, it = 0, beans.iterator()
    while it.hasNext():
        total += it.next().getCollectionTime()
    return int(total)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sink", choices=("collect", "parquet"),
                    default="collect",
                    help="parquet: write each result to a scratch parquet "
                         "table instead of collecting to the driver — "
                         "separates compute cost from driver-transfer cost "
                         "for output-dominated lines (the production shape; "
                         "VERDICT r6 task #8)")
    ap.add_argument("--only", default=None,
                    help="comma-separated query names to bench (default all)")
    ap.add_argument("--no-variance", action="store_true",
                    help="skip the isolated fresh-session re-runs of the "
                         "slowest lines (VERDICT r8 task #8)")
    ap.add_argument("--probe-out", default=None,
                    help="internal: write {name: second_pass_sec} JSON to "
                         "this path (used by the variance subprocess)")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.0

    import __spark_entry__ as entrymod
    from obadiah_spark.session import get_spark

    # stamp machine load at start/end: r10's +17% across-the-board drift on
    # untouched code was only diagnosable through per-key variance probes —
    # a load-average record makes hot rounds self-documenting
    load_start = [round(x, 2) for x in os.getloadavg()]
    spin_start = _spin_probe()

    spark = get_spark("bench")
    qs = entrymod.queries()

    timings: dict[str, float] = {}
    total = 0.0

    # one-time silver checkpoint materialization, reported transparently
    t0 = time.perf_counter()
    ckpt_path = entrymod._ckpt_silver(spark, sf_dir)
    dt = round(time.perf_counter() - t0, 3)
    timings["silver_ckpt_build"] = dt
    total += dt
    print(f"# silver_ckpt_build: {dt:.3f}s", file=sys.stderr)

    # COLD point-in-time probe comparison: both forms read level3 from the
    # partitioned silver parquet (no session cache — the 100 TB situation),
    # full-history as-of scan vs checkpoint-boundary probe. This is the
    # pair the checkpoint table exists for; the in-gate order_book /
    # order_book_ckpt run against the session-cached log, where the scan
    # is nearly free and the comparison says nothing.
    from obadiah_spark.operators.order_book import order_book, snapshot_from_silver
    from obadiah_spark.sources.silver import read_level3, write_level3

    l3_path = os.path.join(os.path.dirname(ckpt_path), "level3")
    # fresh iff newer than the checkpoint build stamp (which itself
    # fingerprints source + derivation code) — regenerated testdata or a
    # synth change rebuilds both
    _succ = os.path.join(l3_path, "_SUCCESS")
    _meta = os.path.join(ckpt_path, "_build_meta.json")
    if not (os.path.exists(_succ) and os.path.exists(_meta)
            and os.path.getmtime(_succ) >= os.path.getmtime(_meta)):
        t0 = time.perf_counter()
        write_level3(entrymod._l3(spark, sf_dir), l3_path)
        dt = round(time.perf_counter() - t0, 3)
        timings["silver_l3_build"] = dt
        total += dt
        print(f"# silver_l3_build: {dt:.3f}s", file=sys.stderr)
    l3_cold = read_level3(spark, l3_path)
    only = set(args.only.split(",")) if args.only else None
    for name, probe in () if only is not None else (
        ("order_book_cold", False),
        ("order_book_ckpt_cold", True),
    ):
        t0 = time.perf_counter()
        live = snapshot_from_silver(
            l3_cold, ckpt_path, entrymod.OB_AT,
            only_makers=True) if probe else None
        n = len(order_book(l3_cold, entrymod.OB_AT, live=live).collect())
        dt = round(time.perf_counter() - t0, 3)
        timings[name] = dt
        total += dt
        print(f"# {name}: {dt:.3f}s rows={n}", file=sys.stderr)

    # CANONICAL ORDER (since round 8): queries bench in sorted-key order,
    # decoupled from the queries() dict order — that order is the driver's
    # rotation protocol and reshuffles every round, and cross-query session
    # state (JIT, GC, cache residue from different predecessors) made
    # untouched queries swing 2x round-over-round when their predecessors
    # changed (VERDICT r7 What's-wrong #3: exact_dedup 0.66->1.65 s with no
    # code change). Sorted keys are stable under rotation, so
    # round-over-round per-query comparison is like-for-like.
    sink_dir = None
    if args.sink == "parquet":
        sink_dir = tempfile.mkdtemp(prefix="bench_sink_")

    def materialize(name, df):
        if sink_dir is None:
            return len(df.collect())
        df.write.mode("overwrite").parquet(os.path.join(sink_dir, name))
        return -1  # row count intentionally unobserved: no driver transfer

    first_pass: dict[str, float] = {}
    for name in sorted(qs):
        if only is not None and name not in only:
            continue
        fn = qs[name]
        gc0 = _gc_ms(spark)
        streams0 = len(spark.streams.active)
        t0 = time.perf_counter()
        n = materialize(name, fn(spark, sf_dir))
        first_pass[name] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        n = materialize(name, fn(spark, sf_dir))
        dt = round(time.perf_counter() - t0, 3)
        timings[name] = dt
        total += dt
        print(f"# {name}: {dt:.3f}s (first {first_pass[name]:.3f}s) "
              f"rows={n} gc_ms=+{_gc_ms(spark) - gc0} "
              f"streams_at_start={streams0}", file=sys.stderr)

    if args.probe_out:
        # variance-subprocess mode: dump the second-pass numbers and stop
        with open(args.probe_out, "w") as fh:
            json.dump(timings, fh)
        return

    # VARIANCE PROBES (VERDICT r8 task #8): re-run the slowest lines in a
    # FRESH session (subprocess) so real regressions separate from the
    # ±0.9 s session-state noise documented in SCALE.md §5. The isolated
    # number is still the second consecutive run — steady-state, minus the
    # 70-query session's GC/cache residue.
    # r15 measurement fix, made branch-symmetric in r16 (ADVICE r15):
    # stop the main session unconditionally once timing ends, BEFORE the
    # variance block — two rounds of records carried probe readings taken
    # with the 100-query session still resident (its executor threads, GC
    # and page cache skewed the "isolated" numbers by up to 4x: r15 run,
    # minhash_pairs probe 44.4 s vs 11-12 s truly fresh), and with the
    # stop inside the variance branch the no-variance path exited with a
    # live session while the default path did not. Every timed query is
    # already done here; only JSON emission follows.
    spark.stop()
    variance: dict[str, dict[str, float]] = {}
    if not args.no_variance and only is None:
        import subprocess
        slowest = sorted(first_pass, key=lambda k: -timings[k])[:5]
        # WATCHLIST: lines close to the 2x-of-anchor allowance get an
        # isolated probe every round regardless of rank, so a breach on a
        # noisy driver run is attributable (VERDICT r9 task #5 —
        # depth_chains sat at 1.87x of its r2 anchor on untouched code).
        for watched in ("depth_chains", "chain_audit"):
            if watched in timings and watched not in slowest:
                slowest.append(watched)
        for name in slowest:
            fd, probe = tempfile.mkstemp(suffix=".json")
            os.close(fd)
            rc = subprocess.run(
                [sys.executable, os.path.abspath(__file__),
                 "--only", name, "--probe-out", probe,
                 "--sink", args.sink],
                stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL).returncode
            iso = None
            if rc == 0 and os.path.exists(probe) and os.path.getsize(probe):
                with open(probe) as fh:
                    iso = json.load(fh).get(name)
            if os.path.exists(probe):
                os.unlink(probe)
            if iso is not None:
                # clock-health stamp taken right after the probe: an
                # isolated reading from a degraded window (spin more than
                # SPIN_INVALID_RATIO x the run-start spin) is marked invalid
                spin = _spin_probe()
                valid = spin <= SPIN_INVALID_RATIO * spin_start
                variance[name] = {"in_bench": timings[name],
                                  "isolated": iso, "spin": spin,
                                  "valid": valid}
                print(f"# variance {name}: in_bench={timings[name]:.3f}s "
                      f"isolated={iso:.3f}s spin={spin:.3f}s"
                      + ("" if valid else " (invalid: degraded clock)"),
                      file=sys.stderr)

    # OUTPUT PROTOCOL (fixed in round 9 — VERDICT r8 task #1): the driver
    # keeps only the TAIL of stdout, and the full 86-entry per-query dict
    # overflowed that window two rounds running (BENCH_r07/r08 parsed=null).
    # The FULL blob goes to BENCH_FULL.json and stderr; the single stdout
    # line is a compact summary (totals + the 10 slowest lines) that fits
    # the capture window whole.
    loadavg = {"start": load_start,
               "end": [round(x, 2) for x in os.getloadavg()]}
    clock = {"spin_start": spin_start, "spin_end": _spin_probe()}
    full = {
        "metric": "headline_queries_total",
        "value": round(total, 3),
        "unit": "sec",
        "sf": sf,
        "order": "sorted",  # canonical since r8 — decoupled from rotation
        "sink": args.sink,
        "first_pass_total_sec": round(sum(first_pass.values()), 3),
        "queries": timings,
        "first_pass": first_pass,
        "variance": variance,
        "loadavg": loadavg,
        "clock": clock,
    }
    if only is None:  # don't clobber the full-run record from a dev subset
        full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                 "BENCH_FULL.json")
        with open(full_path, "w") as fh:
            json.dump(full, fh, indent=1, sort_keys=True)
    print("# full blob: " + json.dumps(full, separators=(",", ":")),
          file=sys.stderr)
    slow10 = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    print(json.dumps({
        "metric": "headline_queries_total",
        "value": round(total, 3),
        "unit": "sec",
        "sf": sf,
        "order": "sorted",
        "sink": args.sink,
        "n_queries": len(timings),
        "first_pass_total_sec": round(sum(first_pass.values()), 3),
        "queries": slow10,          # 10 slowest; full dict in BENCH_FULL.json
        "queries_truncated": True,
        "full": "BENCH_FULL.json",
        "variance": variance,
        "loadavg": loadavg,
        "clock": clock,
    }, separators=(",", ":")))


if __name__ == "__main__":
    main()
