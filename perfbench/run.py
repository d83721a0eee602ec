"""Order-book engine benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout. It generates the workload's
``events`` input from ``--seed`` (``perfbench/gen.py``), starts the engine
on ``local[$(nproc)]`` with one client thread, sets it up, times whole
blocks of operations until ``--seconds`` of operation time have passed,
checks every result against its DuckDB oracle or property, and prints one
JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
Spark's event log is on and the metrics are the per-layer split of every
span (see ``perfbench/README.md``). Everything the run writes goes under
``.perfbench_work/`` (deleted at exit) and ``.perfbench_out/`` (the run
record and its spans) in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# events per workload input: 240 orders over one month, ~42 events per
# order (the sf0.01 testdata density). The benchmark's whole run budget is
# about a minute per run, and at this size a run spends it on driver, job
# and fold overheads, which are what the interactive path pays
ROWS = {"lookup": 10_000, "ingest": 10_000}
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "stored_bytes_per_input_byte": "B/B",
}

SPAN_FIELDS_UNITS = {"wall_s": "s", "driver_s": "s", "jobs": "count",
                     "executor_cpu_s": "s", "shuffle_bytes": "B",
                     "gc_ms": "ms"}
SETUP_SPANS = ("setup.session", "setup.derive", "setup.persist",
               "setup.seed", "setup.warmup")
RATIOS = {
    "lookup.order_book.rows_read_per_row_out": "ratio",
    "lookup.get_spread.rows_read_per_row_out": "ratio",
    "ingest.match_sweep.links_per_trade": "ratio",
    "setup.persist.ckpt_rows_per_l3_row": "ratio",
    "ingest.match_sweep.driver_share": "ratio",
}
TRACED_E2E = ("setup_s", "pass_s")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in a fixed order."""
    from workloads import Ingest, Lookup

    out: dict[str, str] = {}
    spans = (list(SETUP_SPANS) + [f"lookup.{k}" for k in Lookup.KINDS]
             + [f"ingest.{k}" for k in Ingest.STEPS])
    for span in spans:
        for f, unit in SPAN_FIELDS_UNITS.items():
            out[f"{span}.{f}"] = unit
        if span.startswith("lookup."):
            out[f"{span}.p50_s"] = "s"
    out.update(RATIOS)
    out["session.peak_rss_mb"] = "MB"
    out.update({f"traced.{m}": END_TO_END[m] for m in TRACED_E2E})
    return out


def spin_probe(n: int = 1_000_000) -> float:
    """Wall time of a fixed pure-Python loop: a clock-health stamp (a
    loaded host stretches it)."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i & 7
    return time.perf_counter() - t0


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine as this VM sees it.
    Steal is time the host ran something else while this VM wanted the
    CPU; its share over a run is stamped as evidence of a contended host."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


def configure_env(work: str, trace: bool) -> None:
    """Environment for the engine's JVM and Python workers, set before the
    session starts. Scratch and spill go inside the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # the JVMs' temp files go to the work directory too, and they keep no
    # performance-counter file in the system temp directory
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        os.environ[var] = " ".join(filter(None, (
            os.environ.get(var), f"-Djava.io.tmpdir={tmp}",
            "-XX:-UsePerfData")))
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        os.environ["SPARK_CONF_DIR"] = os.path.join(HERE, "conf")
        os.environ["PERFBENCH_EVENT_LOG_DIR"] = log_dir


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _, files in os.walk(path) for f in files)


def peak_rss_mb(spark) -> float:
    """Driver JVM high-water RSS plus this process's maximum RSS."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        hwm_kb = next(int(line.split()[1]) for line in fh
                      if line.startswith("VmHWM:"))
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (hwm_kb + own_kb) / 1024.0


def stop_engine(spark) -> None:
    """Stop the session, then end the JVM (its Python workers go with it)
    and wait for it, so that no process outlives the run."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def end_to_end(setup_s, ops, stored, input_bytes) -> dict:
    kinds = sorted({o.kind for o in ops})
    return {
        "setup_s": setup_s,
        "pass_s": sum(statistics.median(o.seconds for o in ops
                                        if o.kind == k) for k in kinds),
        "stored_bytes_per_input_byte": stored / input_bytes,
    }


def per_layer(split: list[dict], ratios: dict, e2e: dict,
              rss_mb: float) -> dict:
    """Sum each span name's split; unexercised spans read 0."""
    from spans import SPAN_FIELDS

    out = {name: 0.0 for name in per_layer_units()}
    by_name: dict[str, list[dict]] = {}
    for row in split:
        by_name.setdefault(row["name"], []).append(row)
    for name, rows in by_name.items():
        if f"{name}.wall_s" not in out:
            continue
        for f in SPAN_FIELDS:
            out[f"{name}.{f}"] = float(sum(r[f] for r in rows))
        if f"{name}.p50_s" in out:
            out[f"{name}.p50_s"] = statistics.median(r["wall_s"] for r in rows)
    for kind in ("order_book", "get_spread"):
        rows = by_name.get(f"lookup.{kind}", [])
        rows_out = sum(r["rows_out"] or 0 for r in rows)
        if rows_out:
            out[f"lookup.{kind}.rows_read_per_row_out"] = (
                sum(r["records_read"] for r in rows) / rows_out)
    sweep = out["ingest.match_sweep.wall_s"]
    if sweep:
        out["ingest.match_sweep.driver_share"] = (
            out["ingest.match_sweep.driver_s"] / sweep)
    out.update(ratios)
    out["session.peak_rss_mb"] = rss_mb
    out.update({f"traced.{m}": e2e[m] for m in TRACED_E2E})
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(ROWS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=None,
                    help="override the workload's input size (smoke test)")
    args = ap.parse_args(argv)
    sys.path[:0] = [HERE, ROOT]

    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "nproc": len(os.sched_getaffinity(0)),
              "loadavg_start": os.getloadavg(), "spin_start_s": spin_probe(),
              "python": platform.python_version()}
    steal0, total0 = cpu_times()
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        configure_env(work, bool(args.trace))
        record["spark_graft_cpus"] = os.environ["SPARK_GRAFT_CPUS"]
        return run(args, work, record, (steal0, total0))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, record: dict, cpu0: tuple[int, int]) -> int:
    # imports that fail outside a full source checkout fail here, before
    # any work starts
    import oracles
    from spans import Tracer, jvm_gc_ms, read_event_logs, split_spans
    from workloads import Context, Ingest, Lookup

    rows = args.rows or ROWS[args.workload]
    workload = {"lookup": Lookup, "ingest": Ingest}[args.workload](rows)
    tracer = Tracer()
    ctx = Context(args.workload, work, rows, args.seed, tracer)
    if args.trace:
        tracer.gc_probe = lambda: jvm_gc_ms(ctx.spark) if ctx.spark else 0

    # one setup per run: it starts the JVM, so it also pays the JVM's
    # start and warm-up; a second setup in the same process would not
    t0 = time.perf_counter()
    workload.setup(ctx)
    setup_s = time.perf_counter() - t0
    spark = ctx.spark
    record["spark"] = spark.version
    record["java"] = spark.sparkContext._jvm.java.lang.System.getProperty(
        "java.version")

    t0 = time.perf_counter()
    ops = workload.run(ctx, args.seconds)
    wall_s = time.perf_counter() - t0
    rss = peak_rss_mb(spark)

    t0 = time.perf_counter()
    events_path = os.path.join(ctx.events_dir, "events.parquet")
    with oracles.Oracle(events_path) as oracle:
        workload.check(ctx, ops, oracle)
    record["check_s"] = time.perf_counter() - t0
    stored = sum(dir_bytes(d) for d in ctx.stored_dirs)
    stop_engine(spark)

    e2e = end_to_end(setup_s, ops, stored, os.path.getsize(events_path))
    failed = [o for o in ops if o.failed]
    record.update({
        "rows": rows, "ops": len(ops),
        "op_seconds": [[o.kind, o.seconds] for o in ops],
        "op_p50_s": statistics.median(o.seconds for o in ops),
        "ops_per_s": len(ops) / wall_s, "peak_rss_mb": rss,
        "failures": [{"op": o.kind, "request": o.request,
                      "problems": o.problems} for o in failed],
        "loadavg_end": os.getloadavg(), "spin_end_s": spin_probe(),
    })
    steal, total = (b - a for a, b in zip(cpu0, cpu_times()))
    record["cpu_steal_share"] = steal / total if total else 0.0
    if args.trace:
        split = split_spans(tracer.spans,
                            read_event_logs(os.path.join(work, "eventlog")))
        metrics = per_layer(split, ctx.ratios, e2e, rss)
        units = per_layer_units()
        sweep = [r for r in split if r["name"] == "ingest.match_sweep"]
        if sweep:
            drv = sum(r["driver_s"] for r in sweep)
            jobs_s = sum(r["wall_s"] for r in sweep) - drv
            record["match_sweep"] = {
                "driver_s": drv, "job_s": jobs_s,
                "driver_bound": drv > jobs_s}
    else:
        metrics, units = e2e, END_TO_END

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                                 f"-trace{args.trace}")
    tracer.write(stem + ".spans.jsonl")
    with open(stem + ".record.json", "w") as fh:
        json.dump({**record, "metrics": metrics}, fh, indent=1)
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": not failed, "attempted": len(ops), "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
