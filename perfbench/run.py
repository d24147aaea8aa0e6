"""cosmo_spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload catalog_short --seed 1 --seconds 10 --trace 0

Workloads (see ``workloads.py``): ``catalog_short``, ``catalog_heavy``,
``cosmo_pipeline``.  Run from the repository root.  Each run:

1. generates its inputs from ``--seed`` under ``.perfbench/`` (and checks
   that a second generation is byte-identical), and wipes the program's
   at-rest artifact root ``spark-warehouse/`` so every run builds from
   nothing;
2. starts one Spark session at ``local[nproc]`` and times the empty-job
   floor, the warm-up and the set-up work (repeated, median reported);
3. runs whole passes of the workload until ``--seconds`` have elapsed;
4. checks every op's output (DuckDB oracle, newest-per-key stores, pinned
   monitor frames) outside the timed region.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` a traced pass (spans, job groups, Spark event log) runs
between two untraced ones, and the last line carries the per-layer metrics
of the traced pass; layers a workload does not exercise read 0 and are
listed as not applicable in the report under ``.perfbench/out/``.  See
``README.md`` for the workloads, the metrics and what each is checked
against.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("catalog_short", "catalog_heavy", "cosmo_pipeline")
N_FLOOR = 5


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, trace: bool):
    from cosmo_spark.session import get_spark

    n = nproc()
    extra = {"spark.sql.warehouse.dir": str(ROOT / "spark-warehouse")}
    if trace:
        logdir = os.path.join(work, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": Path(logdir).resolve().as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="cosmo-spark-perfbench", master=f"local[{n}]",
                      shuffle_partitions=n, extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, f"local[{n}]"


def stop_session(spark) -> None:
    """Stop Spark and its JVM, and wait for the JVM to exit (it would
    otherwise outlive the session until this process exits)."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:  # already stopped
        return
    spark.stop()
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits when its stdin pipe closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def floor_job(spark) -> float:
    samples = []
    for _ in range(N_FLOOR):
        t0 = time.perf_counter()
        spark.range(1).collect()
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples)


def run(args) -> dict:
    sys.path.insert(0, str(ROOT))
    from perfbench import gen, layers, workloads as wl
    from perfbench.trace import SparkProbe, Tracer, host_record, peak_rss_mb

    work = str(ROOT / ".perfbench" / f"{args.workload}-{args.seed}-{args.trace}")
    inputs = os.path.join(work, "inputs")
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(ROOT / "spark-warehouse", ignore_errors=True)
    os.makedirs(work)
    generated = gen.make_inputs(inputs, args.seed)
    again = os.path.join(work, "inputs_again")
    gen.make_inputs(again, args.seed)
    same_bytes = gen.tree_digest(inputs) == gen.tree_digest(again)
    shutil.rmtree(again)

    trace = bool(args.trace)
    t_setup = time.perf_counter()
    spark, master = start_session(work, trace)
    session_s = time.perf_counter() - t_setup
    try:
        tracer = Tracer(False)
        probe = SparkProbe(spark, os.path.join(work, "eventlog") if trace else None)
        bench = wl.Bench(spark, probe, tracer, inputs, work)
        floor_s = floor_job(spark)
        host = host_record(spark, master, args.seed, floor_s)

        # warm-up and set-up, before the first timed op
        setup_once = None
        if args.workload == "cosmo_pipeline":
            w = wl.Pipeline(bench, generated["pipeline"])
            setup_once = lambda: bench.timed_setup("historical_ingest", w.historical_ingest)
        elif args.workload == "catalog_short":
            w = wl.Catalog(bench, wl.CATALOG_SHORT)
            bench.timed_setup("warmup", w.warm_tables)
            setup_once = w.build_stores
        else:
            w = wl.Catalog(bench, wl.CATALOG_HEAVY)
            # the heavy warm-up pass runs over the 0.1-scale twin: same plans,
            # a fraction of the data
            twin = wl.Catalog(bench, wl.CATALOG_HEAVY, "catalog_warm")
            bench.timed_setup("warmup", lambda: (w.warm_tables(), twin.run_pass(0, check=False)))
            bench.ops.clear()
        rep_totals = [0.0]
        if setup_once:
            rep_totals = []
            for _ in range(wl.SETUP_REPEATS):
                t_rep = time.perf_counter()
                setup_once()
                rep_totals.append(time.perf_counter() - t_rep)
        bench.setup["session"] = [session_s]
        setup_s = session_s + sum(bench.setup.get("warmup", [])) + statistics.median(rep_totals)

        if not trace:
            pass_walls: list[float] = []
            t_end = time.perf_counter() + args.seconds
            p = 1
            while True:
                pass_walls.append(w.run_pass(p))
                p += 1
                if time.perf_counter() >= t_end:
                    break
        else:
            # a traced pass between two untraced ones, whose mean is the
            # untraced reference; that cancels most of the JVM's warm-up drift
            # once each op has run before.  On the catalog the modes go op by
            # op, after one untraced warm-up run of each op; the stateful
            # pipeline goes pass by pass after a whole warm-up pass.
            with layers.patched_merge(tracer):
                if isinstance(w, wl.Catalog):
                    modes = ((1, False), (2, False), (3, True), (4, False))
                    walls = w.run_ops(modes)
                else:
                    modes = ((1, False), (2, True), (3, False))
                    w.run_pass(0)
                    bench.ops.clear()
                    walls = {}
                    for p, traced in modes:
                        tracer.enabled = probe.enabled = traced
                        walls[p] = w.run_pass(p)
                    tracer.enabled = probe.enabled = False
            passes = [{"pass": p, "traced": t, "wall": walls[p]} for p, t in modes]
            pass_walls = [walls[p] for p, _ in modes]
        rss = peak_rss_mb(probe.jvm_pid())
        measured = bench.ops
        out = {
            "workload": args.workload, "host": host,
            "inputs_byte_identical": same_bytes,
            "setup": {k: v for k, v in bench.setup.items()},
            "session_s": session_s, "pass_walls": pass_walls, "peak_rss_mb": rss,
            "ops": measured,
            "frames": getattr(w, "frames", None),
        }
        if not trace:
            walls = [o["wall"] for o in measured]
            tail_pct, tail = layers.tail(walls)
            out["op_tail"] = {"percentile": tail_pct, "value_s": tail, "samples": len(walls)}
            out["op_p50_s"] = statistics.median(walls)
            metrics = {
                "workload_s": (statistics.median(pass_walls), "s"),
                "op_geomean_s": (statistics.geometric_mean(walls), "s"),
                "setup_s": (setup_s, "s"),
            }
        else:
            counts = layers.group_counts(probe)
            stop_session(spark)  # flushes the event log
            metrics, not_applicable = layers.per_layer(
                args.workload, bench, tracer, probe, passes, counts, host, rss,
                pipeline=w if args.workload == "cosmo_pipeline" else None)
            out["not_applicable"] = not_applicable
    finally:
        stop_session(spark)
    out["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    failed = sum(1 for o in measured if not o["ok"])
    out["result"] = {
        "correct": failed == 0 and same_bytes,
        "attempted": len(measured),
        "failed": failed,
        "metrics": out["metrics"],
    }
    report_dir = ROOT / ".perfbench" / "out"
    report_dir.mkdir(parents=True, exist_ok=True)
    if trace:
        tracer.dump(str(report_dir / f"{args.workload}-s{args.seed}-spans.jsonl"))
    (report_dir / f"{args.workload}-s{args.seed}-t{args.trace}.json").write_text(
        json.dumps(out, indent=1, default=str) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "cosmo_spark").is_dir():
        print(f"perfbench: no cosmo_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    out = run(args)
    print("host: " + json.dumps(out["host"]))
    for o in out["ops"]:
        if not o["ok"]:
            print(f"failed op {o['op']}: {o['problems']}")
    if out.get("not_applicable"):
        print("not applicable on this workload: " + ", ".join(out["not_applicable"]))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
