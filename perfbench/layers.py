"""Per-layer metrics of a traced pass.

Each metric is named with its layer and is the total over the one traced
pass.  Layer self times come from the benchmark's spans; job, stage and
task counts from ``statusTracker`` per job group (``<op>:<phase>``); bytes,
spill and executor run time from Spark's event log.  ``LAYER_METRICS``
records which end-to-end metric each should move, on which workload
(``BENCHMARK.json`` holds only each metric's name, unit and direction).
"""

from __future__ import annotations

import contextlib
import math
import statistics
from collections import defaultdict

#: metric -> (unit, better, workloads it applies to (None = all), the
#: end-to-end metric and workload it should move)
CATALOG = ("catalog_short", "catalog_heavy")
PIPE = ("cosmo_pipeline",)
SHORT = ("catalog_short",)
LAYER_METRICS = {
    "queries.build_s": ("s", "lower", CATALOG, "workload_s on catalog_heavy; op_geomean_s on catalog_short"),
    "queries.build_jobs": ("count", "lower", CATALOG, "workload_s on catalog_heavy; op_geomean_s on catalog_short"),
    "catalyst.plan_s": ("s", "lower", CATALOG, "op_geomean_s on catalog_short"),
    "exec.collect_s": ("s", "lower", None, "workload_s on catalog_heavy"),
    "exec.jobs": ("count", "lower", None, "workload_s on catalog_heavy"),
    "exec.stages": ("count", "lower", None, "workload_s on catalog_heavy"),
    "exec.tasks": ("count", "lower", None, "workload_s on catalog_heavy"),
    "exec.task_run_s": ("s", "lower", None, "workload_s on catalog_heavy"),
    "exec.busy_ratio": ("ratio", "higher", None, "workload_s on catalog_heavy"),
    "exec.shuffle_write_bytes": ("bytes", "lower", None, "workload_s on catalog_heavy"),
    "exec.shuffle_read_bytes": ("bytes", "lower", None, "workload_s on catalog_heavy"),
    "exec.spill_bytes": ("bytes", "lower", None, "workload_s on catalog_heavy"),
    "cache.leaked_tables": ("count", "lower", None, "mem.peak_rss_mb, workload_s on catalog_heavy"),
    "cache.leaked_rdds": ("count", "lower", None, "mem.peak_rss_mb, workload_s on catalog_heavy"),
    "cache.cleanup_s": ("s", "lower", None, "workload_s on catalog_heavy"),
    "setup.session_s": ("s", "lower", None, "setup_s"),
    "setup.warmup_s": ("s", "lower", CATALOG, "setup_s on catalog_short"),
    "setup.hdr_window_log_s": ("s", "lower", SHORT, "setup_s on catalog_short"),
    "setup.hll_window_log_s": ("s", "lower", SHORT, "setup_s on catalog_short"),
    "setup.cms_window_log_s": ("s", "lower", SHORT, "setup_s on catalog_short"),
    "setup.hll_quarantine_log_s": ("s", "lower", SHORT, "setup_s on catalog_short"),
    "setup.hll_rebuilt_log_s": ("s", "lower", SHORT, "setup_s on catalog_short"),
    "setup.purge_demo_s": ("s", "lower", SHORT, "setup_s on catalog_short"),
    "setup.historical_ingest_s": ("s", "lower", PIPE, "setup_s on cosmo_pipeline"),
    "sources.sms_catalog_s": ("s", "lower", PIPE, "ingest rate on cosmo_pipeline"),
    "sources.find_new_s": ("s", "lower", PIPE, "ingest rate on cosmo_pipeline"),
    "sources.sms_parse_s": ("s", "lower", PIPE, "ingest rate on cosmo_pipeline"),
    "sources.sms_rows": ("count", "higher", PIPE, "ingest rate on cosmo_pipeline"),
    "merge.merge_s": ("s", "lower", PIPE, "ingest rate, store bytes on cosmo_pipeline"),
    "merge.rows_in": ("count", "higher", PIPE, "ingest rate on cosmo_pipeline"),
    "merge.bytes_written_per_input_byte": ("ratio", "lower", PIPE, "store bytes on cosmo_pipeline"),
    "merge.versions_retained": ("count", "lower", PIPE, "store bytes on cosmo_pipeline"),
    "streaming.batch_s": ("s", "lower", PIPE, "ingest rate on cosmo_pipeline"),
    "streaming.batches": ("count", "lower", PIPE, "ingest rate on cosmo_pipeline"),
    "streaming.input_rows_per_s": ("rows/s", "higher", PIPE, "ingest rate on cosmo_pipeline"),
    "monitors.run_s": ("s", "lower", PIPE, "op_geomean_s on cosmo_pipeline"),
    "monitors.jobs": ("count", "lower", PIPE, "op_geomean_s on cosmo_pipeline"),
    "sinks.write_s": ("s", "lower", PIPE, "workload_s on cosmo_pipeline"),
    "sinks.bytes": ("bytes", "lower", PIPE, "workload_s on cosmo_pipeline"),
    "pipeline.ingest_rows_per_s": ("rows/s", "higher", PIPE, "workload_s on cosmo_pipeline"),
    "pipeline.store_bytes_per_input_byte": ("ratio", "lower", PIPE, "workload_s on cosmo_pipeline"),
    "mem.peak_rss_mb": ("MB", "lower", None, "none: Python process + JVM peak resident memory"),
    "floor.empty_job_s": ("s", "lower", None, "none: host calibration"),
    "trace.overhead_s": ("s", "lower", None, "none: traced minus untraced pass"),
    "trace.self_sum_ratio": ("ratio", "lower", None, "none: layer self times over untraced op wall"),
    "trace.ops_within_10pct": ("ratio", "higher", None, "none: ops whose layers reconcile"),
}


def monitor_names() -> list[str]:
    from cosmo_spark.monitors import MONITORS

    return list(MONITORS)


def tail(walls: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile (whole number) that has at least ten samples
    beyond it, and its value; (None, None) with fewer than 11 samples."""
    n = len(walls)
    if n < 11:
        return None, None
    pct = math.floor(100.0 * (n - 10) / n)
    s = sorted(walls)
    return float(pct), s[max(0, math.ceil(pct / 100.0 * n) - 1)]


@contextlib.contextmanager
def patched_merge(tracer):
    """Time ``merge_into_path`` where the streaming ingest calls it (inside
    its ``foreachBatch``), which the benchmark cannot wrap from outside;
    the span records only while the tracer is enabled."""
    from cosmo_spark.streaming import ingest

    orig = ingest.merge_into_path
    ingest.merge_into_path = tracer.wrap("merge.merge", orig)
    try:
        yield
    finally:
        ingest.merge_into_path = orig


def group_counts(probe) -> dict[str, dict[str, int]]:
    """statusTracker counts per job group; read before the session stops."""
    return {g: probe.counts(g) for g in dict.fromkeys(probe.groups)}


def per_layer(workload: str, bench, tracer, probe, passes: list[dict],
              counts: dict[str, dict[str, int]], host: dict, rss_mb: float,
              pipeline=None) -> tuple[dict, list[str]]:
    traced = next(p for p in passes if p["traced"])
    tp = traced["pass"]
    # the untraced reference: the passes just before and after the traced one
    refs = [p for p in passes if abs(p["pass"] - tp) == 1]
    ref_passes = {p["pass"] for p in refs}
    ops = [o for o in bench.ops if o["pass"] == tp]
    ref_wall = defaultdict(float)
    for o in bench.ops:
        if o["pass"] in ref_passes:
            ref_wall[o["op"].split("#")[0]] += o["wall"] / len(refs)
    st = tracer.self_times()

    def self_s(layer: str) -> float:
        return sum(v for (op, name), v in st.items()
                   if name == layer and op and op.endswith(f"#{tp}"))

    def jobs(suffix: str | None = None, prefix: str = "") -> dict[str, int]:
        tot = defaultdict(int)
        for g, c in counts.items():
            op, _, phase = g.rpartition(":")
            if not op.endswith(f"#{tp}") or not g.startswith(prefix):
                continue
            if suffix is None or phase == suffix:
                for k, v in c.items():
                    tot[k] += v
        return tot

    ev = defaultdict(float)
    for g, m in probe.eventlog_metrics().items():
        if g.rpartition(":")[0].endswith(f"#{tp}"):
            for k, v in m.items():
                ev[k] += v
    all_jobs = jobs()
    v: dict[str, float] = {
        "queries.build_s": self_s("queries.spark_fn"),
        "queries.build_jobs": jobs("build")["jobs"] if workload != "cosmo_pipeline" else 0,
        "catalyst.plan_s": self_s("catalyst.plan"),
        "exec.collect_s": self_s("exec.collect"),
        "exec.jobs": all_jobs["jobs"],
        "exec.stages": all_jobs["stages"],
        "exec.tasks": all_jobs["tasks"],
        "exec.task_run_s": ev["task_run_s"],
        "exec.busy_ratio": ev["task_run_s"] / (traced["wall"] * host["nproc"]),
        "exec.shuffle_write_bytes": ev["shuffle_write_bytes"],
        "exec.shuffle_read_bytes": ev["shuffle_read_bytes"],
        "exec.spill_bytes": ev["spill_bytes"],
        "cache.leaked_tables": sum(o.get("leaked_tables", 0) for o in ops),
        "cache.leaked_rdds": sum(o.get("leaked_rdds", 0) for o in ops),
        "cache.cleanup_s": self_s("cache.cleanup"),
        "floor.empty_job_s": host["floor.empty_job_s"],
        "mem.peak_rss_mb": rss_mb,
        "trace.overhead_s": traced["wall"] - statistics.mean(p["wall"] for p in refs),
    }
    for name, samples in bench.setup.items():
        v[f"setup.{name}_s"] = statistics.median(samples)

    # reconciliation: per op, the traced layer self times (cleanup excluded)
    # against the op's mean untraced wall
    per_op = defaultdict(float)
    for (op, name), s in st.items():
        if op and op.endswith(f"#{tp}") and name != "cache.cleanup":
            per_op[op.split("#")[0]] += s
    ratios = [per_op[k] / ref_wall[k] for k in per_op if ref_wall.get(k)]
    v["trace.self_sum_ratio"] = statistics.median(ratios) if ratios else 0.0
    v["trace.ops_within_10pct"] = (sum(1 for r in ratios if abs(r - 1.0) <= 0.10)
                                   / len(ratios)) if ratios else 0.0

    if pipeline is not None:
        ex = bench.extra[tp]
        stream = [o for o in ops if o["op"].startswith("acq:")]
        batch_s = sum(o.get("batch_s", 0.0) for o in stream)
        stream_rows = sum(o.get("stream_rows", 0) for o in stream)
        sms_rows = sum(o.get("sms_rows", 0) for o in ops)
        # the ingest rate is an untraced figure: the reference passes' ops
        ingest = [o for o in bench.ops if o["pass"] in ref_passes
                  and o["op"].startswith(("acq:", "sms:"))]
        ingest_rows = sum(o.get("sms_rows", 0) + o.get("stream_rows", 0) for o in ingest)
        v.update({
            "sources.sms_catalog_s": self_s("sources.sms_catalog"),
            "sources.find_new_s": self_s("sources.find_new"),
            "sources.sms_parse_s": self_s("sources.sms_parse"),
            "sources.sms_rows": sms_rows,
            "merge.merge_s": self_s("merge.merge"),
            "merge.rows_in": sms_rows + stream_rows,
            "merge.bytes_written_per_input_byte":
                (ex["store_bytes"] - pipeline.setup_store_bytes) / pipeline.delivery_bytes,
            "merge.versions_retained": ex["versions"],
            "streaming.batch_s": batch_s,
            "streaming.batches": sum(o.get("batches", 0) for o in stream),
            "streaming.input_rows_per_s": stream_rows / batch_s if batch_s else 0.0,
            "monitors.run_s": self_s("monitors.run"),
            "monitors.jobs": jobs("build", prefix="mon:")["jobs"],
            "sinks.write_s": self_s("sinks.write"),
            "sinks.bytes": ex["sink_bytes"],
            "pipeline.ingest_rows_per_s": ingest_rows / sum(o["wall"] for o in ingest),
            "pipeline.store_bytes_per_input_byte": ex["store_bytes"] / pipeline.input_bytes,
        })
        for m in monitor_names():
            v[f"monitors.{m}.run_s"] = st.get((f"mon:{m}#{tp}", "monitors.run"), 0.0)
            v[f"monitors.{m}.jobs"] = counts.get(f"mon:{m}#{tp}:build", {}).get("jobs", 0)

    metrics, not_applicable = {}, []
    for name, (unit, _, applies, _) in all_layer_metrics().items():
        if applies is not None and workload not in applies:
            not_applicable.append(name)
        metrics[name] = (float(v.get(name, 0.0)), unit)
    return metrics, not_applicable


def all_layer_metrics() -> dict[str, tuple]:
    out = dict(LAYER_METRICS)
    for m in monitor_names():
        out[f"monitors.{m}.run_s"] = ("s", "lower", PIPE, "op_geomean_s on cosmo_pipeline")
        out[f"monitors.{m}.jobs"] = ("count", "lower", PIPE, "op_geomean_s on cosmo_pipeline")
    return out
