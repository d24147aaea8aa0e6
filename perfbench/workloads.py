"""The three workloads.  Each is a closed loop with one client: the next op
starts when the previous one has returned.

- ``catalog_short``: a fixed, named slice of the catalog queries whose r14
  minimum was under 1 s — overhead-bound (planning, py4j, job launch), the
  bypass case for every execution-side optimisation.  Set-up builds the
  at-rest stores its window-log and purge readers read.
- ``catalog_heavy``: the eight slowest queries that need no set-up
  artifact; eager build jobs and shuffle/aggregation dominate.  A warm-up
  pass precedes the measured passes.
- ``cosmo_pipeline``: ingest → store → analyze.  Each pass starts from the
  post-set-up store, ingests every delivery (SMS reports through
  ``sms_catalog`` → ``find_new`` → ``merge_into_path``; JSON exposure
  deliveries through ``stream_ingest_merge``), then runs the monthly and
  daily monitors and collects and writes every frame.

An op's wall time covers only the program's work; checks and the cache
hygiene between ops run outside it.
"""

from __future__ import annotations

import os
import shutil
import time

from perfbench import checks

#: catalog queries with an r14 minimum under 1 s (BENCH_LOCAL.json), every
#: sixth in catalog order plus all six at-rest store readers; q155 (its
#: DuckDB oracle takes 19 s) is left out
CATALOG_SHORT = (
    "q01 q07 q111 q123 q137 q146 q147 q151 q152 q161 q163 "
    "q21 q27 q34 q41 q49 q57 q67 q81 q94"
).split()

#: the eight slowest queries that need no set-up artifact
CATALOG_HEAVY = "q100 q102 q116 q119 q121 q125 q127 q136".split()

#: at-rest stores the catalog_short readers need, in build order (the
#: rebuilt HLL log derives from the quarantine log)
SHORT_STORES = (
    ("hdr_window_log", "_hdr_window_log_dir", "ensure_hdr_window_log"),
    ("hll_window_log", "_hll_window_log_dir", "ensure_hll_window_log"),
    ("cms_window_log", "_cms_window_log_dir", "ensure_cms_window_log"),
    ("hll_quarantine_log", "_hllq_window_log_dir", "ensure_hll_quarantine_log"),
    ("hll_rebuilt_log", "_hllq_rebuilt_log_dir", "ensure_hll_rebuilt_log"),
    ("purge_demo", "_purge_demo_dir", "ensure_purged_events"),
)

SETUP_REPEATS = 3


def resolve(prefixes: list[str]) -> list[str]:
    from cosmo_spark.queries import all_queries

    names = {n.split("_", 1)[0]: n for n in all_queries()}
    return [names[p] for p in prefixes]


class Bench:
    """State of one run: session, probes, op records."""

    def __init__(self, spark, probe, tracer, inputs: str, work: str):
        self.spark, self.probe, self.tracer = spark, probe, tracer
        self.inputs, self.work = inputs, work
        self.ops: list[dict] = []
        self.setup: dict[str, list[float]] = {}
        self.extra: dict[int, dict] = {}  # pass -> per-pass facts

    def record(self, op: str, pass_no: int, wall: float, problems: list[str],
               traced: bool, **info) -> dict:
        rec = {"op": op, "pass": pass_no, "wall": wall, "traced": traced,
               "ok": not problems, "problems": problems, **info}
        self.ops.append(rec)
        return rec

    def hygiene(self, op: str) -> dict:
        """Count session state the op left behind, then clear it."""
        out = {}
        if self.tracer.enabled:
            out["leaked_tables"], out["leaked_rdds"] = self.probe.leaked()
        with self.tracer.span("cache.cleanup"):
            self.probe.cleanup()
        return out

    def timed_setup(self, name: str, fn) -> None:
        t0 = time.perf_counter()
        fn()
        self.setup.setdefault(name, []).append(time.perf_counter() - t0)


# --------------------------------------------------------------------------
# catalog


class Catalog:
    def __init__(self, bench: Bench, prefixes: list[str], data: str = "catalog"):
        from cosmo_spark.queries import all_queries

        self.b = bench
        qs = all_queries()
        self.queries = [(n, qs[n]) for n in resolve(prefixes)]
        self.data = os.path.join(bench.inputs, data)
        self.oracle = checks.Oracle(self.data)

    def warm_tables(self) -> None:
        from cosmo_spark.sources.tables import TABLES, load_table

        for t in TABLES:
            load_table(self.b.spark, self.data, t).limit(1).collect()

    def build_stores(self) -> None:
        """Delete and rebuild each at-rest store; one set-up repeat."""
        from cosmo_spark.queries import timeseries as ts

        for tag, dir_fn, build in SHORT_STORES:
            shutil.rmtree(getattr(ts, dir_fn)(self.data), ignore_errors=True)
            self.b.timed_setup(tag, lambda: getattr(ts, build)(self.b.spark, self.data))
        self.b.spark.catalog.clearCache()

    def run_pass(self, pass_no: int, check: bool = True) -> float:
        return self.run_ops([(pass_no, self.b.tracer.enabled)], check)[pass_no]

    def run_ops(self, modes: list[tuple[int, bool]], check: bool = True) -> dict[int, float]:
        """Run each query once per (pass, traced) mode, the modes back to
        back, so a traced op is compared with its own untraced neighbours
        and not with a pass run later in the JVM's warm-up.  Returns each
        pass's wall: its ops plus the hygiene between them."""
        b, tr, probe = self.b, self.b.tracer, self.b.probe
        was = tr.enabled
        results = []
        walls = dict.fromkeys((p for p, _ in modes), 0.0)
        for name, q in self.queries:
            for pass_no, traced in modes:
                tr.enabled = probe.enabled = traced
                op = f"{name.split('_', 1)[0]}#{pass_no}"
                tr.op = op
                err = None
                cols, rows = [], []
                t0 = time.perf_counter()
                try:
                    with tr.span("op"):
                        with tr.span("queries.spark_fn"), probe.group(f"{op}:build"):
                            df = q.spark_fn(b.spark, self.data)
                        if traced:
                            with tr.span("catalyst.plan"), probe.group(f"{op}:plan"):
                                df._jdf.queryExecution().executedPlan()
                        with tr.span("exec.collect"), probe.group(f"{op}:collect"):
                            rows = df.collect()
                        cols = df.columns
                except Exception as exc:  # a failing op is counted, not fatal
                    err = f"{type(exc).__name__}: {str(exc)[:200]}"
                wall = time.perf_counter() - t0
                info = b.hygiene(op)
                walls[pass_no] += time.perf_counter() - t0
                results.append((name, q, op, pass_no, traced, wall, err, cols, rows, info))
        tr.op = None
        tr.enabled = probe.enabled = was
        for name, q, op, pass_no, traced, wall, err, cols, rows, info in results:
            problems = [err] if err else [] if not check else self.oracle.compare(
                name, q.oracle, cols, [tuple(r) for r in rows])
            b.record(op, pass_no, wall, problems, traced, **info)
        return walls


# --------------------------------------------------------------------------
# cosmo pipeline

ACQ_KEY, ACQ_VERSION = "ROOTNAME", "VERSION"
MONITOR_TABLES = ("osm", "dark", "telemetry", "jitter", "science", "ancillary")


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


class Pipeline:
    def __init__(self, bench: Bench, generated: dict):
        from pyspark.sql.types import LongType, StructField, StructType

        from cosmo_spark.schemas import ACQ

        self.b = bench
        self.gen = generated
        self.src = os.path.join(bench.inputs, "pipeline")
        self.live = os.path.join(bench.work, "pipeline_live")
        self.snap = os.path.join(bench.work, "pipeline_setup")
        self.schema = StructType(ACQ.fields + [StructField("VERSION", LongType())])
        self.deliveries = sorted(set(os.listdir(os.path.join(self.src, "acq_deliveries")))
                                 | set(os.listdir(os.path.join(self.src, "sms_deliveries"))))
        self.input_bytes = _dir_bytes(self.src)
        self.delivery_bytes = sum(_dir_bytes(os.path.join(self.src, d))
                                  for d in ("sms_deliveries", "acq_deliveries"))
        self.expected_acq = checks.newest_per_key(generated["acq_all"], ACQ_KEY, ACQ_VERSION)
        self.expected_sms = self._expected_sms()
        from perfbench.gen import acq_expected_rows

        self.expected_rows = {**generated["monitor_data_rows"],
                              **acq_expected_rows(generated["acq"])}
        self.schemas = checks.load_monitor_schemas()
        self.frames: dict[str, tuple[str, int]] = {}

    def _expected_sms(self):
        names = ["EXPOSURE", "ROOTNAME", "PROPOSID", "DETECTOR", "OPMODE",
                 "EXPTIME", "EXPSTART", "FUVHVSTATE", "APERTURE", "OSM1POS",
                 "OSM2POS", "CENWAVE", "FILEID", "FPPOS", "TSINCEOSM1", "TSINCEOSM2"]
        rows = [dict(zip(names, r)) for r in self.gen["sms_rows"]]
        return checks.newest_per_key(rows, "EXPOSURE", "FILEID")

    # live layout: <live>/{sms_in, acq_in, store/{sms_file_stats, sms_exposures, acq}, ckpt, out}
    def _p(self, *parts: str) -> str:
        return os.path.join(self.live, *parts)

    def historical_ingest(self) -> None:
        """Set-up: ingest the history into empty stores; snapshot them."""
        shutil.rmtree(self.live, ignore_errors=True)
        os.makedirs(self._p("sms_in"))
        os.makedirs(self._p("acq_in"))
        for f in os.listdir(os.path.join(self.src, "sms_history")):
            shutil.copy(os.path.join(self.src, "sms_history", f), self._p("sms_in", f))
        shutil.copy(os.path.join(self.src, "acq_history", "h0.json"), self._p("acq_in", "h0.json"))
        self.sms_delivery("setup")
        self.acq_delivery("setup")
        self.setup_store_bytes = _dir_bytes(self._p("store"))
        shutil.rmtree(self.snap, ignore_errors=True)
        shutil.copytree(self.live, self.snap)

    def reset(self) -> None:
        shutil.rmtree(self.live, ignore_errors=True)
        shutil.copytree(self.snap, self.live)

    def sms_delivery(self, op: str) -> int:
        """runner._ingest_sms's sequence, each call in its own span."""
        from cosmo_spark.operators.merge import merge_into_path
        from cosmo_spark.sources.sms import find_new, parse_sms_reports, sms_catalog
        from cosmo_spark.sources.versioned import read_current

        b, tr, probe = self.b, self.b.tracer, self.b.probe
        spark = b.spark
        cat_path = self._p("store", "sms_file_stats")
        rows_path = self._p("store", "sms_exposures")
        with tr.span("sources.sms_catalog"), probe.group(f"{op}:sms_catalog"):
            catalog = sms_catalog(spark, self._p("sms_in"))
        with tr.span("sources.find_new"), probe.group(f"{op}:find_new"):
            log = read_current(spark, cat_path) if os.path.exists(cat_path) else None
            new = find_new(catalog, log).localCheckpoint()
            n_new = new.count()
        if not n_new:
            return 0
        with tr.span("merge.merge"), probe.group(f"{op}:merge"):
            merge_into_path(spark, cat_path, new, "SMSID", "VERSION")
        with tr.span("sources.sms_parse"), probe.group(f"{op}:sms_parse"):
            exposures = parse_sms_reports(spark, self._p("sms_in"))
            new_rows = exposures.join(new.select("FILEID"), "FILEID", "left_semi").localCheckpoint()
            n_rows = new_rows.count()
        with tr.span("merge.merge"), probe.group(f"{op}:merge"):
            merge_into_path(spark, rows_path, new_rows, "EXPOSURE", "FILEID")
        return n_rows

    def acq_delivery(self, op: str):
        from cosmo_spark.streaming.ingest import stream_ingest_merge

        b, tr, probe = self.b, self.b.tracer, self.b.probe
        with tr.span("streaming.run"), probe.group(f"{op}:stream"):
            q = stream_ingest_merge(
                b.spark, self._p("acq_in"), self.schema, self._p("store", "acq"),
                ACQ_KEY, ACQ_VERSION, self._p("ckpt"))
            q.awaitTermination()
            progress = q.recentProgress
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return progress

    def sms_op(self, d: str, ddir: str, pass_no: int) -> None:
        """SMS delivery: new report files land in the watched directory."""
        b, tr = self.b, self.b.tracer
        op = f"sms:{d}#{pass_no}"
        tr.op = op
        for f in sorted(os.listdir(ddir)):
            shutil.copy(os.path.join(ddir, f), self._p("sms_in", f))
        err, n = None, 0
        t0 = time.perf_counter()
        try:
            with tr.span("op"):
                n = self.sms_delivery(op)
        except Exception as exc:
            err = f"{type(exc).__name__}: {str(exc)[:200]}"
        wall = time.perf_counter() - t0
        b.record(op, pass_no, wall, [err] if err else [], tr.enabled,
                 sms_rows=n, **b.hygiene(op))

    def acq_op(self, d: str, pass_no: int) -> None:
        """JSON exposure delivery through the streaming merge."""
        b, tr = self.b, self.b.tracer
        op = f"acq:{d}#{pass_no}"
        tr.op = op
        shutil.copy(os.path.join(self.src, "acq_deliveries", d, f"{d}.json"),
                    self._p("acq_in", f"{d}.json"))
        err, progress = None, []
        t0 = time.perf_counter()
        try:
            with tr.span("op"):
                progress = self.acq_delivery(op)
        except Exception as exc:
            err = f"{type(exc).__name__}: {str(exc)[:200]}"
        wall = time.perf_counter() - t0
        n = sum(p.get("numInputRows", 0) for p in progress)
        b.record(op, pass_no, wall, [err] if err else [], tr.enabled,
                 stream_rows=n, batches=len(progress),
                 batch_s=sum(p.get("durationMs", {}).get("addBatch", 0)
                             for p in progress) / 1000.0,
                 **b.hygiene(op))

    def read_store(self, name: str):
        from cosmo_spark.sources.versioned import read_current

        return read_current(self.b.spark, self._p("store", name))

    def run_pass(self, pass_no: int) -> float:
        from cosmo_spark.monitors import MONITORS, run_monitors
        from cosmo_spark.sources.files import write_results_csv

        b, tr, probe = self.b, self.b.tracer, self.b.probe
        self.reset()
        t_pass = time.perf_counter()
        for d in self.deliveries:
            ddir = os.path.join(self.src, "sms_deliveries", d)
            if os.path.isdir(ddir):
                self.sms_op(d, ddir, pass_no)
            if os.path.isdir(os.path.join(self.src, "acq_deliveries", d)):
                self.acq_op(d, pass_no)

        # analyze: the monitors over the stores and the static tables
        spark = b.spark
        inputs = {t: spark.read.parquet(os.path.join(self.src, "tables", f"{t}.parquet"))
                  for t in MONITOR_TABLES}
        inputs["acq"] = self.read_store("acq")
        build_s: dict[str, float] = {}

        def timed(name, fn):
            # the monitor callable opens its op: its build is part of it
            def wrapper(**kw):
                tr.op = f"mon:{name}#{pass_no}"
                t0 = time.perf_counter()
                try:
                    with tr.span("op"), tr.span("monitors.run"), \
                            probe.group(f"{tr.op}:build"):
                        return fn(**kw)
                finally:
                    build_s[name] = time.perf_counter() - t0
            wrapper.__dict__.update(fn.__dict__)
            return wrapper

        saved = dict(MONITORS)
        out_dir = self._p("out")
        frames_out = []
        try:
            MONITORS.update({k: (cad, timed(k, fn)) for k, (cad, fn) in saved.items()})
            for cadence in ("monthly", "daily"):
                for k, frames in run_monitors(cadence, inputs).items():
                    op = f"mon:{k}#{pass_no}"
                    tr.op = op
                    problems = []
                    t0 = time.perf_counter()
                    try:
                        with tr.span("op"):
                            for fname, df in frames.items():
                                # as the runner: the full exploded 'data' frame
                                # stays in the lake (collected here), every
                                # other frame goes to its CSV sink
                                dest = os.path.join(out_dir, f"{k}_{fname}")
                                n_rows = None
                                if fname == "data":
                                    with tr.span("exec.collect"), probe.group(f"{op}:collect"):
                                        n_rows = len(df.collect())
                                else:
                                    with tr.span("sinks.write"), probe.group(f"{op}:write"):
                                        write_results_csv(df, dest)
                                frames_out.append((op, k, fname, df.schema.simpleString(),
                                                   n_rows, dest))
                    except Exception as exc:
                        problems.append(f"{type(exc).__name__}: {str(exc)[:200]}")
                    wall = time.perf_counter() - t0 + build_s[k]
                    b.record(op, pass_no, wall, problems, tr.enabled,
                             monitor=k, **b.hygiene(op))
        finally:
            MONITORS.clear()
            MONITORS.update(saved)
        pass_wall = time.perf_counter() - t_pass
        tr.op = None
        self.check_frames(frames_out)
        b.extra[pass_no] = {
            "sink_bytes": _dir_bytes(out_dir),
            "store_bytes": _dir_bytes(self._p("store")),
            "versions": len([v for v in os.listdir(self._p("store", "acq"))
                             if v.startswith("v=")]),
        }
        self.check_stores(pass_no)
        return pass_wall

    def check_frames(self, frames_out: list[tuple]) -> None:
        """Pinned schema per frame; the generator-implied row count for the
        'data' frames (written frames are counted from their CSV)."""
        recs = {r["op"]: r for r in self.b.ops}
        for op, k, fname, schema, n_rows, dest in frames_out:
            if n_rows is None:
                n_rows = checks.csv_rows(dest)
            exp = self.expected_rows.get(k) if fname == "data" else None
            problems = checks.check_frame(f"{k}.{fname}", schema, n_rows,
                                          self.schemas, exp)
            self.frames[f"{k}.{fname}"] = (schema, n_rows)
            if problems and op in recs:
                recs[op]["ok"] = False
                recs[op]["problems"] += problems

    def check_stores(self, pass_no: int) -> None:
        """The stores after the pass against DuckDB's newest-per-key; a
        mismatch fails the pass's last ingest op."""
        for name, exp in (("acq", self.expected_acq), ("sms_exposures", self.expected_sms)):
            df = self.read_store(name)
            cols = [c for c in df.columns if c in exp[0]]
            rows = [tuple(r) for r in df.select(*cols).collect()]
            problems = checks.compare_store(cols, rows, exp)
            if problems:
                last = [r for r in self.b.ops if r["pass"] == pass_no
                        and r["op"].startswith(("acq:", "sms:"))][-1]
                last["ok"] = False
                last["problems"] += problems
