"""Benchmark harness: runs the full query catalog and prints ONE JSON line.

The driver tail-captures stdout (last ~2000 chars) and parses the final JSON
line, so the printed summary must stay COMPACT: per-query keys are the short
``qNN`` prefixes (full names all start with ``qNN_``, so the mapping is
lossless) and only the per-query MINIMUMS ride in the line.  The full detail
— full query names, per-pass samples, medians, pass walls — is written to
``BENCH_LOCAL.json`` next to this file (round-4's BENCH_r04.json came back
``parsed: null`` because the 89-query mins+medians line outgrew the capture).

    {"metric": "catalog_wall_sec", "value": <best full-pass wall seconds>,
     "unit": "sec", "queries": {"q01": min_sec, ...},
     "sum_of_mins": <sec>, "sf": 0.1}

The whole line (1962 chars at 165 queries) + newline must stay inside the
driver's 2000-char stdout tail capture (both BENCH_r12.json and
BENCH_r13.json carry exactly 2000 tail chars; r12's line overran it and
that round's baseline was lost — r13 verdict #1a).  Per-query values ride
at 2 decimals below 10 s / 1 decimal below 100 s / integer past that;
repeats and the per-artifact setup breakdown live in BENCH_LOCAL.json.

Each query runs ``SPARK_GRAFT_REPEATS`` (default 3) full catalog passes;
``value`` is the FASTEST complete pass (comparable with earlier single-pass
rounds) and the ``queries`` map carries minimums across passes (robust to the
documented up-to-2x shared-host variance).  Between queries the harness
clears the SQL cache: several queries persist intermediates internally, and
round-4's end-of-catalog measurements (q88 bench 7.4 s vs 4.2 s isolated)
implicated accumulated cached partitions from the 87 prior queries.

Each sample is also split at the ``spark_fn`` return: ``build_samples`` in
BENCH_LOCAL.json carries the driver-side plan-construction seconds (py4j
plus any job a query launches eagerly while building), the rest of the
sample being the collect.

Env:
    SPARK_GRAFT_SF_DIR      input dir (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS        local cores (default 32)
    SPARK_GRAFT_REPEATS     catalog passes (default 3, min 1)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from cosmo_spark.queries import timeseries as _ts
from cosmo_spark.queries.trainprep import _ensure_pq_index, _pq_index_dir
from cosmo_spark.sources import multimodal as _mm
from cosmo_spark.sources.media_fps import ensure_media_fps, media_fp_store_dir


def _pq(residual: bool) -> tuple:
    return (lambda spark, sf_dir: str(_pq_index_dir(sf_dir, residual)),
            lambda spark, sf_dir: _ensure_pq_index(spark, sf_dir, residual))


def _media(codec: str, encode_fn) -> tuple:
    return (lambda spark, sf_dir: media_fp_store_dir(spark, sf_dir, codec),
            lambda spark, sf_dir: ensure_media_fps(
                spark, sf_dir, codec, encode_fn, "vec_id"))


def _log(dir_fn, build_fn) -> tuple:
    return (lambda spark, sf_dir: dir_fn(sf_dir), build_fn)


#: The at-rest setup artifacts, in build order: (tag, dir_fn, build_fn),
#: both callables taking (spark, sf_dir).  Each is rebuilt from scratch per
#: bench run and its build charged to setup_sec, so the query passes
#: measure the steady-state read.  Run resolve_vector_artifacts first: on a
#: non-literal corpus the pq_index dir name folds the TRAINED artifact hash
#: (review r8).
SETUP_ARTIFACTS: tuple[tuple, ...] = (
    # production IVF-PQ builds its index ONCE and queries it forever
    # (round-5 verdict #3), so q88/q90 repeats never pay the encode
    ("pq_index_raw", *_pq(False)),
    ("pq_index_res", *_pq(True)),
    # media fingerprint stores (round-9 #4): fingerprinted once at ingest;
    # q140–q142/q145 measure the store-backed path
    ("media_fps_ppm", *_media("ppm", _mm.encode_pgm_gray8x8)),
    ("media_fps_wav", *_media("wav", _mm.encode_wav_pcm8)),
    ("media_fps_y4m", *_media("y4m", _mm.encode_y4m_gray8x8)),
    # windowed register logs (round-9 #5), built once by the streaming
    # maintainers; q146 and kin measure the horizon READ
    ("hdr_window_log", *_log(_ts._hdr_window_log_dir, _ts.ensure_hdr_window_log)),
    ("hll_window_log", *_log(_ts._hll_window_log_dir, _ts.ensure_hll_window_log)),
    ("cms_window_log", *_log(_ts._cms_window_log_dir, _ts.ensure_cms_window_log)),
    ("kmv_window_log", *_log(_ts._kmv_window_log_dir, _ts.ensure_kmv_window_log)),
    # quarantined HLL log (q161): ingest + early-eviction decree +
    # quarantined stragglers are setup
    ("hll_quarantine_log",
     *_log(_ts._hllq_window_log_dir, _ts.ensure_hll_quarantine_log)),
    # rebuilt-to-new-log recovery (q163): derives from the quarantine log,
    # so it must come after that entry
    ("hll_rebuilt_log",
     *_log(_ts._hllq_rebuilt_log_dir, _ts.ensure_hll_rebuilt_log)),
    # versioned purge table (q151): publish + purge
    ("purge_demo", *_log(_ts._purge_demo_dir, _ts.ensure_purged_events)),
    # partitioned store lifecycle (q157): merge + update + purge
    ("purge_parts",
     *_log(_ts._purge_parts_dir, _ts.ensure_partitioned_purge_demo)),
)


def _tree_sig(d: str) -> tuple:
    """(path, mtime, size) of every file under ``d``: any rewrite of an
    artifact changes it."""
    sig = []
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(root, f)
            sig.append((p, os.path.getmtime(p), os.path.getsize(p)))
    return tuple(sig)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_REPEATS", "3")))
    # sf from the dir basename, tolerating a protocol tag suffix
    # ("/tmp/sf1d", the distinct-dups 10x twin) — float("1d") would throw
    import re as _re

    _m = _re.match(r"sf([0-9.]+)", os.path.basename(sf_dir.rstrip("/")))
    sf = float(_m.group(1)) if _m else 0.1

    from cosmo_spark.session import get_spark
    from cosmo_spark.queries import all_queries

    spark = get_spark(
        app_name="cosmo-spark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    qs = all_queries()

    # warmup (untimed): JIT the session, register codegen paths, prime the
    # filesystem metadata cache — so per-query numbers reflect steady-state
    # execution rather than one-time JVM start-up costs
    from cosmo_spark.sources.tables import TABLES, load_table

    for t in TABLES:
        load_table(spark, sf_dir, t).limit(1).collect()
    qs["q01_pricing_summary"].spark_fn(spark, sf_dir).collect()

    # setup (timed separately, reported as setup_sec — round-5 verdict #3):
    # every artifact's dir is deleted first so setup_sec is the real build
    # cost, never a stale-dir read check
    import shutil

    from cosmo_spark.queries.artifacts import resolve_vector_artifacts

    resolve_vector_artifacts(spark, sf_dir)  # before any dir_fn: see SETUP_ARTIFACTS

    setup: dict[str, float] = {}
    setup_dirs: dict[str, str] = {}
    for tag, dir_fn, build in SETUP_ARTIFACTS:
        d = dir_fn(spark, sf_dir)
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.time()
        build(spark, sf_dir)
        setup[tag] = round(time.time() - t0, 3)
        setup_dirs[tag] = d
    spark.catalog.clearCache()
    # accounting guard (round-7 verdict #3): every at-rest artifact built in
    # setup must be strictly read-only during the query passes — a query
    # rebuilding one would smuggle setup cost into (or out of) per-query
    # minimums.  Snapshot each artifact tree now; verified after the passes.
    setup_sigs = {tag: _tree_sig(d) for tag, d in setup_dirs.items()}

    samples: dict[str, list[float]] = {name: [] for name in qs}
    build_samples: dict[str, list[float]] = {name: [] for name in qs}
    pass_walls: list[float] = []
    t_all = time.time()
    for _ in range(repeats):
        t_pass = time.time()
        for name, q in qs.items():
            t0 = time.time()
            df = q.spark_fn(spark, sf_dir)
            t_built = time.time()
            # force full execution + materialization like the driver's collect
            df.collect()
            samples[name].append(time.time() - t0)
            build_samples[name].append(t_built - t0)
            # hygiene between queries.  No catalog query leaves a cached
            # frame behind (tests/test_cache_lifetime.py keeps the
            # CacheManager empty after every query), so clearCache() is a
            # guard: a regression that pins a frame must not hand later
            # queries or passes cache-hit flattery from the same plan
            spark.catalog.clearCache()
            # checkpoint RDDs (every query that localCheckpoints a frame
            # leaves some) are freed only when a JVM GC happens to run the
            # ContextCleaner — unpersist them so every query's min is the
            # same cold regime (round-5 verdict #4).  _jsc is private API
            # (no public PySpark equivalent as of 4.x) — a PySpark bump
            # must degrade to a VISIBLE warning, never silently un-fix the
            # discipline
            try:
                for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                    jrdd.unpersist()
            except Exception as exc:  # pragma: no cover - upgrade guard
                print(
                    f"WARNING: could not unpersist checkpointed RDDs "
                    f"between queries ({exc!r}); timings may include "
                    f"cross-query storage pressure",
                    file=sys.stderr,
                )
        pass_walls.append(time.time() - t_pass)
    wall = round(time.time() - t_all, 3)

    for tag, d in setup_dirs.items():
        if _tree_sig(d) != setup_sigs[tag]:
            raise RuntimeError(
                f"bench accounting violation: setup artifact {tag} ({d}) "
                f"was modified during the query passes — its build cost is "
                f"no longer cleanly charged to setup_sec"
            )

    mins = {name: round(min(s), 3) for name, s in samples.items()}
    medians = {name: round(statistics.median(s), 3) for name, s in samples.items()}
    # tail-line values at ≤4 chars each (2 decimals below 10 s, 1 decimal
    # to 100 s, integer past that): the driver captures only the last
    # ~2000 chars of stdout, and the r12 line (164 queries + the setup map)
    # outran it — destroying that round's baseline (r13 verdict #1).  Full
    # 3-decimal precision stays in BENCH_LOCAL.json.
    def _short(v: float) -> float | int:
        if v >= 100:
            return int(round(v))
        return round(v, 1) if v >= 10 else round(v, 2)

    short_mins = {name.split("_", 1)[0]: _short(v) for name, v in mins.items()}

    detail = {
        "metric": "catalog_wall_sec",
        "value": round(min(pass_walls), 3),
        "unit": "sec",
        "queries": mins,
        "queries_median": medians,
        "samples": {k: [round(x, 3) for x in v] for k, v in samples.items()},
        "build_samples": {
            k: [round(x, 3) for x in v] for k, v in build_samples.items()
        },
        "pass_walls": [round(x, 3) for x in pass_walls],
        "sum_of_mins": round(sum(mins.values()), 3),
        "setup_sec": setup,
        "repeats": repeats,
        "wall_sec_total": wall,
        "sf": sf,
        "cpus": int(cpus),
    }
    (Path(__file__).resolve().parent / "BENCH_LOCAL.json").write_text(
        json.dumps(detail, indent=1) + "\n"
    )

    # the one machine-readable line: compact separators, short query keys.
    # ONLY the contract fields + sum_of_mins ride here (r13 verdict #1a):
    # the per-artifact setup breakdown (round-7 verdict #3) and repeats now
    # live solely in BENCH_LOCAL.json — at 165 queries the old line with the
    # setup map was 2289 chars, past the driver's 2000-char stdout tail
    # capture (measured: BENCH_r12.json/BENCH_r13.json both carry exactly
    # 2000 tail chars, and the r12 baseline was lost to the overrun); this
    # encoding is 1962 chars, so the WHOLE line + newline sits inside the
    # tail capture even for a parser that sees nothing but the tail.
    line = json.dumps({
        "metric": "catalog_wall_sec",
        "value": detail["value"],
        "unit": "sec",
        "queries": short_mins,
        "sum_of_mins": detail["sum_of_mins"],
        "sf": sf,
    }, separators=(",", ":"))
    if len(line) > 1985:  # future-catalog backstop: degrade precision, LOUDLY
        print(
            f"WARNING: bench tail line hit {len(line)} chars; re-encoding "
            "per-query values at 1 decimal to stay under the driver's "
            "stdout tail capture (full precision in BENCH_LOCAL.json)",
            file=sys.stderr,
        )
        line = json.dumps({
            "metric": "catalog_wall_sec",
            "value": detail["value"],
            "unit": "sec",
            "queries": {k: round(v, 1) for k, v in short_mins.items()},
            "sum_of_mins": detail["sum_of_mins"],
            "sf": sf,
        }, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
