"""Local replica of the driver's correctness gate.

Runs every catalog query on Spark and its DuckDB oracle over the same parquet
tables, then compares row count, column names, and (order-insensitively)
values.  Usage:

    python tools/parity.py [sf_dir] [query ...]

When run over the FULL catalog (no query filter), also writes
``PARITY_r{N}.json`` at the repo root in the driver's CORRECTNESS shape —
the driver artifact caps at 50 queries, so this is the machine-readable
certification of the back half (round-5 verdict #2).  N = latest
CORRECTNESS_r{N} + 1 (the round in progress); override with
``SPARK_GRAFT_PARITY_OUT=/path.json`` or disable with
``SPARK_GRAFT_PARITY_OUT=``.
"""

from __future__ import annotations

import math
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb

from cosmo_spark.session import get_spark
from cosmo_spark.sources.tables import TABLES


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'"
        )
    return con


def normalize(rows, cols):
    """Sort columns by name and rows by repr — order-insensitive compare."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in idx:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                elif v == 0.0:
                    v = 0.0  # -0.0 -> 0.0
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return [cols[i] for i in idx], out


def compare(name, sdf, con, sql, tol=0.0, counts=None):
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    if counts is not None:
        counts["spark"], counts["oracle"] = len(srows), len(drows)

    problems = []
    if sorted(scols) != sorted(dcols):
        problems.append(f"schema: spark={sorted(scols)} duck={sorted(dcols)}")
    if len(srows) != len(drows):
        problems.append(f"rows: spark={len(srows)} duck={len(drows)}")
    if not problems:
        _, sn = normalize(srows, scols)
        _, dn = normalize(drows, dcols)
        ndiff = 0
        first = None
        for a, b in zip(sn, dn):
            if a != b:
                # allow tiny float tolerance reporting
                close = all(
                    (x == y)
                    or (
                        isinstance(x, float)
                        and isinstance(y, (float, int))
                        and abs(x - float(y)) <= tol * max(1.0, abs(x))
                    )
                    for x, y in zip(a, b)
                )
                if not close:
                    ndiff += 1
                    if first is None:
                        first = (a, b)
        if ndiff:
            problems.append(f"values: {ndiff}/{len(sn)} rows differ; first {first}")
    return problems


def main():
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.001"
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]

    from cosmo_spark.queries import all_queries

    qs = all_queries()
    if args:
        qs = {k: v for k, v in qs.items() if k in args}

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    # the documented bounded single-partition windows would spray WindowExec
    # WARNs over every run; the real regression gate is
    # test_no_unbounded_global_windows_anywhere, so keep the log clean here
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_con(sf_dir)

    full_catalog = not args
    n_pass = n_fail = n_nooracle = 0
    report: dict[str, dict] = {}
    for name, q in qs.items():
        t0 = time.time()
        rec = {
            "rows_match": False, "schema_match": False, "hash_match": False,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        try:
            sdf = q.spark_fn(spark, sf_dir)
            if q.oracle is None:
                nrows = sdf.count()
                rec.update(spark_rows=nrows, err="no-oracle")
                report[name] = rec
                print(f"  ~  {name}: no oracle ({nrows} rows) [{time.time()-t0:.1f}s]")
                n_nooracle += 1
                continue
            counts: dict = {}
            problems = compare(name, sdf, con, q.oracle, counts=counts)
            rec["spark_rows"] = counts.get("spark")
            rec["oracle_rows"] = counts.get("oracle")
            rec["rows_match"] = not any(p.startswith("rows:") for p in problems)
            rec["schema_match"] = not any(p.startswith("schema:") for p in problems)
            rec["hash_match"] = not problems
            if problems:
                rec["err"] = "; ".join(problems)[:300]
        except Exception as e:
            problems = [f"EXCEPTION: {type(e).__name__}: {str(e)[:300]}"]
            rec["err"] = problems[0]
        report[name] = rec
        dt = time.time() - t0
        if problems:
            n_fail += 1
            print(f" FAIL {name} [{dt:.1f}s]")
            for p in problems:
                print(f"      {p}")
        else:
            n_pass += 1
            print(f"  ok  {name} [{dt:.1f}s]")
    print(f"\n{n_pass} ok, {n_fail} fail, {n_nooracle} no-oracle")

    if full_catalog:
        out = os.environ.get("SPARK_GRAFT_PARITY_OUT", _default_parity_out())
        if out:
            import json

            payload = dict(report)
            payload["_meta"] = {
                "sf_dir": sf_dir,
                "n_queries": len(report),
                "n_pass": n_pass,
                "n_fail": n_fail,
                "n_nooracle": n_nooracle,
                "generated_by": "tools/parity.py",
            }
            Path(out).write_text(json.dumps(payload, indent=1) + "\n")
            print(f"wrote {out}")
    sys.exit(1 if n_fail else 0)


def _default_parity_out() -> str:
    """PARITY_r{N}.json for the round in progress: latest CORRECTNESS_r{N}
    artifact + 1 (the driver writes CORRECTNESS at round END)."""
    root = Path(__file__).resolve().parent.parent
    rounds = [
        int(p.stem.split("_r")[1])
        for p in root.glob("CORRECTNESS_r*.json")
    ]
    n = (max(rounds) + 1) if rounds else 1
    return str(root / f"PARITY_r{n:02d}.json")


if __name__ == "__main__":
    main()
