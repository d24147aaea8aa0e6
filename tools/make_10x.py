"""Build the 10x scaling dataset used by docs/SCALE.md's measured table.

Replicates sf0.1 ten times with shifted keys (DuckDB, no Spark needed):
fact-side tables get 10 copies with disjoint key ranges (foreign keys
shifted consistently so join cardinalities scale honestly), dimension
tables stay single-copy.  Text/vector payloads are copied VERBATIM, so
near-dup detectors see every document as part of a 10-duplicate group —
the SCALE.md notes call out which ratios are workload-induced by that
density rather than corpus size.

Usage: python tools/make_10x.py [src_dir] [out_dir]   (defaults:
/root/testdata/sf0.1 -> /tmp/sf10x)
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb

from cosmo_spark.sources.tables import TABLES

#: table -> {column: per-copy shift}; absent tables copy once, unshifted
SHIFTS: dict[str, dict[str, int]] = {
    "customer": {"c_custkey": 10_000_000},
    "orders": {"o_orderkey": 100_000_000, "o_custkey": 10_000_000},
    "lineitem": {"l_orderkey": 100_000_000},
    "events": {"event_id": 10_000_000, "user_id": 1_000_000},
    "documents": {"doc_id": 10_000_000},
    "embeddings": {"vec_id": 10_000_000},
}


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    distinct = "--distinct-dups" in sys.argv
    src = args[0] if len(args) > 0 else "/root/testdata/sf0.1"
    out = args[1] if len(args) > 1 else (
        "/tmp/sf10xd" if distinct else "/tmp/sf10x"
    )
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        sp = os.path.join(src, f"{t}.parquet")
        op = os.path.join(out, f"{t}.parquet")
        shifts = SHIFTS.get(t)
        if not shifts:
            con.execute(f"COPY (SELECT * FROM '{sp}') TO '{op}' (FORMAT PARQUET)")
            print(f"{t}: copied 1x")
            continue
        cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM '{sp}'").fetchall()]
        selects = []
        for i in range(10):
            exprs = []
            for c in cols:
                if c in shifts:
                    exprs.append(f"{c} + {i * shifts[c]} AS {c}")
                elif distinct and i > 0 and t == "documents" and c == "text":
                    # --distinct-dups: prefix every WORD with a per-copy
                    # marker — a bijective vocabulary rename, so same-copy
                    # near-dup pairs keep their exact shingle Jaccard and
                    # ~their prefix edit distance, while cross-copy rows
                    # share no vocabulary at all (Jaccard 0, edit distance
                    # >> maxd).  Yields a 10x corpus at the ORIGINAL
                    # duplicate density, isolating pipeline scaling from
                    # true-pair volume in the q39/q120/q125 family
                    # (docs/SCALE.md count twins)
                    exprs.append(
                        f"regexp_replace({c}, '([A-Za-z0-9_]+)', "
                        f"'k{i}\\1', 'g') AS {c}"
                    )
                elif distinct and i > 0 and t == "embeddings" and c == "embedding":
                    # rotate the vector by i positions: norm-preserving,
                    # near-zero cosine to the original on these synthetic
                    # near-uniform vectors — replicas leave each other's
                    # 0.90-cosine near-dup balls
                    exprs.append(
                        f"list_concat({c}[{i + 1}:], {c}[1:{i}]) AS {c}"
                    )
                else:
                    exprs.append(c)
            selects.append(f"SELECT {', '.join(exprs)} FROM '{sp}'")
        con.execute(
            f"COPY ({' UNION ALL '.join(selects)}) TO '{op}' (FORMAT PARQUET)"
        )
        n = con.execute(f"SELECT count(*) FROM '{op}'").fetchone()[0]
        print(f"{t}: 10x -> {n} rows")


if __name__ == "__main__":
    main()
