"""Seeded input generators for the benchmark.

Everything the program reads is made here from ``--seed``: the catalog's
TPC-H-ish star schema plus the ``events`` / ``documents`` / ``embeddings``
tables, and the cosmo pipeline's SMS reports, JSON exposure deliveries and
monitor input tables (FIXTURES.md shapes).  The same seed gives
byte-identical files; ``python3 perfbench/gen.py --check`` proves it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# catalog scale 1.0: half the row counts of the repo's sf0.01 test tables
# (documents and embeddings as in sf0.01); the heavy warm-up uses 0.1
CATALOG_ROWS = {
    "customer": 750, "supplier": 50, "part": 1000, "orders": 7500,
    "lineitem": 30000, "events": 5000, "documents": 500, "embeddings": 500,
    "users": 75,
}

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_ADJ = ["small", "red", "blue", "hot", "cold", "old", "new", "big"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "anvil", "rod", "plate"]
_PTYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "fr", "de", "es", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small big stream filter group "
    "order query customer vector"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000   # 1995-01-01 in µs
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01 in µs


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path, compression="snappy")


def _round2(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def make_catalog(out: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write the ten catalog tables under ``out``; returns table -> rows."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1, int(scale * 1000)])
    n = {k: max(10, int(v * scale)) for k, v in CATALOG_ROWS.items()}
    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": _REGIONS,
    })
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    c = np.arange(n["customer"])
    _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(c, pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in c],
        "c_nationkey": pa.array(rng.integers(0, 25, c.size), pa.int32()),
        "c_acctbal": _round2(rng.uniform(-999.99, 9999.99, c.size)),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, c.size)],
    })
    s = np.arange(n["supplier"])
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(s, pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in s],
        "s_nationkey": pa.array(rng.integers(0, 25, s.size), pa.int32()),
        "s_acctbal": _round2(rng.uniform(-999.99, 9999.99, s.size)),
    })
    p = np.arange(n["part"])
    _write(f"{out}/part.parquet", {
        "p_partkey": pa.array(p, pa.int64()),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, p.size), rng.integers(0, 8, p.size))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p.size)],
        "p_type": [_PTYPES[i] for i in rng.integers(0, 6, p.size)],
        "p_size": pa.array(rng.integers(1, 51, p.size), pa.int32()),
        "p_retailprice": np.round(900.0 + (p % 1000) / 10.0, 1),
    })
    o = np.arange(n["orders"])
    _write(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(o, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], o.size), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, o.size)],
        "o_totalprice": _round2(rng.uniform(1000.0, 500000.0, o.size)),
        "o_orderdate": _ts(_EPOCH_1995
                           + rng.integers(0, 2404, o.size) * _DAY_US),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, o.size)],
    })
    m = n["lineitem"]
    qty = rng.integers(1, 51, m).astype("float64")
    partkey = rng.integers(0, n["part"], m)
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _round2(qty * (900.0 + (partkey % 1000) / 10.0)
                                   * rng.uniform(0.9, 1.1, m)),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, m)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, m)],
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, m) * _DAY_US),
    })
    e = np.arange(n["events"])
    _write(f"{out}/events.parquet", {
        "event_id": pa.array(e, pa.int64()),
        "ts": _ts(_EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, e.size))),
        "user_id": pa.array(rng.integers(0, n["users"], e.size), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, e.size)],
        "value": _round2(rng.uniform(0.01, 490.0, e.size)),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, e.size)],
    })
    d = np.arange(n["documents"])
    texts = [" ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS),
                                                       rng.integers(8, 80)))
             for _ in d]
    _write(f"{out}/documents.parquet", {
        "doc_id": pa.array(d, pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.choice(5, d.size, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in d],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    v = np.arange(n["embeddings"])
    labels = rng.integers(0, 10, v.size)
    centers = rng.normal(0.0, 0.12, (10, 64))
    emb = (centers[labels] + rng.normal(0.0, 0.05, (v.size, 64))).astype("float32")
    _write(f"{out}/embeddings.parquet", {
        "vec_id": pa.array(v, pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {"region": 5, "nation": 25, **n}


# --------------------------------------------------------------------------
# cosmo pipeline inputs

_EXPTYPES = ["ACQ/IMAGE", "ACQ/PEAKD", "ACQ/PEAKXD", "ACQ/SEARCH"]
_APERTURES = ["PSA", "BOA", "FCA", "WCA"]
_LPS = [1, 2, 3, 4, 5, 6, 7, 8, 10, 11, 12]

#: pipeline shape: historical rows/files built in set-up, then deliveries
PIPELINE = {
    "acq_history": 3000, "acq_deliveries": 3, "acq_per_delivery": 400,
    "sms_deliveries": 2,
    "supersede_share": 0.10, "redeliver_share": 0.05,
    "sms_history_files": 12, "sms_new_per_delivery": 2,
    "sms_lines": 40,
}


def _acq_row(rng, root: str, version: int) -> dict:
    exptype = _EXPTYPES[rng.integers(0, 4)]
    fgs = ("F1", "F2", "F3")[rng.integers(0, 3)]
    return {
        "ROOTNAME": root,
        "FILENAME": f"/data/{root}_rawacq.fits",
        "EXPTYPE": exptype,
        "ACQSLEWX": round(float(rng.normal(0.0, 1.0)), 4),
        "ACQSLEWY": round(float(rng.normal(0.0, 1.0)), 4),
        "EXPSTART": round(float(rng.uniform(55000.0, 59500.0)), 6),
        "PROPOSID": int(rng.integers(10000, 99999)),
        "OBSTYPE": "IMAGING" if exptype == "ACQ/IMAGE" else "SPECTROSCOPIC",
        "NEVENTS": float(rng.integers(500, 6000)),
        "SHUTTER": "Open" if rng.random() < 0.95 else "Closed",
        "LAMPEVNT": float(rng.integers(0, 2000)),
        "ACQSTAT": "Success" if rng.random() < 0.93 else "Failure",
        "EXTENDED": "NO" if rng.random() < 0.9 else "YES",
        "LINENUM": f"{rng.integers(1, 9)}.00{rng.integers(1, 4)}",
        "APERTURE": _APERTURES[rng.integers(0, 4)],
        "OPT_ELEM": ("MIRRORA", "MIRRORB", "G130M", "G160M")[rng.integers(0, 4)],
        "LIFE_ADJ": int(_LPS[rng.integers(0, len(_LPS))]),
        "CENWAVE": int((1291, 1309, 1577, 0)[rng.integers(0, 4)]),
        "DETECTOR": "FUV" if rng.random() < 0.7 else "NUV",
        "DGESTAR": f"S{rng.integers(1000, 9999)}{fgs}",
        "FGS": fgs,
        "VERSION": version,
    }


def _write_jsonl(path: str, rows: list[dict]) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _sms_doy(rng) -> str:
    return (f"{rng.integers(2015, 2024)}.{rng.integers(1, 366):03d}:"
            f"{rng.integers(0, 24):02d}:{rng.integers(0, 60):02d}:"
            f"{rng.integers(0, 60):02d}")


def _sms_report(rng, smsid: str, fileid: str, n: int) -> tuple[str, list[tuple]]:
    """One fixed-format SMS report; returns (text, parsed exposure rows).
    Two MEMORY / ALIGN/OSM lines per report exercise the exclusion filter."""
    lines = [f"# SMS {smsid} report {fileid}", "# EXPOSURE ROOTNAME ..."]
    rows = []
    for i in range(n):
        det = "FUV" if rng.random() < 0.7 else "NUV"
        row = (
            f"{smsid}{i:03d}", f"l{smsid[2:]}{i:02x}"[:8],
            int(rng.integers(10000, 99999)), det,
            ("TIME-TAG", "ACCUM")[rng.integers(0, 2)],
            round(float(rng.uniform(1.0, 3000.0)), 1), _sms_doy(rng),
            ("HVON", "HVLOW")[rng.integers(0, 2)] if det == "FUV" else "N/A",
            _APERTURES[rng.integers(0, 4)],
            ("G130M", "G160M", "G185M")[rng.integers(0, 3)],
            ("1291", "1309", "1577")[rng.integers(0, 3)],
            int((1291, 1309, 1577)[rng.integers(0, 3)]),
            int(rng.integers(-2, 2)),
            round(float(rng.uniform(0.0, 90000.0)), 1),
            round(float(rng.uniform(0.0, 90000.0)), 1),
        )
        lines.append(" ".join(str(v) for v in row))
        rows.append(row[:12] + (fileid, row[12] + 3) + row[13:])
        if i in (3, n // 2):
            lines.append(f"{smsid}9{i:02d} lmemory00 0 FUV MEMORY 0.0 "
                         f"{_sms_doy(rng)} N/A N/A N/A N/A 0 0 0.0 0.0")
    return "\n".join(lines) + "\n", rows


def _table(path: str, rows: list[dict]) -> None:
    _write(path, {k: [r[k] for r in rows] for k in rows[0]})


def make_pipeline(out: str, seed: int) -> dict:
    """Write the pipeline inputs under ``out`` and return what the checks
    need: every generated acq row, every SMS exposure row (with its FILEID)
    and the monitor tables' expected 'data' row counts."""
    rng = np.random.default_rng([seed, 2])
    cfg = PIPELINE
    for d in ("sms_history", "acq_history", "tables"):
        os.makedirs(f"{out}/{d}", exist_ok=True)

    # acq exposures: history, then deliveries of new keys, superseding
    # versions of stored keys, and identical re-deliveries
    current: dict[str, dict] = {}
    history = [_acq_row(rng, f"la{i:06d}q", 1) for i in range(cfg["acq_history"])]
    current.update((r["ROOTNAME"], r) for r in history)
    _write_jsonl(f"{out}/acq_history/h0.json", history)
    acq_deliveries = []
    next_key = cfg["acq_history"]
    for k in range(cfg["acq_deliveries"]):
        n = cfg["acq_per_delivery"]
        n_sup = int(n * cfg["supersede_share"])
        n_re = int(n * cfg["redeliver_share"])
        keys = sorted(current)
        picks = rng.choice(len(keys), n_sup + n_re, replace=False)
        rows = []
        for j in picks[:n_sup]:
            old = current[keys[j]]
            rows.append(_acq_row(rng, old["ROOTNAME"], old["VERSION"] + 1))
        rows += [dict(current[keys[j]]) for j in picks[n_sup:]]
        for _ in range(n - n_sup - n_re):
            rows.append(_acq_row(rng, f"la{next_key:06d}q", 1))
            next_key += 1
        rows = [rows[i] for i in rng.permutation(len(rows))]
        current.update((r["ROOTNAME"], r) for r in rows)
        os.makedirs(f"{out}/acq_deliveries/d{k}", exist_ok=True)
        _write_jsonl(f"{out}/acq_deliveries/d{k}/d{k}.json", rows)
        acq_deliveries.append(rows)

    # SMS reports: history files, then per delivery new SMSIDs plus one
    # newer version of a stored SMSID (version letters sort later)
    sms_rows: list[tuple] = []
    versions: dict[str, str] = {}

    def report(dirname: str, smsid: str, version: str) -> None:
        fileid = smsid + version
        text, rows = _sms_report(rng, smsid, fileid, cfg["sms_lines"])
        with open(f"{dirname}/{fileid}.txt", "w") as f:
            f.write(text)
        sms_rows.extend(rows)
        versions[smsid] = version

    for i in range(cfg["sms_history_files"]):
        report(f"{out}/sms_history", f"{180100 + i}", "a1")
    next_sms = 180100 + cfg["sms_history_files"]
    for k in range(cfg["sms_deliveries"]):
        d = f"{out}/sms_deliveries/d{k}"
        os.makedirs(d, exist_ok=True)
        for _ in range(cfg["sms_new_per_delivery"]):
            report(d, f"{next_sms}", "a1")
            next_sms += 1
        old = sorted(versions)[int(rng.integers(0, len(versions)))]
        report(d, old, chr(ord(versions[old][0]) + 1) + "1")

    expected = _monitor_tables(rng, f"{out}/tables")
    return {"acq": list(current.values()), "acq_all": history + sum(acq_deliveries, []),
            "sms_rows": sms_rows,
            "monitor_data_rows": expected}


def _monitor_tables(rng, out: str) -> dict[str, int]:
    """osm / dark / telemetry / jitter / science / ancillary tables; returns
    the 'data' frame row count each monitor should produce from them."""
    expected: dict[str, int] = {}
    osm = []
    for i in range(300):
        det = "FUV" if i % 3 else "NUV"
        segs = ["FUVA", "FUVB"] if det == "FUV" else ["NUVA", "NUVB", "NUVC"]
        flashes = int(rng.integers(0, 4))  # 0 flashes: an empty-array row
        seg = segs * flashes
        t = [float(round(4.32 + 2400.0 * (j // len(segs)), 2)) for j in range(len(seg))]
        osm.append({
            "ROOTNAME": f"lo{i:06d}q", "DETECTOR": det,
            "LIFE_ADJ": int(_LPS[rng.integers(0, len(_LPS))]),
            "OPT_ELEM": "G130M" if det == "FUV" else "G185M",
            "CENWAVE": 1291 if det == "FUV" else 1786,
            "FPPOS": int(rng.integers(1, 5)), "PROPOSID": int(rng.integers(10000, 99999)),
            "OBSET_ID": f"o{i % 40:02d}",
            "EXPSTART": round(float(rng.uniform(55000.0, 59500.0)), 6),
            "TIME": t,
            "SHIFT_DISP": [round(float(x), 3) for x in rng.normal(0, 8, len(seg))],
            "SHIFT_XDISP": [round(float(x), 3) for x in rng.normal(0, 3, len(seg))],
            "SEGMENT": seg, "LAMPTAB_SEGMENT": segs,
            "FP_PIXEL_SHIFT": [round(float(x), 2) for x in rng.uniform(-5, 5, len(segs))],
            "XC_RANGE": [50.0], "SEARCH_OFFSET": [0.0],
            "TSINCEOSM1": round(float(rng.uniform(0, 90000)), 1),
            "TSINCEOSM2": round(float(rng.uniform(0, 90000)), 1),
        })
    _table(f"{out}/osm.parquet", osm)
    for det in ("FUV", "NUV"):
        rows = [r for r in osm if r["DETECTOR"] == det]
        n_shift = sum(len(r["SHIFT_DISP"]) for r in rows)
        for name in ("osm_shift1", "osm_shift2"):
            expected[f"{det.lower()}_{name}"] = n_shift
        expected[f"{det.lower()}_osm_drift"] = sum(
            len(r["SHIFT_DISP"]) - 1 for r in rows if len(r["SHIFT_DISP"]) > 1)

    dark = []
    for i in range(40):
        seg = ("FUVA", "FUVB", "N/A")[i % 3]
        n = 1500
        dark.append({
            "ROOTNAME": f"ld{i:06d}q", "SEGMENT": seg,
            "EXPTIME": 1000.0, "EXPSTART": 0.0 if i == 7 else 58000.0 + i,
            "PHA": [int(x) for x in rng.integers(0, 31, n)],
            "XCORR": [round(float(x), 1) for x in rng.uniform(0, 16000, n)],
            "YCORR": [round(float(x), 1) for x in rng.uniform(0, 1024, n)],
            "TIME": sorted(round(float(x), 2) for x in rng.uniform(0, 1000, n)),
            "TIME_3": [float(x) for x in range(0, 1000, 50)],
            "LATITUDE": [round(float(x), 2) for x in rng.uniform(-30, 30, 20)],
            "LONGITUDE": [round(float(x), 2) for x in rng.uniform(0, 360, 20)],
        })
    _table(f"{out}/dark.parquet", dark)

    tele = []
    for m in ("LMMCETMP", "LDCHVMON", "LOSM1POS"):
        mjd = np.sort(rng.uniform(57000.0, 59500.0, 2000))
        tele += [{"mnemonic": m, "MJD": round(float(x), 6),
                  "Data": round(float(v), 3)} for x, v in zip(mjd, rng.normal(20, 2, mjd.size))]
    _table(f"{out}/telemetry.parquet", tele)
    hi = {}
    for r in tele:
        hi[r["mnemonic"]] = max(hi.get(r["mnemonic"], 0.0), r["MJD"])
    expected["telemetry"] = sum(1 for r in tele if r["MJD"] >= hi[r["mnemonic"]] - 365.25)

    jitter = []
    for i in range(300):
        n = int(rng.integers(10, 60))
        arr = lambda s: [round(float(x), 4) for x in rng.normal(0, s, n)]
        jitter.append({
            "FILENAME": f"/data/lj{i:06d}_jit.fits", "PROPOSID": int(rng.integers(10000, 99999)),
            "CONFIG": ("COS/FUV", "COS/NUV")[i % 2], "EXPNAME": f"lj{i:06d}",
            "EXPSTART": round(float(rng.uniform(55000.0, 59500.0)), 6),
            "EXPTYPE": ("EXTERNAL/SCI", "ACQ/IMAGE", "DARK", "STARE")[rng.integers(0, 4)],
            "Seconds": [float(j * 3) for j in range(n)],
            "SI_V2_AVG": arr(0.03), "SI_V3_AVG": arr(0.03),
            "SI_V2_RMS": arr(0.01), "SI_V3_RMS": arr(0.01),
        })
    _table(f"{out}/jitter.parquet", jitter)
    expected["jitter"] = sum(1 for r in jitter if r["EXPTYPE"] not in ("ACQ/IMAGE", "DARK"))

    science, ancillary = [], []
    for i in range(600):
        root = f"ls{i:06d}q"
        lp = int((0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12)[rng.integers(0, 13)])
        science.append({"ROOTNAME": root, "LIFE_ADJ": lp,
                        "APERTURE": _APERTURES[rng.integers(0, 4)],
                        "DETECTOR": ("FUV", "NUV")[rng.integers(0, 2)]})
        ancillary.append({"ROOTNAME": root, "PROP_TYP": ("CAL", "GO")[i % 2],
                          "APERXPOS": 0.0,
                          "APERYPOS": round(float(rng.normal(100, 80)), 2)})
    _table(f"{out}/science.parquet", science)
    _table(f"{out}/ancillary.parquet", ancillary)
    n_aper = {d: sum(1 for r in science if r["DETECTOR"] == d and r["LIFE_ADJ"] in _LPS)
              for d in ("FUV", "NUV")}
    expected["fuv_aperture_shift"] = n_aper["FUV"]
    expected["nuv_aperture_shift"] = n_aper["NUV"]
    return expected


def acq_expected_rows(acq: list[dict]) -> dict[str, int]:
    """'data' row counts of the acq monitors over the newest-per-key store."""
    def n(pred):
        return sum(1 for r in acq if pred(r))

    image = lambda r: r["EXPTYPE"] == "ACQ/IMAGE"
    return {
        "acq_image": n(image),
        "acq_peakd": n(lambda r: r["EXPTYPE"] == "ACQ/PEAKD"),
        "acq_peakxd": n(lambda r: r["EXPTYPE"] == "ACQ/PEAKXD"),
        "acq_image_v2v3": n(lambda r: image(r) and r["OBSTYPE"] == "IMAGING"
                            and r["NEVENTS"] >= 2000
                            and (r["ACQSLEWX"] ** 2 + r["ACQSLEWY"] ** 2) ** 0.5 < 2
                            and r["SHUTTER"] == "Open" and r["LAMPEVNT"] >= 500
                            and r["ACQSTAT"] == "Success" and r["EXTENDED"] == "NO"
                            and r["LINENUM"].endswith("1")),
    }


def make_inputs(out: str, seed: int) -> dict:
    """Generate every input under ``out`` (wiped first)."""
    shutil.rmtree(out, ignore_errors=True)
    rows = make_catalog(f"{out}/catalog", seed)
    make_catalog(f"{out}/catalog_warm", seed, scale=0.1)
    pipe = make_pipeline(f"{out}/pipeline", seed)
    return {"catalog_rows": rows, "pipeline": pipe}


def tree_digest(root: str) -> str:
    """sha256 over every file's relative path and bytes under ``root``."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def check_deterministic(work: str, seed: int) -> bool:
    """Generate twice from one seed; True when the trees are byte-identical."""
    a, b = f"{work}/det_a", f"{work}/det_b"
    make_inputs(a, seed)
    make_inputs(b, seed)
    same = tree_digest(a) == tree_digest(b)
    shutil.rmtree(a, ignore_errors=True)
    shutil.rmtree(b, ignore_errors=True)
    return same


if __name__ == "__main__":
    # python3 perfbench/gen.py --check [seed]: same seed -> same bytes
    if sys.argv[1:2] != ["--check"]:
        sys.exit("usage: python3 perfbench/gen.py --check [seed]")
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    ok = check_deterministic(".perfbench/gen_check", seed)
    print(json.dumps({"seed": seed, "byte_identical": ok}))
    sys.exit(0 if ok else 1)
