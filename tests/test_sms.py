"""SMS ingestion tests mirroring the reference's merge-rule goldens
(ref: tests/test_sms_ingest.py: finder counts, version filter, idempotent
re-ingest, supersede)."""

from __future__ import annotations

import pytest

from cosmo_spark.operators.merge import merge_versioned
from cosmo_spark.sources.sms import (
    SmsParseError,
    find_new,
    parse_sms_reports,
    sms_catalog,
)

# heavyweight Spark suite: deselected by the default `addopts` fast set so
# the driver's verify completes inside its window (r13 verdict #7); run via
# `pytest -m slow` or the full suite via `pytest --override-ini addopts= tests/`
pytestmark = pytest.mark.slow

HEADER = "# SMS schedule report\n# generated for test\n"
LINE = (
    "{exp} {root} {prop} {det} {op} {exptime} {start} "
    "{hv} {aper} {osm1} {osm2} {cen} {fpo} {t1} {t2}\n"
)


def write_sms(tmp_path, name, rows):
    body = HEADER
    for r in rows:
        body += LINE.format(**r)
    (tmp_path / name).write_text(body)


def row(exp="DQ01K01", root="ld1ce4dk", prop=14440, det="FUV", op="TIME-TAG",
        exptime=1330.0, start="2018.016:00:00:11", hv="163/163", aper="PSA",
        osm1="G130M", osm2="N/A", cen=1291, fpo=-1, t1=125111.0, t2=25111.0):
    return dict(exp=exp, root=root, prop=prop, det=det, op=op, exptime=exptime,
                start=start, hv=hv, aper=aper, osm1=osm1, osm2=osm2, cen=cen,
                fpo=fpo, t1=t1, t2=t2)


def test_parse_typed_columns(spark, tmp_path):
    write_sms(tmp_path, "181137c2.txt", [row(), row(exp="DQ01K02", root="ld1ce4dm")])
    df = parse_sms_reports(spark, str(tmp_path))
    rows = df.orderBy("EXPOSURE").collect()
    assert len(rows) == 2
    r = rows[0]
    assert r.EXPOSURE == "DQ01K01" and r.ROOTNAME == "ld1ce4dk"
    assert r.PROPOSID == 14440 and isinstance(r.PROPOSID, int)
    assert r.EXPTIME == 1330.0
    assert r.EXPSTART == "2018.016:00:00:11"
    assert r.CENWAVE == 1291
    assert r.FPPOS == 2          # fpoffset -1 + 3 (ref: ingest_sms.py:141)
    assert r.FILEID == "181137c2"


def test_parse_skips_header_and_excluded_lines(spark, tmp_path):
    rows = [row(), row(exp="DQ01K03", op="MEMORY"), row(exp="DQ01K04", op="ALIGN/OSM")]
    write_sms(tmp_path, "181137c2.txt", rows)
    df = parse_sms_reports(spark, str(tmp_path))
    assert df.count() == 1  # MEMORY and ALIGN/OSM excluded (ref: ingest_sms.py:99-101)


def test_parse_malformed_raises(spark, tmp_path):
    (tmp_path / "181137c2.txt").write_text(HEADER + "garbage line without fields\n")
    with pytest.raises(SmsParseError):
        parse_sms_reports(spark, str(tmp_path))


def test_catalog_version_filter(spark, tmp_path):
    # three versions of one SMS + one other -> keep c2 and the other
    # (ref golden: tests/test_sms_ingest.py:124-131)
    for name in ["181137b3.txt", "181137b4.txt", "181137c2.txt", "181150a1.txt"]:
        write_sms(tmp_path, name, [row()])
    cat = sms_catalog(spark, str(tmp_path))
    state = {r.SMSID: r.VERSION for r in cat.collect()}
    assert state == {"181137": "c2", "181150": "a1"}


def test_catalog_empty_dir_raises(spark, tmp_path):
    with pytest.raises(OSError):
        sms_catalog(spark, str(tmp_path))  # ref: ingest_sms.py:282-284


def test_find_new_anti_join(spark, tmp_path):
    for name in ["181137c2.txt", "181150a1.txt"]:
        write_sms(tmp_path, name, [row()])
    cat = sms_catalog(spark, str(tmp_path))
    log = spark.createDataFrame([("181137c2",)], "FILEID STRING")
    new = find_new(cat, log)
    assert [r.FILEID for r in new.collect()] == ["181150a1"]
    assert find_new(cat, None).count() == 2


def test_reference_golden_counts(spark, tmp_path):
    """Replay the reference's finder goldens: 13 report files on disk of
    which 3 are versions of one SMS -> catalog retains 11 entries, max
    version wins (ref: tests/test_sms_ingest.py:94-96,124-131)."""
    names = [f"18{i:04d}a1.txt" for i in range(10)]          # 10 distinct
    names += ["181137b3.txt", "181137b4.txt", "181137c2.txt"]  # 3 versions
    for name in names:
        write_sms(tmp_path, name, [row()])
    assert len(names) == 13
    cat = sms_catalog(spark, str(tmp_path))
    assert cat.count() == 11
    assert cat.filter("SMSID = '181137'").first().VERSION == "c2"


def test_ingest_cli_end_to_end(spark, tmp_path):
    """The 'cosmo --ingest' analog: CLI merges catalog + exposures, and a
    re-run is a no-op (idempotent, ref: tests/test_sms_ingest.py:98-105)."""
    import subprocess
    import sys as _sys

    sms_dir = tmp_path / "sms"
    sms_dir.mkdir()
    write_sms(sms_dir, "181137c2.txt", [row(), row(exp="DQ01K02", root="ld1ce4dm")])
    data_dir = tmp_path / "tables"
    data_dir.mkdir()

    def run():
        return subprocess.run(
            [_sys.executable, "-m", "cosmo_spark.runner", "--ingest", str(sms_dir),
             "--data-dir", str(data_dir), "--master", "local[2]"],
            capture_output=True, text=True, cwd="/root/repo", timeout=300,
        )

    from cosmo_spark.sources.versioned import read_current

    def count(table):
        return read_current(spark, str(data_dir / f"{table}.parquet")).count()

    proc = run()
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "merged 2 exposure rows" in proc.stdout
    assert count("sms_file_stats") == 1 and count("sms_exposures") == 2

    proc2 = run()
    assert proc2.returncode == 0
    assert "0 new files" in proc2.stdout
    assert count("sms_file_stats") == 1 and count("sms_exposures") == 2


def test_exposure_merge_fileid_guard(spark, tmp_path):
    """Per-EXPOSURE rows: greater FILEID supersedes (ref: ingest_sms.py:189-198)."""
    write_sms(tmp_path, "181137b4.txt", [row(t1=1.0)])
    write_sms(tmp_path, "181137c2.txt", [row(t1=2.0)])
    all_rows = parse_sms_reports(spark, str(tmp_path))
    b4 = all_rows.filter("FILEID = '181137b4'")
    c2 = all_rows.filter("FILEID = '181137c2'")
    merged = merge_versioned(b4, c2, "EXPOSURE", "FILEID")
    out = merged.collect()
    assert len(out) == 1
    assert out[0].FILEID == "181137c2" and out[0].TSINCEOSM1 == 2.0
    # older update is a no-op
    again = merge_versioned(merged, b4, "EXPOSURE", "FILEID").collect()
    assert again[0].FILEID == "181137c2"


def test_enrich_with_sms_tsince(spark):
    """SMS rootnames lack the trailing 'q' (ref data_models.py:174-175);
    the enrichment appends it and inner-joins — unmatched exposures drop."""
    from cosmo_spark.sources.sms import enrich_with_sms_tsince

    exposures = spark.createDataFrame(
        [("ld1ce4dmq", 1.0), ("lzzzzzzzq", 2.0)], "ROOTNAME STRING, X DOUBLE"
    )
    sms = spark.createDataFrame(
        [("ld1ce4dm", 100.0, 200.0)],
        "ROOTNAME STRING, TSINCEOSM1 DOUBLE, TSINCEOSM2 DOUBLE",
    )
    out = enrich_with_sms_tsince(exposures, sms).collect()
    assert len(out) == 1  # no SMS entry -> dropped (ingest-lag behavior)
    assert out[0].ROOTNAME == "ld1ce4dmq"
    assert out[0].TSINCEOSM1 == 100.0 and out[0].TSINCEOSM2 == 200.0
