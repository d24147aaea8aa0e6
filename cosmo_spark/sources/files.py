"""Ancillary file sources and sinks (SURVEY §2.1 S11-S13, S15-S18).

The reference reads ancillary CSVs, whitespace-separated telemetry series,
JSON state maps, and an Excel mnemonic sheet via pandas
(ref: cosmo/monitor_helpers.py:152-154, cosmo/monitors/telemetry_monitors.py:84-119,
cosmo/monitors/dark_monitors.py:101-129) and writes CSV results
(ref: cosmo/monitors/acq_monitors.py:472-475).  Spark-first equivalents with
explicit schemas — schema inference is a correctness and performance hazard
at scale (it scans data twice and can flip types between runs).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from cosmo_spark.schemas import ANCILLARY, TELEMETRY


def read_ancillary_csv(spark: SparkSession, path: str) -> DataFrame:
    """ROOTNAME-keyed enrichment CSV, deduped on the key before any join
    (ref: cosmo/monitor_helpers.py:147-159 — duplicates would fan out a
    left join)."""
    df = spark.read.csv(path, header=True, schema=ANCILLARY)
    return df.dropDuplicates(["ROOTNAME"])


def read_telemetry_series(
    spark: SparkSession, path: str, mnemonic: str | None = None
) -> DataFrame:
    """Whitespace-separated 2-column (MJD, Data) telemetry series
    (ref: cosmo/monitors/telemetry_monitors.py:104-119).  The mnemonic is
    derived from the filename when not given — one read covers a directory
    of per-mnemonic files."""
    raw = spark.read.text(path).withColumn("__file", F.input_file_name())
    parts = F.split(F.trim("value"), r"\s+")
    name = (
        F.lit(mnemonic)
        if mnemonic
        else F.regexp_extract(F.element_at(F.split("__file", "/"), -1), r"^([A-Za-z0-9_]+)", 1)
    )
    return (
        raw.filter(F.length(F.trim("value")) > 0)
        .select(
            name.alias("mnemonic"),
            F.element_at(parts, 1).cast("double").alias("MJD"),
            F.element_at(parts, 2).cast("double").alias("Data"),
        )
        .filter(F.col("MJD").isNotNull())
    )


def read_json_states(spark: SparkSession, path: str) -> DataFrame:
    """Nested JSON text-state mapping flattened to a (mnemonic, state,
    numeric) dimension table (ref: telemetry_monitors.py:278-311).  Expected
    shape: one object per mnemonic: {"LOSM1POS": {"G130M": 2.0, ...}, ...}."""
    df = spark.read.option("multiLine", True).json(path)
    cols = df.columns
    stacked = None
    for mnemonic in cols:
        states = df.select(F.lit(mnemonic).alias("mnemonic"), f"`{mnemonic}`.*")
        long = states.unpivot(
            "mnemonic", [c for c in states.columns if c != "mnemonic"],
            "state", "numeric",
        )
        stacked = long if stacked is None else stacked.unionByName(long)
    return stacked


def read_mnemonic_descriptions(spark: SparkSession, path: str) -> DataFrame:
    """Mnemonic -> description dimension (ref: pd.read_excel,
    cosmo/monitors/telemetry_monitors.py:84).

    Native ``.xlsx`` is parsed by the stdlib-only codec in
    ``sources/xlsx_io``, legacy binary ``.xls`` (the reference's ACTUAL
    mnemonics file, ``telemetry_support/COSMnemonics.xls``) by the CFB +
    BIFF8 codec in ``sources/xls_io`` — both cover the subset a lookup
    sheet uses (shared/inline strings + numbers) on the driver: this is a
    tiny dimension table, so a driver-side parse + ``createDataFrame`` is
    the right shape, exactly like the reference's in-memory read.  CSV
    export remains supported.

    Column selection follows the reference — by HEADER NAME
    (``mnemon_df['Mnemonic']`` / ``['Description']``,
    telemetry_monitors.py:380); the real sheet has extra columns around
    them.  Sheets without those headers fall back to the first two
    columns (the fixture-CSV layout)."""
    if path.endswith(".xls"):
        from cosmo_spark.sources.xls_io import read_xls

        rows = read_xls(path)
    elif path.endswith(".xlsx"):
        from cosmo_spark.sources.xlsx_io import read_xlsx

        rows = read_xlsx(path)
    else:
        return spark.read.csv(
            path, header=True, schema="Mnemonic STRING, Description STRING"
        )
    if not rows:
        raise ValueError(f"empty worksheet in {path}")
    header = rows[0]
    has_mn, has_de = "Mnemonic" in header, "Description" in header
    if has_mn and has_de:
        mn_i, de_i = header.index("Mnemonic"), header.index("Description")
    elif has_mn or has_de:
        # exactly one named header: silently falling back to positions
        # would report a WRONG column under the found name — refuse
        missing = "Description" if has_mn else "Mnemonic"
        raise ValueError(
            f"worksheet header has {'Mnemonic' if has_mn else 'Description'} "
            f"but no {missing} column: {header!r}"
        )
    else:
        mn_i, de_i = 0, 1  # headerless fixture layout: first two columns
    # columns are selected positionally, so the header cells never enter a
    # DDL string or column resolution — sheet headers with backticks/dots
    # can't corrupt the schema
    n = max(mn_i, de_i) + 1
    data = [
        tuple((list(r) + [None] * n)[i] for i in (mn_i, de_i))
        for r in rows[1:]
    ]
    return spark.createDataFrame(data, "Mnemonic STRING, Description STRING")


def write_results_csv(df: DataFrame, path: str, single_file: bool = True) -> None:
    """Results sink (ref: store_results CSV,
    cosmo/monitors/acq_monitors.py:472-475).  Monitor outputs are small
    aggregates, so ``single_file`` coalesces to one part for human use;
    large outputs should keep their parallelism.

    Array/struct/map columns are serialized to JSON strings — CSV cannot
    hold them natively (the reference's SQLite layer had the same problem
    and stringified arrays, ref: cosmo/monitor_helpers.py:118-135)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    cols = []
    for field in df.schema.fields:
        if isinstance(field.dataType, (ArrayType, MapType, StructType)):
            cols.append(F.to_json(F.col(field.name)).alias(field.name))
        else:
            cols.append(F.col(field.name))
    out = df.select(*cols)
    out = out.coalesce(1) if single_file else out
    out.write.mode("overwrite").option("header", True).csv(path)


def attach_prop_typ(df: DataFrame, ancillary: DataFrame) -> DataFrame:
    """Attach the PROP_TYP label from the ancillary CSV table by ROOTNAME
    (ref: cosmo/monitor_helpers.py:147-159 ``get_prop_typ`` — dedupe on
    ROOTNAME, left join; the reference applies it in every monitor's
    get_data as a hover label).  Broadcast left join; rows without an
    ancillary entry keep a null label."""
    dim = ancillary.select("ROOTNAME", "PROP_TYP").dropDuplicates(["ROOTNAME"])
    return df.join(F.broadcast(dim), "ROOTNAME", "left")


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Scheme-portable existence check through the Hadoop FileSystem API.

    ``os.path.exists`` only sees the LOCAL filesystem — on hdfs:// or
    object-store paths it silently answers False, which for the
    read-if-present call sites (the streaming rollup maintenance) would
    mean treating an existing table as absent and overwriting it.
    Same handle discipline as ``atomic_overwrite`` below.
    """
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(p))


def fs_dir_bytes(spark: SparkSession, path: str) -> int:
    """Total byte size under ``path`` (0 when absent), scheme-portable.
    Used as the broadcast-threshold probe: the foreachBatch media keeper
    re-reads its fingerprint store every micro-batch and must decide
    broadcast-vs-shuffle from the store's at-rest size, not a local-only
    ``os.walk``."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return 0
    return int(fs.getContentSummary(p).getLength())


def atomic_overwrite(df, path: str) -> None:
    """Replace the parquet table at ``path`` with ``df``: write to a tmp
    sibling, then delete+rename through the Hadoop FileSystem API.

    The single swap implementation behind compaction (sources/layout.py)
    and the streaming rollup maintenance (streaming/rates.py) — one place
    to harden the crash window between delete and rename.  Versioned
    merge targets never swap in place: they publish snapshot versions
    (sources/versioned.py).  Routing the swap through the
    FS API (not shutil/os) makes it scheme-portable; rename is atomic on
    HDFS/local, copy-based on object stores.
    """
    import uuid

    spark = df.sparkSession
    tmp = f"{path}.__tmp_{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(tmp)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    dst = jvm.org.apache.hadoop.fs.Path(path)
    src = jvm.org.apache.hadoop.fs.Path(tmp)
    fs = dst.getFileSystem(conf)
    if fs.exists(dst):
        fs.delete(dst, True)
    if not fs.rename(src, dst):
        raise IOError(f"atomic_overwrite: rename {tmp} -> {path} failed")


def read_jsonl_quarantine(
    spark: SparkSession,
    path: str,
    schema: str,
    quarantine_path: str | None = None,
):
    """PERMISSIVE JSONL ingest with a corrupt-record quarantine channel:
    returns ``(clean, bad)`` DataFrames; ``bad`` carries the raw offending
    line in ``_corrupt_record`` (and is also appended to
    ``quarantine_path`` as parquet when given, so a 100 TB backfill can
    triage breakage without re-reading the source).

    The reference aborts a whole SMS file on one bad line
    (ref: cosmo/sms/sms.py SmsFileParseError); at corpus scale the right
    contract is per-RECORD isolation: every parseable row flows, every
    unparseable byte string is retained as evidence.  FAILFAST remains
    available by just reading with the schema directly.

    Spark caveat encoded here: queries over a raw PERMISSIVE scan refuse
    to plan once column pruning leaves ONLY the corrupt-record column
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN — even
    ``clean.count()`` trips it, because the corrupt-null filter is all
    that remains).  So the two channels come from two independent
    single-pass scans: ``clean`` reads with mode=DROPMALFORMED (no
    corrupt column anywhere in its plan — every query shape works), and
    ``bad`` reads PERMISSIVE with the column declared and is CACHED, which
    pins the materialized rows and lifts the restriction — ``bad.count()``
    and aggregates plan normally."""
    clean = (
        spark.read.schema(schema)
        .option("mode", "DROPMALFORMED")
        .json(path)
    )
    full_schema = schema.rstrip() + ", _corrupt_record STRING"
    bad = (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .filter(F.col("_corrupt_record").isNotNull())
    )
    # materialise the quarantine channel (advice r7): a raw PERMISSIVE scan
    # refuses natural calls like bad.count() once pruning leaves only the
    # corrupt column (QUERY_ONLY_CORRUPT_RECORD_COLUMN); a localCheckpoint
    # cuts the plan at the full row set so every downstream shape plans.
    # The frame is breakage-sized (bad rows only) and is reclaimed with
    # the returned frame instead of staying pinned in the CacheManager.
    bad = bad.localCheckpoint()
    if quarantine_path:
        bad.write.mode("append").parquet(quarantine_path)
    return clean, bad


def read_csv_quarantine(
    spark: SparkSession,
    path: str,
    schema: str,
    quarantine_path: str | None = None,
    header: bool = False,
):
    """CSV twin of ``read_jsonl_quarantine`` — same two-scan contract
    (clean rows via DROPMALFORMED, offending raw lines retained via a
    PERMISSIVE scan with the corrupt column declared, optional parquet
    quarantine).  Malformed here means un-parseable under the declared
    schema: wrong column count or an uncastable field."""
    clean = (
        spark.read.schema(schema)
        .option("mode", "DROPMALFORMED")
        .option("header", header)
        .csv(path)
    )
    full_schema = schema.rstrip() + ", _corrupt_record STRING"
    bad = (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("header", header)
        .csv(path)
        .filter(F.col("_corrupt_record").isNotNull())
    )
    # same bounded checkpoint as the JSONL twin: lifts the corrupt-only-
    # column planning restriction so bad.count()/aggregates work directly
    bad = bad.localCheckpoint()
    if quarantine_path:
        bad.write.mode("append").parquet(quarantine_path)
    return clean, bad
