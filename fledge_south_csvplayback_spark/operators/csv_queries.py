"""Oracle-checkable query wrappers for the CSV source layer.

The driver's correctness harness passes (spark, sf_dir) and runs the
oracle SQL in DuckDB with the sf tables pre-registered — but DuckDB can
also read the committed fixture CSVs directly (read_csv with explicit
options), which lets the CSV scan variants (S3-S5, §1.4) be
hash-checked end-to-end too. sf_dir is ignored by these queries; the
fixture path is stable inside the repo.

Types are pinned on both sides (explicit Spark schema / DuckDB
``columns=``) so the check exercises the skip/rename/select/cast
plumbing, not two engines' inference heuristics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fledge_south_csvplayback_spark.sources import csv_source as cs

FIXTURE_DIR = os.path.abspath(
    os.path.join(os.path.dirname(__file__), "..", "..", "tests", "fixtures")
)
assert os.path.isdir(FIXTURE_DIR), (
    f"fixture dir missing: {FIXTURE_DIR} — the CSV-layer queries and their "
    "oracles resolve fixtures relative to the repo checkout"
)


def _fx(name: str) -> str:
    return os.path.join(FIXTURE_DIR, name)


# --- S3 pick_from_file: plain headered read (F1) ----------------------------
def csv_pick_from_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cs.read_pick_from_file(
        spark,
        _fx("vibration.csv"),
        schema="channel1 double, channel2 double, user_ts string",
    )


CSV_PICK_FROM_FILE_SQL = f"""
SELECT * FROM read_csv('{_fx("vibration.csv")}', header=true,
    columns={{'channel1': 'DOUBLE', 'channel2': 'DOUBLE', 'user_ts': 'VARCHAR'}})
"""


# --- S3+S4: header at index after skipping metadata rows (F4) ---------------
def csv_skiprows_header_at_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cs.read_pick_from_file(
        spark,
        _fx("metadata_header.csv"),
        header_row=0,
        skip_rows=2,
        schema="ts string, temp double, pressure double",
    )


CSV_SKIPROWS_SQL = f"""
SELECT * FROM read_csv('{_fx("metadata_header.csv")}', skip=3, header=false,
    columns={{'ts': 'VARCHAR', 'temp': 'DOUBLE', 'pressure': 'DOUBLE'}})
"""


# --- S3 explicit: rename + subset + cast in one spec (F2) --------------------
def csv_explicit_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cs.read_explicit(
        spark, _fx("typed.csv"), "id:int,temperature:float,status:str"
    )


CSV_EXPLICIT_SQL = f"""
SELECT column0::BIGINT AS id, column1::DOUBLE AS temperature,
       column2::VARCHAR AS status
FROM read_csv('{_fx("typed.csv")}', skip=1, header=false,
    columns={{'column0': 'VARCHAR', 'column1': 'VARCHAR', 'column2': 'VARCHAR'}})
"""


def csv_explicit_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cs.read_explicit(spark, _fx("typed.csv"), "id:int,,status:str")


CSV_EXPLICIT_SUBSET_SQL = f"""
SELECT column0::BIGINT AS id, column2::VARCHAR AS status
FROM read_csv('{_fx("typed.csv")}', skip=1, header=false,
    columns={{'column0': 'VARCHAR', 'column1': 'VARCHAR', 'column2': 'VARCHAR'}})
"""


def csv_explicit_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-11 registry fold (COVERAGE.md selection rule): the full
    and subset explicit-schema scans read the SAME typed.csv fixture
    through the SAME spec parser, differing only in the skipped
    column, so they fold into ONE variant-tagged union — subset rows
    carry a NULL temperature, keeping every constituent row
    hash-distinguishable; the unmerged callables stay public +
    pytest-oracle-checked. The freed slot registers
    ``text_top_ngrams``.

    Round 13 folds in the S4 skip-rows/header-at-index scan (the
    adjacent §2.1 surface, the same NULL-padded-union shape as the
    round-11 ts_copy_move fold): its rows ride the same union behind a
    ``variant_skiprows`` tag with the explicit-suite columns NULL and
    vice versa — every constituent row stays hash-distinguishable —
    freeing the slot that registers ``corpus_neardup_keep_best``. The
    unmerged ``csv_skiprows_header_at_index`` stays public, bench-row
    name-stable, + pytest-oracle-checked (test_oracle_parity)."""
    full = csv_explicit_schema(spark, sf_dir).select(
        F.lit("variant_full").alias("variant"),
        "id",
        F.col("temperature").cast("double").alias("temperature"),
        "status",
    )
    sub = csv_explicit_subset(spark, sf_dir).select(
        F.lit("variant_subset").alias("variant"),
        "id",
        F.lit(None).cast("double").alias("temperature"),
        "status",
    )
    pad = [
        F.lit(None).cast("string").alias("ts"),
        F.lit(None).cast("double").alias("temp"),
        F.lit(None).cast("double").alias("pressure"),
    ]
    skip = csv_skiprows_header_at_index(spark, sf_dir).select(
        F.lit("variant_skiprows").alias("variant"),
        F.lit(None).cast("bigint").alias("id"),
        F.lit(None).cast("double").alias("temperature"),
        F.lit(None).cast("string").alias("status"),
        "ts",
        "temp",
        "pressure",
    )
    return full.select("*", *pad).unionByName(sub.select("*", *pad)).unionByName(skip)


CSV_EXPLICIT_SUITE_SQL = f"""
SELECT 'variant_full' AS variant, id, temperature, status,
       NULL::VARCHAR AS ts, NULL::DOUBLE AS temp, NULL::DOUBLE AS pressure
FROM ({CSV_EXPLICIT_SQL})
UNION ALL
SELECT 'variant_subset' AS variant, id, NULL::DOUBLE AS temperature, status,
       NULL::VARCHAR AS ts, NULL::DOUBLE AS temp, NULL::DOUBLE AS pressure
FROM ({CSV_EXPLICIT_SUBSET_SQL})
UNION ALL
SELECT 'variant_skiprows' AS variant, NULL::BIGINT AS id,
       NULL::DOUBLE AS temperature, NULL::VARCHAR AS status,
       ts, temp, pressure
FROM ({CSV_SKIPROWS_SQL})
"""


# --- §1.4.3 ragged rows → map, exploded for hashability (F3) -----------------
def csv_ragged_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = cs.read_ragged(spark, _fx("ragged.csv"))
    return df.select(
        "row_id", F.explode(F.col("readings")).alias("datapoint", "value")
    )


# Expected literal derived from csv.reader over the fixture lines (the
# parser the reference's pandas engine='python' read is built on) —
# quoted commas stay one field, doubled quotes unescape, quoted-empty
# and bare-empty cells are both dropped from the map, and so are
# pandas' NA sentinels (NA/null/NaN → NaN on the reference's read,
# then dropped by its pd.isnull cell filter, csvplayback.py:703-711).
CSV_RAGGED_SQL = """
SELECT * FROM (VALUES
    (0, 'column_1', 'a'), (0, 'column_2', 'b'), (0, 'column_3', 'c'),
    (1, 'column_1', '2'), (1, 'column_2', '3'), (1, 'column_4', '23'),
    (2, 'column_1', '4'),
    (3, 'column_1', 'x'), (3, 'column_2', 'b,c'), (3, 'column_3', 'd'),
    (4, 'column_1', 'he said "hi"'), (4, 'column_2', 'z'),
    (5, 'column_1', 'q"q'), (5, 'column_3', 'last,one'),
    (6, 'column_2', '7')
) AS t(row_id, datapoint, value)
"""


# --- S1/S3: compressed codecs (native in both the batch reader and the
# file-stream source; csvplayback.py:510 accepts .csv.gz/.csv.bz2) ------------
def csv_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cs.read_pick_from_file(
        spark,
        _fx("vibration.csv.gz"),
        schema="channel1 double, channel2 double, user_ts string",
    )


def csv_bzip2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cs.read_pick_from_file(
        spark,
        _fx("vibration.csv.bz2"),
        schema="channel1 double, channel2 double, user_ts string",
    )


def csv_compressed_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both compressed codec paths in one registered entry (S1/S3).

    The driver caps CORRECTNESS output at 50 entries, so the gz and bz2
    variants share one registration; a codec tag keeps the two scans
    distinguishable in the hash compare.
    """
    return csv_gzip(spark, sf_dir).withColumn("codec", F.lit("gz")).unionByName(
        csv_bzip2(spark, sf_dir).withColumn("codec", F.lit("bz2"))
    )


# --- S1: multi-file directory scan (the batch union of a playback dir) -------
def csv_directory_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = cs.read_pick_from_file(
        spark,
        _fx("multi"),
        schema="channel1 double, channel2 double, user_ts string",
    )
    return df.withColumn(
        "src_file", F.element_at(F.split(F.input_file_name(), "/"), -1)
    )


# --- S5 pass_in_datapoint: metadata rows merged into every reading (F4) ------
def csv_metadata_datapoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _fx("metadata_header.csv")
    meta = cs.read_metadata_datapoint(spark, path, 2)
    df = cs.read_pick_from_file(
        spark,
        path,
        header_row=0,
        skip_rows=2,
        schema="ts string, temp double, pressure double",
    )
    return df.withColumn("metadata", F.lit(meta))


CSV_METADATA_SQL = f"""
SELECT ts, temp, pressure,
       'device=XJ900 site=plant7_calibrated=2020-01-01' AS metadata
FROM read_csv('{_fx("metadata_header.csv")}', skip=3, header=false,
    columns={{'ts': 'VARCHAR', 'temp': 'DOUBLE', 'pressure': 'DOUBLE'}})
"""


def csv_directory_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 directory discovery + S3 compressed-codec scans folded into
    ONE registered entry (round-6 registry rotation, see COVERAGE.md:
    the driver caps CORRECTNESS at 50 rows, and these two fixture
    scans verify adjacent §2.1 surface — merging them freed the slot
    the corpus-wide boilerplate scrub now occupies). The ``src`` tag
    keeps every constituent scan distinguishable in the hash compare;
    the unmerged callables stay public and pytest-covered. Round 11
    folds the plain single-file scan (``csv_pick_from_file``) in as
    the ``file`` member — same vibration fixture family, same S3
    surface — freeing the slot that registers ``events_retention``."""
    d = csv_directory_union(spark, sf_dir).withColumnRenamed("src_file", "src")
    c = csv_compressed_codecs(spark, sf_dir).withColumnRenamed("codec", "src")
    p = csv_pick_from_file(spark, sf_dir).withColumn("src", F.lit("file"))
    return d.unionByName(c).unionByName(p)


CSV_DIRECTORY_CODECS_SQL = f"""
SELECT channel1, channel2, user_ts,
       string_split(filename, '/')[-1] AS src
FROM read_csv('{_fx("multi")}/*.csv', header=true, filename=true,
    columns={{'channel1': 'DOUBLE', 'channel2': 'DOUBLE', 'user_ts': 'VARCHAR'}})
UNION ALL
SELECT *, 'gz' AS src FROM read_csv('{_fx("vibration.csv.gz")}', header=true,
    columns={{'channel1': 'DOUBLE', 'channel2': 'DOUBLE', 'user_ts': 'VARCHAR'}})
UNION ALL
SELECT *, 'bz2' AS src FROM read_csv('{_fx("vibration.csv")}', header=true,
    columns={{'channel1': 'DOUBLE', 'channel2': 'DOUBLE', 'user_ts': 'VARCHAR'}})
UNION ALL
SELECT *, 'file' AS src FROM ({CSV_PICK_FROM_FILE_SQL})
"""
