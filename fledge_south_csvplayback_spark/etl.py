"""Offline ETL CLI (E3) — the engine's ``process_csv_data.py`` twin.

Same surface as the reference tool (process_csv_data.py:23-52):
``-i/--input``, ``-o/--output``, ``-c/--chunksize``, ``-C/--choice
{fill,drop,ignore}``, ``-m/--method {linear,nearest,cubic,
rolling_mean,rolling_median}`` — recomposed as two *composable*
transforms (flatten -> repair) applied to one DataFrame. This
deliberately fixes the reference's quirk of re-reading the raw input
for the NaN pass and appending both outputs to the same file
(process_csv_data.py:151-153; SURVEY.md §2.12).

``--chunksize`` is accepted for CLI compatibility but unused: chunked
iteration is Spark's job (partitioned scan), not the reader's.

Deliberate deviations from the reference CLI: ``-i``/``-o`` are taken
as raw paths (the reference resolves both under ``$FLEDGE_DATA``,
process_csv_data.py:17-21,39-40) and an existing output directory is
overwritten (the reference refuses, :47-49) — engine-style batch-job
semantics rather than plugin-sandbox semantics.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fledge_south_csvplayback_spark.operators import clean
from fledge_south_csvplayback_spark.sources import csv_source


def flatten_if_dump(df: DataFrame, ts_col: str = "user_ts") -> DataFrame:
    """E1 when applicable: flatten a Fledge-dump ``reading`` column.

    Datapoint keys are discovered from the first non-null reading (one
    driver-side row — a schema decision, like the reference's hardcoded
    channel list but data-driven).
    """
    if "reading" not in df.columns:
        return df
    sample = df.select("reading").filter(F.col("reading").isNotNull()).first()
    keys = sorted(json.loads(sample["reading"]).keys()) if sample else []
    return clean.flatten_fledge_dump(df, keys, ts_col=ts_col)


def repair(
    df: DataFrame, choice: str, method: str, ts_col: str = "user_ts"
) -> DataFrame:
    """E2: NaN policy over the non-timestamp columns."""
    if choice == "ignore":
        return df
    cols = [c for c in df.columns if c != ts_col]
    return clean.repair_nans(
        df, cols, [ts_col], method=("drop" if choice == "drop" else method)
    )


def run_etl(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    choice: str = "fill",
    method: str = "linear",
    ts_col: str = "user_ts",
) -> DataFrame:
    # pandas' NA sentinels (NA, n/a, null, NaN, ...) read as missing,
    # as in the reference's read_csv: without this, the repair's
    # numeric cast fails on them under ANSI mode
    df = csv_source.null_na_sentinels(
        spark.read.option("header", True)
        .option("escape", '"')
        .csv(input_path)
    )
    out = repair(flatten_if_dump(df, ts_col), choice, method, ts_col)
    # escape='"' = RFC4180 doubled-quote output (pandas to_csv style,
    # what every reader in this package and the reference expect);
    # Spark's default backslash escaping does NOT round-trip through
    # them (round-12 find: values containing quotes came back corrupted)
    out.write.mode("overwrite").option("header", True).option(
        "escape", '"'
    ).csv(output_path)
    return out


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        description="Clean a CSV: flatten Fledge dumps, repair NaN holes"
    )
    p.add_argument("-i", "--input", required=True)
    p.add_argument("-o", "--output", required=True)
    p.add_argument("-c", "--chunksize", type=int, default=10000)  # compat only
    p.add_argument(
        "-C", "--choice", choices=("fill", "drop", "ignore"), default="fill"
    )
    p.add_argument(
        "-m",
        "--method",
        # 'cubic' included to match the reference's fill branch
        # (process_csv_data.py:33-34,124 accepts free text incl. cubic)
        choices=("linear", "nearest", "cubic", "rolling_mean", "rolling_median"),
        default="linear",
    )
    p.add_argument("--ts-col", default="user_ts")
    return p


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    from fledge_south_csvplayback_spark.session import get_spark

    spark = get_spark(app_name="csvplayback-etl")
    try:
        run_etl(
            spark, args.input, args.output, args.choice, args.method, args.ts_col
        )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
