#!/usr/bin/env python3
"""Scale probe for the ETL NaN fill (BASELINE.md, "ETL linear fill
scale"): one warm ``etl.run_etl(choice='fill', method='linear')`` per
file size, on sensor files from the benchmark's own generator
(``perfbench/gen.land_sensor``: four channels with isolated holes, runs
of 3-8 holes, leading and trailing gaps, one all-null column).

The fill's window runs in one task per file, so its wall against rows
shows the cost class directly: a linear fill grows about 10x from 10k
to 100k rows, a quadratic one about 100x. Each output is checked
against pandas ``interpolate(method='linear', limit_direction='both')``
(the reference tool's call, process_csv_data.py:124-126) and the
largest absolute difference is reported. Per size it also reports the
driver-side build of the repair (``etl.repair`` on the read frame: the
blank/cast projection, its one count job and the fill's plan), median
of the reps, and the number of ``last(`` window aggregates and ``Sort [``
operators in the repaired frame's executed plan.

Usage:
    python probes/probe_etl_scale.py --rows 2000,10000,20000,100000 --reps 3

Prints one JSON line: per size the rows, the median and every wall in
seconds, ``max_abs_err`` against pandas, ``repair_build_ms`` and the
plan counts ``plan_last`` and ``plan_sorts``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import gen  # noqa: E402  perfbench/gen.py, the benchmark's input generator

from probes._common import PROBE_ROOT  # noqa: E402

WARM_ROWS = 500
WARM_CALLS = 5


def pandas_fill(path: str):
    """The reference tool's repair on one file: blanks to NaN, float
    cast, all-null columns dropped, linear interpolate both ways."""
    import pandas as pd

    pdf = pd.read_csv(path, dtype=str, keep_default_na=False)
    for c in pdf.columns[1:]:
        pdf[c] = pdf[c].mask(pdf[c].str.strip() == "").astype("float64")
    pdf = pdf.dropna(axis=1, how="all")
    for c in pdf.columns[1:]:
        pdf[c] = pdf[c].interpolate(method="linear", limit_direction="both")
    return pdf.sort_values("user_ts").reset_index(drop=True)


def max_abs_err(path: str, out: str) -> float:
    import pandas as pd

    want = pandas_fill(path)
    got = pd.concat(
        pd.read_csv(p, dtype={"user_ts": str})
        for p in sorted(glob.glob(f"{out}/part-*.csv"))
    )
    got = got.sort_values("user_ts").reset_index(drop=True)
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return float("inf")
    if not (got["user_ts"] == want["user_ts"]).all():
        return float("inf")
    cols = list(want.columns[1:])
    return float((got[cols] - want[cols]).abs().max().max())


def repair_build(spark, path: str) -> tuple[float, str]:
    """Driver-side build of ``run_etl``'s repair on ``path`` (ms), and
    the repaired frame's executed plan."""
    from fledge_south_csvplayback_spark import etl
    from fledge_south_csvplayback_spark.sources import csv_source

    df = csv_source.null_na_sentinels(
        spark.read.option("header", True).option("escape", '"').csv(path)
    )
    t0 = time.perf_counter()
    repaired = etl.repair(df, "fill", "linear")
    ms = (time.perf_counter() - t0) * 1000.0
    return ms, repaired._jdf.queryExecution().executedPlan().toString()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", default="2000,10000,20000,100000")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    sizes = [int(s) for s in args.rows.split(",")]

    from fledge_south_csvplayback_spark import etl
    from fledge_south_csvplayback_spark.session import get_spark

    work = f"{PROBE_ROOT}/etl_scale"
    shutil.rmtree(work, ignore_errors=True)
    spark = get_spark(app_name="probe_etl_scale")
    spark.sparkContext.setLogLevel("ERROR")

    (warm,) = gen.land_sensor(f"{work}/warm", args.seed, 1, WARM_ROWS, part="warm")
    for _ in range(WARM_CALLS):
        etl.run_etl(spark, warm, f"{work}/warm_out", "fill", "linear")
        spark.catalog.clearCache()

    results = []
    for n in sizes:
        (path,) = gen.land_sensor(f"{work}/in_{n}", args.seed, 1, n)
        out = f"{work}/out_{n}"
        walls, builds = [], []
        for _ in range(args.reps):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            etl.run_etl(spark, path, out, "fill", "linear")
            walls.append(round(time.perf_counter() - t0, 3))
            ms, plan = repair_build(spark, path)
            builds.append(ms)
        results.append(
            {
                "rows": n,
                "wall_s": statistics.median(walls),
                "walls_s": walls,
                "max_abs_err": max_abs_err(path, out),
                "repair_build_ms": round(statistics.median(builds), 1),
                "plan_last": plan.count("last("),
                "plan_sorts": plan.count("Sort ["),
            }
        )
        print(json.dumps(results[-1]), file=sys.stderr, flush=True)

    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "probe": "etl_scale",
                "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4)),
                "seed": args.seed,
                "reps": args.reps,
                "sizes": results,
            }
        )
    )


if __name__ == "__main__":
    main()
