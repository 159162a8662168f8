"""ETL CLI smoke tests (E3)."""

from __future__ import annotations

from fledge_south_csvplayback_spark import etl

import os

FIX = os.path.join(os.path.dirname(__file__), "fixtures")


def test_etl_flattens_dump(spark, tmp_path):
    out = str(tmp_path / "clean")
    res = etl.run_etl(spark, f"{FIX}/fledge_dump.csv", out, choice="ignore")
    assert set(res.columns) == {"channel1", "channel2", "user_ts"}
    back = spark.read.option("header", True).csv(out)
    assert back.count() == 200


def test_etl_fill_repairs_dirty(spark, tmp_path):
    out = str(tmp_path / "fixed")
    res = etl.run_etl(
        spark, f"{FIX}/dirty.csv", out, choice="fill", method="linear", ts_col="ts"
    )
    assert "allblank" not in res.columns  # all-null column dropped
    back = spark.read.option("header", True).csv(out)
    assert back.filter("a IS NULL OR b IS NULL").count() == 0


def test_etl_drop_removes_holed_columns(spark, tmp_path):
    out = str(tmp_path / "dropped")
    res = etl.run_etl(
        spark, f"{FIX}/dirty.csv", out, choice="drop", ts_col="ts"
    )
    assert set(res.columns) == {"ts"}  # a and b both contain holes


def test_parser_defaults():
    args = etl.build_parser().parse_args(["-i", "in.csv", "-o", "out.csv"])
    assert args.choice == "fill" and args.method == "linear"


def test_etl_cubic_fill(spark, tmp_path):
    """-m cubic reaches interpolate_cubic (reference fill branch accepts
    'cubic', process_csv_data.py:33-34,124)."""
    args = etl.build_parser().parse_args(
        ["-i", "in.csv", "-o", "out.csv", "-m", "cubic"]
    )
    assert args.method == "cubic"
    out = str(tmp_path / "cubic")
    res = etl.run_etl(
        spark, f"{FIX}/dirty.csv", out, choice="fill", method="cubic", ts_col="ts"
    )
    assert "allblank" not in res.columns
    back = spark.read.option("header", True).csv(out)
    # spline fills interior holes; edge gaps clamp to the nearest knot
    assert back.count() > 0
    assert back.filter("a IS NULL OR b IS NULL").count() == 0


def _write_dump(tmp_path, rows):
    """Write a Fledge-dump CSV (reading is RFC4180-quoted JSON)."""
    p = str(tmp_path / "dump.csv")
    with open(p, "w") as f:
        f.write("reading,user_ts\n")
        for reading, ts in rows:
            if reading is None:
                f.write(f",{ts}\n")
            else:
                f.write('"' + reading.replace('"', '""') + f'",{ts}\n')
    return p


def test_etl_hostile_dump_pins(spark, tmp_path):
    """Hostile-dump semantics, pinned as DOCUMENTED DIVERGENCES from
    the reference tool, which is vibration-dump-specific and CRASHES on
    each of these (process_csv_data.py:76-78 — naive string splits
    assume exactly two datapoints): a single-datapoint reading raises
    IndexError there, a NULL reading raises AttributeError (float NaN
    has no .split), malformed JSON yields garbage columns. Here the
    datapoint keys come from the first NON-NULL reading and every
    non-conforming reading degrades to NULL cells (from_json), never a
    crash — engine-grade behavior for a 100 TB dump with a few bad rows.
    """
    rows = [
        (None, "2020-01-01 00:00:00"),  # NULL reading: ref AttributeError
        ('{"channel1":1.5,"channel2":2.5}', "2020-01-01 00:00:01"),
        ('{"channel1":3.5}', "2020-01-01 00:00:02"),  # ref IndexError
        ("{oops", "2020-01-01 00:00:03"),  # malformed: NULL row here
        # extra keys beyond the sampled schema are ignored (documented
        # schema decision in flatten_if_dump)
        ('{"channel1":4.5,"channel2":5.5,"extra":9.9}', "2020-01-01 00:00:04"),
    ]
    p = _write_dump(tmp_path, rows)
    res = etl.run_etl(spark, p, str(tmp_path / "out"), choice="ignore")
    assert set(res.columns) == {"channel1", "channel2", "user_ts"}
    got = {r.user_ts: (r.channel1, r.channel2) for r in res.collect()}
    assert got == {
        "2020-01-01 00:00:00": (None, None),
        "2020-01-01 00:00:01": (1.5, 2.5),
        "2020-01-01 00:00:02": (3.5, None),
        "2020-01-01 00:00:03": (None, None),
        "2020-01-01 00:00:04": (4.5, 5.5),
    }


def test_etl_all_null_readings(spark, tmp_path):
    """A dump whose every reading is NULL has no sampled keys: the
    flatten degrades to (user_ts) alone rather than crashing (the
    reference dies on its first .split)."""
    p = _write_dump(
        tmp_path, [(None, "2020-01-01 00:00:00"), (None, "2020-01-01 00:00:01")]
    )
    res = etl.run_etl(spark, p, str(tmp_path / "out2"), choice="ignore")
    assert res.columns == ["user_ts"]
    assert res.count() == 2


def test_etl_output_round_trips_quoted_values(spark, tmp_path):
    """The ETL writer's output parses back identically through the
    package reader AND pandas (RFC4180 doubled quotes; round-12 find —
    Spark's default backslash escaping corrupted quoted values)."""
    import glob

    import pandas as pd

    p = str(tmp_path / "in.csv")
    with open(p, "w") as f:
        f.write('note,user_ts\n"he said ""hi"", twice",2020-01-01\n')
    res = etl.run_etl(spark, p, str(tmp_path / "out"), choice="ignore")
    assert res.collect()[0].note == 'he said "hi", twice'
    f = sorted(glob.glob(str(tmp_path / "out" / "part-*.csv")))[0]
    assert pd.read_csv(f)["note"].tolist() == ['he said "hi", twice']


def test_etl_fill_treats_pandas_na_sentinels_as_holes(spark, tmp_path):
    """NA, n/a, null and NaN cells in numeric channels are holes, as
    pandas' read_csv reads them: the linear fill equals pandas
    interpolate(method="linear", limit_direction="both"). Without the
    sentinel pass the numeric cast raised on NA/n/a/null under ANSI
    mode, and a NaN cell was kept as a value the fill left alone."""
    import pandas as pd
    import pytest

    p = str(tmp_path / "sentinels.csv")
    with open(p, "w") as f:
        f.write(
            "user_ts,a,b\n"
            "2020-01-01 00:00:00,NA,1.0\n"
            "2020-01-01 00:00:01,2.0,n/a\n"
            "2020-01-01 00:00:02,null,3.0\n"
            "2020-01-01 00:00:03,4.0,NaN\n"
            "2020-01-01 00:00:04,NaN,5.0\n"
            "2020-01-01 00:00:05,8.0,null\n"
            "2020-01-01 00:00:06,,NA\n"
        )
    res = etl.run_etl(
        spark, p, str(tmp_path / "out"), choice="fill", method="linear"
    )
    got = [[r.a, r.b] for r in res.orderBy("user_ts").collect()]
    pdf = pd.read_csv(p)
    want = (
        pdf[["a", "b"]]
        .interpolate(method="linear", limit_direction="both")
        .values.tolist()
    )
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g == pytest.approx(w)


def test_etl_fill_output_keeps_time_order(spark, tmp_path):
    """The repaired file is written in time order, as the reference
    tool writes its rows in file order: the playback plugin replays the
    cleaned file front to back."""
    import glob

    import pandas as pd

    p = str(tmp_path / "ordered.csv")
    with open(p, "w") as f:
        f.write("user_ts,a,b\n")
        for i in range(60):
            a = "" if i % 7 in (0, 3) else f"{i}.5"
            b = "" if i % 5 == 2 else f"{-i}"
            f.write(f"2020-01-01 00:00:{i:02d},{a},{b}\n")
    out = str(tmp_path / "out")
    etl.run_etl(spark, p, out, choice="fill", method="linear")
    parts = sorted(glob.glob(f"{out}/part-*.csv"))
    assert len(parts) == 1
    ts = pd.read_csv(parts[0], dtype={"user_ts": str})["user_ts"].tolist()
    assert len(ts) == 60
    assert ts == sorted(ts)
