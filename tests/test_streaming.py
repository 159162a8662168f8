"""Streaming playback smoke tests (ST1-ST7, S7-S10)."""

from __future__ import annotations

import os
import shutil

import pytest

from fledge_south_csvplayback_spark.config import IngestMode, PlaybackConfig
from fledge_south_csvplayback_spark.streaming import playback as pb

FIXTURE_MULTI = os.path.join(
    os.path.dirname(__file__), "fixtures", "multi"
)
SCHEMA = "channel1 string, channel2 string, user_ts string"


def _cfg(d: str, **kw) -> PlaybackConfig:
    return PlaybackConfig(csv_dir_name=d, csv_file_name="vib", **kw)


def test_async_stream_drains_all_files(spark):
    got: list[int] = []

    def cb(rows, batch_id):
        got.append(len(rows))

    session = pb.PlaybackSession(spark, _cfg(FIXTURE_MULTI), SCHEMA)
    q = session.start_async(cb, available_now=True)
    q.awaitTermination()
    assert sum(got) == 4000  # 2 files x 2000 data rows
    assert len(got) >= 2  # maxFilesPerTrigger=1 -> one batch per file


def test_poll_mode_envelope_shape(spark):
    session = pb.PlaybackSession(spark, _cfg(FIXTURE_MULTI), SCHEMA)
    session.start_polling(available_now=True)
    batch = session.poll()
    assert batch, "first poll should yield a burst"
    r = batch[0]
    assert set(r.asDict()) == {"asset", "timestamp", "readings"}
    assert r.asset == "vibration"
    assert set(r.readings) == {"channel1", "channel2", "user_ts"}
    session.stop()


def test_continuous_mode_spreads_timestamps(spark):
    cfg = _cfg(FIXTURE_MULTI, ingest_mode=IngestMode.CONTINUOUS, sample_rate=2000)
    collected = []
    session = pb.PlaybackSession(spark, cfg, SCHEMA)
    q = session.start_async(lambda rows, bid: collected.extend(rows), available_now=True)
    q.awaitTermination()
    stamps = {r.timestamp for r in collected}
    # 2000-row chunks spread at 500 us steps -> many distinct stamps
    assert len(stamps) > 100


def test_multi_partition_batch_spreads_across_second(spark):
    """A multi-partition micro-batch must spread across the anchor
    second, not cluster every partition's rows near the anchor: the
    per-partition spreading id restarts at 0, so partition 0 starts at
    slot 0 and every other partition at xxhash64(pid) % n (an equal
    stride pid * (n/P̂) degenerates whenever pid*stride ≡ 0 mod n —
    stride = n on local[1] put EVERY partition back at the anchor).
    The expected slot set is recomputed here from the same formula, so
    the assertion is exact and host-independent."""
    from pyspark.sql import functions as F

    n = 2000
    rows_per_part = 100
    cfg = _cfg(FIXTURE_MULTI, ingest_mode=IngestMode.CONTINUOUS, sample_rate=n)
    df = spark.range(400, numPartitions=4).selectExpr("id AS channel1")
    stamped = pb.stamp_batch(df, cfg, anchor="2020-01-01 00:00:00")
    micros = [
        r[0]
        for r in stamped.selectExpr(
            "unix_micros(timestamp) - unix_micros(TIMESTAMP '2020-01-01 00:00:00')"
        ).collect()
    ]
    step = 1_000_000 // n
    slots = {m // step for m in micros}
    offsets = [0] + [
        r[0]
        for r in spark.range(1, 4)
        .select(F.pmod(F.xxhash64(F.col("id").cast("int")), F.lit(n)))
        .collect()
    ]
    expected = {
        (off + k) % n for off in offsets for k in range(rows_per_part)
    }
    assert slots == expected, (sorted(slots)[:5], sorted(expected)[:5])
    # hashed offsets must actually decorrelate the 4 partitions: the
    # slot union is near-4x one partition's reach (allowing overlap)
    assert len(slots) > 2 * rows_per_part
    # and the spread stays inside the anchor second
    assert 0 <= min(micros) and max(micros) < 1_000_000


def test_replay_loop_doubles_rows(spark):
    seen = []
    total = pb.replay(
        spark, _cfg(FIXTURE_MULTI), SCHEMA, lambda rows, bid: seen.append(len(rows)), 2
    )
    assert total == 8000  # continue_playing x2


def test_clean_source_archive_moves_files(spark, tmp_path):
    src = tmp_path / "incoming"
    src.mkdir()
    for name in os.listdir(FIXTURE_MULTI):
        shutil.copy(os.path.join(FIXTURE_MULTI, name), src / name)
    archive = tmp_path / "done"
    session = pb.PlaybackSession(
        spark,
        _cfg(str(src)),
        SCHEMA,
        clean_source="archive",
        archive_dir=str(archive),
    )
    q = session.start_async(lambda rows, bid: None, available_now=True)
    q.awaitTermination()
    # archival is asynchronous maintenance work; allow it to settle
    import time

    for _ in range(40):
        if not any(f.endswith(".csv") for f in os.listdir(src)):
            break
        time.sleep(0.5)
    archived = list(archive.rglob("*.csv")) if archive.exists() else []
    moved = not any(f.endswith(".csv") for f in os.listdir(src))
    assert moved or archived, "cleanSource=archive should relocate consumed files"


def test_restart_with_new_config(spark):
    """ST6: reconfigure = stop + rebuild + start (csvplayback.py:336-353)."""
    session = pb.PlaybackSession(spark, _cfg(FIXTURE_MULTI), SCHEMA)
    q1 = session.start_async(lambda rows, bid: None, available_now=True)
    q1.awaitTermination()
    counts = []
    new_cfg = _cfg(FIXTURE_MULTI, asset_name="pump")
    q2 = session.restart(new_cfg, lambda rows, bid: counts.append(rows))
    try:
        deadline = 30
        while not counts and deadline > 0:
            q2.processAllAvailable()
            deadline -= 1
        assert counts and counts[0][0].asset == "pump"
    finally:
        session.stop()


def test_throughput_counters(spark):
    session = pb.PlaybackSession(spark, _cfg(FIXTURE_MULTI), SCHEMA)
    q = session.start_async(lambda rows, bid: None, available_now=True)
    q.awaitTermination()
    t = pb.throughput(q)
    assert t["num_input_rows"] > 0
    assert t["processed_rows_per_second"] > 0


def test_throughput_before_first_progress():
    """A query with no progress yet reports the same keys, all zero."""

    class NoProgress:
        lastProgress = None

    assert pb.throughput(NoProgress()) == {
        "input_rows_per_second": 0.0,
        "processed_rows_per_second": 0.0,
        "num_input_rows": 0.0,
    }


def test_csv_append_writer(spark, tmp_path):
    out = str(tmp_path / "out")
    df = spark.range(5).selectExpr("id", "id * 2 AS v")
    pb.write_csv_append(df, out)
    pb.write_csv_append(df, out)
    back = spark.read.option("header", True).csv(out)
    assert back.count() == 10


def test_stream_applies_na_sentinels_like_batch(spark, tmp_path):
    """A streamed file must parse identically to its batch read under
    the round-12 pandas NA-sentinel semantics: without the shared
    sentinel rewrite in stream_source, 'NA' stayed literal in streamed
    string columns while the batch readers NULL it."""
    d = str(tmp_path / "land")
    os.makedirs(d)
    with open(os.path.join(d, "vib_na.csv"), "w") as f:
        f.write(
            "channel1,channel2,user_ts\n"
            "1.5,NA,2020-01-01\n"
            "NA,x,null\n"
        )
    collected = []
    session = pb.PlaybackSession(
        spark, PlaybackConfig(csv_dir_name=d, csv_file_name="vib_na"), SCHEMA
    )
    q = session.start_async(
        lambda rows, bid: collected.extend(rows), available_now=True
    )
    q.awaitTermination()
    got = sorted(
        [tuple(r.readings.get(c) for c in ("channel1", "channel2", "user_ts"))
         for r in collected],
        key=repr,
    )
    # map drops NULL values? the envelope keeps keys present in the row;
    # sentinel cells must surface as missing/None, matching the batch
    # reader (read_pick_from_file) on the same file
    from fledge_south_csvplayback_spark.sources import csv_source as cs

    batch = cs.read_pick_from_file(
        spark, os.path.join(d, "vib_na.csv"), schema=SCHEMA
    )
    want = sorted(
        [(r.channel1, r.channel2, r.user_ts) for r in batch.collect()],
        key=repr,
    )
    assert got == want
