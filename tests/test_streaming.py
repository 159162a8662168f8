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
    # chunk_size is 8000: each 2000-row file plays as one short burst
    assert got == [2000, 2000]


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


def _land(d, name: str, rows: int) -> None:
    """A vib CSV whose channel1 is the row's position in the file."""
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "w") as f:
        f.write("channel1,channel2,user_ts\n")
        f.writelines(f"{i},{name},x\n" for i in range(rows))


def _bursts(spark, cfg):
    got = []
    session = pb.PlaybackSession(spark, cfg, SCHEMA)
    q = session.start_async(lambda rows, bid: got.append(rows), available_now=True)
    q.awaitTermination()
    return got


def _stamp_us(ts: str) -> int:
    from datetime import datetime, timezone

    fmt = "%Y-%m-%d %H:%M:%S.%f" if "." in ts else "%Y-%m-%d %H:%M:%S"
    t = datetime.strptime(ts, fmt).replace(tzinfo=timezone.utc)
    return round(t.timestamp() * 1_000_000)


@pytest.fixture
def small_splits(spark):
    """Split every file into ~16 KB partitions for the test's duration."""
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "16k")
    yield
    spark.conf.set(key, old)


def test_file_plays_as_chunk_size_bursts(spark, tmp_path):
    """ST1: a 20k-row file plays as 8000, 8000 and 4000-row bursts, each
    with one stamp, period_s apart, rows in file order (the reference's
    read_csv(chunksize=...), csvplayback.py:294-318,574)."""
    d = str(tmp_path / "land")
    _land(d, "vib_a.csv", 20_000)
    cfg = _cfg(d)
    assert cfg.chunk_size == 8000
    got = _bursts(spark, cfg)
    assert [len(b) for b in got] == [8000, 8000, 4000]
    stamps = []
    for burst in got:
        assert len({r.timestamp for r in burst}) == 1
        stamps.append(_stamp_us(burst[0].timestamp))
    period_us = round(cfg.period_s * 1_000_000)
    assert [b - a for a, b in zip(stamps, stamps[1:])] == [period_us] * 2
    rows = [int(r.readings["channel1"]) for burst in got for r in burst]
    assert rows == list(range(20_000))


def test_split_file_bursts_keep_row_order(spark, tmp_path, small_splits):
    """A two-file micro-batch whose first file spans several partitions
    still plays file by file, in row order."""
    d = str(tmp_path / "land")
    _land(d, "vib_a.csv", 20_000)
    _land(d, "vib_b.csv", 3_000)
    parts = spark.read.csv(os.path.join(d, "vib_a.csv")).rdd.getNumPartitions()
    assert parts > 2
    got = _bursts(spark, _cfg(d))
    assert [len(b) for b in got] == [8000, 8000, 4000, 3000]
    order = [
        (r.readings["channel2"], int(r.readings["channel1"]))
        for burst in got
        for r in burst
    ]
    assert order == [("vib_a.csv", i) for i in range(20_000)] + [
        ("vib_b.csv", i) for i in range(3_000)
    ]


def test_poll_queue_counts_bursts(spark, tmp_path):
    """S7/ST4: the bounded poll queue holds bursts, not files."""
    d = str(tmp_path / "land")
    _land(d, "vib_a.csv", 20_000)
    session = pb.PlaybackSession(spark, _cfg(d), SCHEMA)
    session.start_polling(available_now=True)
    sizes = []
    while (batch := session.poll()) is not None:
        sizes.append(len(batch))
    assert sizes == [8000, 8000, 4000]  # chunk_size 8000


def test_continuous_bursts_sit_on_exact_t1_slots(spark, tmp_path, small_splits):
    """T1: row i of a continuous burst of n rows sits at its burst's
    anchor + i * floor(1e6/n) microseconds, and burst b's anchor is the
    first one's + b seconds, whether the file is read in one partition
    or several. Checked on ``stamp_batch`` (SQL) and on the stream
    (driver-side stamps) alike."""
    n = 2000
    d = str(tmp_path / "land")
    _land(d, "vib_a.csv", 5_000)
    cfg = _cfg(d, ingest_mode=IngestMode.CONTINUOUS, sample_rate=n)
    step = 1_000_000 // n
    expected = [(k // n) * 1_000_000 + (k % n) * step for k in range(5_000)]

    df = spark.read.schema(SCHEMA).option("header", True).csv(d)
    assert df.rdd.getNumPartitions() > 1
    stamped = pb.stamp_batch(df, cfg, anchor="2020-01-01 00:00:00")
    got = sorted(
        stamped.selectExpr(
            "CAST(channel1 AS INT)",
            "unix_micros(timestamp) - unix_micros(TIMESTAMP '2020-01-01 00:00:00')",
        ).collect()
    )
    assert [us for _, us in got] == expected

    bursts = _bursts(spark, cfg)
    assert [len(b) for b in bursts] == [2000, 2000, 1000]
    rows = [r for b in bursts for r in b]
    first = _stamp_us(rows[0].timestamp)
    assert [_stamp_us(r.timestamp) - first for r in rows] == expected


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


def test_clean_source_archive_moves_streamed_files(spark, tmp_path):
    """S9 in a processingTime stream: a file landed after the first one
    is a later micro-batch, whose planning archives the first file."""
    import time

    src = tmp_path / "incoming"
    src.mkdir()
    first, second = sorted(os.listdir(FIXTURE_MULTI))

    def land(name: str) -> None:
        shutil.copy(os.path.join(FIXTURE_MULTI, name), src / (name + ".tmp"))
        os.rename(src / (name + ".tmp"), src / name)  # never a half file

    def wait_for(pred) -> None:
        for _ in range(120):
            if pred():
                return
            time.sleep(0.5)

    archive = tmp_path / "done"
    got: list[int] = []
    session = pb.PlaybackSession(
        spark,
        _cfg(str(src)),
        SCHEMA,
        clean_source="archive",
        archive_dir=str(archive),
    )
    land(first)
    session.start_async(lambda rows, bid: got.append(len(rows)))
    try:
        wait_for(lambda: got)
        land(second)
        # archival is asynchronous maintenance work; allow it to settle
        wait_for(lambda: not (src / first).exists())
    finally:
        session.stop()
    archived = [p.name for p in archive.rglob("*.csv")] if archive.exists() else []
    assert not (src / first).exists(), "cleanSource=archive should relocate consumed files"
    assert first in archived


def _stop_within(session, seconds: float) -> None:
    """Call session.stop() on a thread; fail instead of hanging if it
    takes longer than ``seconds``."""
    import threading

    stopper = threading.Thread(target=session.stop, daemon=True)
    stopper.start()
    stopper.join(seconds)
    assert not stopper.is_alive(), f"stop() still running after {seconds} s"


def test_stop_ends_a_paced_trigger(spark, tmp_path):
    """ST5: a processingTime trigger of several bursts sleeps until each
    burst's stamp; stop() ends that wait at once and no further burst
    reaches the callback."""
    import time

    d = str(tmp_path / "land")
    _land(d, "vib_a.csv", 20_000)
    cfg = _cfg(d, burst_interval_ms=5000, sample_rate=1000)
    assert (cfg.chunk_size, cfg.period_s) == (5000, 5.0)  # 4 bursts, 5 s apart
    got: list[int] = []
    session = pb.PlaybackSession(spark, cfg, SCHEMA)
    session.start_async(lambda rows, bid: got.append(len(rows)))
    for _ in range(120):
        if got:
            break
        time.sleep(0.25)
    assert got == [5000]
    _stop_within(session, cfg.period_s)
    time.sleep(0.5)
    assert got == [5000]


def test_stop_releases_a_full_poll_queue(spark, tmp_path):
    """ST4/ST5: a trigger blocked on the full poll queue does not hold
    stop() up."""
    import time

    d = str(tmp_path / "land")
    _land(d, "vib_a.csv", 5_000)
    cfg = _cfg(d, sample_rate=1000)
    assert cfg.chunk_size == 1000  # 5 bursts against a queue of 3
    session = pb.PlaybackSession(spark, cfg, SCHEMA)
    session.start_polling(available_now=True)
    for _ in range(120):
        if session._poll_queue.full():
            break
        time.sleep(0.25)
    assert session._poll_queue.full()
    _stop_within(session, 10.0)


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
