"""Streaming playback (SURVEY.md §2.10 ST1-ST7, sinks S7-S10).

The reference's core runtime is a rate-controlled producer/consumer
pair over chunked pandas iterators (reference csvplayback.py:787-930).
Structured Streaming replaces the whole apparatus:

- ST1 micro-batching: file-source ``readStream`` capped at
  ``MAX_BYTES_PER_TRIGGER`` bytes per trigger. ``foreachBatch`` numbers
  each row by its position in its file and cuts every file into
  ``chunk_size``-row bursts, a file's last burst possibly short — the
  reference's ``read_csv(chunksize=...)`` (csvplayback.py:294-318,574).
  The chunk queue, producer thread and sentinel protocol
  (csvplayback.py:787-867) disappear; one micro-batch may hold many
  bursts, and its offset log entry records which files it admitted.
- ST2 pacing: ``Trigger.ProcessingTime(burst_interval)`` admits the
  files; inside a trigger burst *b* is handed out at its stamp, the
  sleep-to-deadline loop (csvplayback.py:928-930). AvailableNow drains
  hand bursts out back to back.
- ST3 burst vs continuous: burst *b* of a trigger is stamped
  ``anchor + b * period`` (T2); continuous adds ``i * floor(1e6/n)``
  microseconds for row *i* of the burst (T1). The session carries the
  next free stamp, so a later trigger never reuses or precedes an
  earlier one.
- ST4 backpressure: the byte cap bounds what one trigger admits; the
  poll adapter's bounded queue reproduces the reference's 3-chunk cap
  (MAX_QUEUE_CHUNK_CAPACITY, csvplayback.py:787), counted in bursts.
- ST5/ST9: ``stop()`` / ``Trigger.AvailableNow`` termination; ``stop()``
  ends a paced wait at once and drops the running trigger's bursts not
  yet handed out.
- ST6 reconfigure=restart: stop, rebuild from a new config, start —
  ``restart()`` below (csvplayback.py:336-353).
- ST7 replay (continue_playing): no native stream replay; a driver
  loop re-runs an AvailableNow pass per iteration (csvplayback.py:
  442-447,832-834).
- S9 file lifecycle: ``cleanSource`` delete/archive ≈ the reference's
  delete/rename post-process (csvplayback.py:828-863). Spark cleans a
  micro-batch's files when it plans the next one, so with a lifecycle
  the source admits one file per trigger instead of the byte cap.
- S7 poll sink: bounded-queue adapter; ``poll()`` returns one burst of
  readings per call like ``plugin_poll`` (csvplayback.py:423-474).
- S8 async sink: ``foreachBatch`` invoking a registered callback once
  per burst ≈ ``async_ingest.ingest_callback`` (csvplayback.py:
  907-912). The trigger reaches the driver as one ``toArrow()`` table;
  each burst becomes a list of ``Row(asset, timestamp, readings)``.
- S10 CSV append writer: ``write.mode('append').csv`` (the ETL tool's
  chunked append, process_csv_data.py:76,81).
"""

from __future__ import annotations

import queue
import threading
import time
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import _create_row

from fledge_south_csvplayback_spark.config import IngestMode, PlaybackConfig
from fledge_south_csvplayback_spark.operators import readings as env
from fledge_south_csvplayback_spark.sources import csv_source

MAX_QUEUE_CHUNK_CAPACITY = 3  # reference bounded buffer, csvplayback.py:787
# CSV bytes one trigger admits (maxBytesPerTrigger; a larger file is
# still admitted whole; one file per trigger with a cleanSource). The
# driver holds one trigger's Arrow table and one burst's Rows at a time,
# so this cap bounds playback driver memory.
MAX_BYTES_PER_TRIGGER = 64 << 20
# where each row sits in its file: the file, and the start of the split
# (partition) that read it
_POSITION = ("_file", "_block")
_POSITION_SQL = ("_metadata.file_path AS _file", "_metadata.file_block_start AS _block")
_ROW_FIELDS = ["asset", "timestamp", "readings"]


def stream_source(
    spark: SparkSession,
    cfg: PlaybackConfig,
    schema: str,
    clean_source: str | None = None,
    archive_dir: str | None = None,
) -> DataFrame:
    """File-source readStream over the config's directory + pattern (S1),
    with each row's ``_file`` and ``_block`` for the burst cut (ST1).

    Directory watching, alphabetical pick-up, and decompression are
    native to the file source; ``cleanSource`` covers the delete/rename
    post-process (S9).
    """
    pattern = f"*{cfg.csv_file_name}*.csv" if cfg.csv_file_name else "*.csv"
    reader = spark.readStream.schema(schema).option("header", True).option("escape", '"')
    if clean_source:
        # Spark cleans a micro-batch's files only when it plans the next
        # micro-batch, so a drain admitted in one trigger would clean
        # none: with a file lifecycle the source admits one file per
        # trigger, and every file but the last one is cleaned
        reader = reader.option("maxFilesPerTrigger", 1).option("cleanSource", clean_source)
        if clean_source == "archive":
            reader = reader.option("sourceArchiveDir", archive_dir)
    else:
        reader = reader.option("maxBytesPerTrigger", MAX_BYTES_PER_TRIGGER)
    # same pandas NA-sentinel semantics as the batch readers (round 12):
    # without this a streamed file diverged from its batch read on
    # string columns ('NA' stayed literal)
    return csv_source.null_na_sentinels(
        reader.csv(f"{cfg.resolve_csv_dir()}/{pattern}")
    ).selectExpr("*", *_POSITION_SQL)


def _period_us(cfg: PlaybackConfig) -> int:
    """Stamp distance of consecutive bursts: the burst interval, or one
    second for a continuous chunk (a second's worth of rows, T1)."""
    if cfg.ingest_mode is IngestMode.BURST:
        return round(cfg.period_s * 1_000_000)
    return 1_000_000


def stamp_batch(df: DataFrame, cfg: PlaybackConfig, anchor: str | None = None) -> DataFrame:
    """Stamp a file-source frame the way one playback trigger stamps it
    (ST3), in SQL.

    Files are cut into ``chunk_size``-row bursts in file order; burst
    *b* of the frame is stamped ``anchor + b * period`` (T2), and in
    continuous mode row *i* of a burst gets ``i * floor(1e6/n)``
    microseconds more (T1). ``df`` must read ``_metadata`` (a file
    source). The anchor defaults to now() — pass one for deterministic
    tests.
    """
    if anchor is None:
        anchor = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
    n = cfg.chunk_size
    offset = f"(dense_rank() OVER (ORDER BY _file, _row div {n}) - 1) * {_period_us(cfg)}"
    if cfg.ingest_mode is IngestMode.CONTINUOUS:
        offset += f" + (_row % {n}) * {1_000_000 // n}"
    # a split's rows keep their read order inside one partition, so
    # (split start, per-partition id) orders a file over several partitions
    return (
        df.selectExpr("*", *_POSITION_SQL, "monotonically_increasing_id() AS _mid")
        .selectExpr(
            "*", "row_number() OVER (PARTITION BY _file ORDER BY _block, _mid) - 1 AS _row"
        )
        .selectExpr(
            "*", f"timestampadd(MICROSECOND, {offset}, TIMESTAMP '{anchor}') AS timestamp"
        )
        .drop("_file", "_block", "_mid", "_row")
    )


def to_envelope(df: DataFrame, cfg: PlaybackConfig) -> DataFrame:
    return env.build_envelope(df, asset=cfg.asset_name)


def _stamp_strings(us: np.ndarray) -> list[str]:
    """UTC microsecond stamps as Spark casts a timestamp to string: the
    fraction without trailing zeros, none for a whole second."""
    text = np.datetime_as_string(us.astype("datetime64[us]")).tolist()
    return [t.replace("T", " ").rstrip("0").rstrip(".") for t in text]


def _burst_rows(tbl, stamps: list[str]) -> list:
    """One burst's Arrow slice as ``Row(asset, timestamp, readings)``s,
    equal to what ``collect()`` returns for the same envelope."""
    readings = tbl.column("readings").combine_chunks()
    offsets = readings.offsets.to_numpy().tolist()
    keys = readings.keys.to_numpy(zero_copy_only=False).tolist()
    items = readings.items.to_numpy(zero_copy_only=False).tolist()
    return [
        _create_row(_ROW_FIELDS, (asset, ts, dict(zip(keys[a:b], items[a:b]))))
        for asset, ts, a, b in zip(
            tbl.column("asset").to_numpy(zero_copy_only=False).tolist(),
            stamps,
            offsets,
            offsets[1:],
        )
    ]


@dataclass
class _Batch:
    batch_id: int
    rows: list


class PlaybackSession:
    """One playback run: source -> bursts -> stamp -> envelope -> sink."""

    def __init__(
        self,
        spark: SparkSession,
        cfg: PlaybackConfig,
        schema: str,
        clean_source: str | None = None,
        archive_dir: str | None = None,
    ) -> None:
        self.spark = spark
        self.cfg = cfg
        self.schema = schema
        self.clean_source = clean_source
        self.archive_dir = archive_dir
        self.query: StreamingQuery | None = None
        # first stamp a later burst may take (ST3); carried across
        # triggers and restarts
        self._next_stamp_us = 0
        # set by stop(): ends a paced wait and drops the bursts of the
        # running trigger that are not handed out yet
        self._stopping = threading.Event()
        # S7 poll adapter: bounded like the reference's readings queue
        self._poll_queue: queue.Queue[_Batch] = queue.Queue(
            maxsize=MAX_QUEUE_CHUNK_CAPACITY
        )

    def _play(self, tbl, callback, batch_id: int, paced: bool) -> None:
        """Cut one trigger's table into bursts, stamp them, and hand each
        to ``callback`` — at its stamp when ``paced``."""
        cfg = self.cfg
        n, period = cfg.chunk_size, _period_us(cfg)
        # file order: a split's rows keep their read order inside one
        # partition, so (split start, per-partition id) orders a file
        # read by several partitions
        tbl = tbl.sort_by([(c, "ascending") for c in ("_file", "_block", "_mid")])
        files = tbl.column("_file").to_numpy(zero_copy_only=False)
        first = np.flatnonzero(np.r_[True, files[1:] != files[:-1]])
        # row position in its file; a burst starts wherever it is 0 mod n
        row = np.arange(tbl.num_rows) - np.repeat(first, np.diff(np.r_[first, tbl.num_rows]))
        starts = np.flatnonzero(row % n == 0).tolist()
        # now in whole seconds, like the reference's T1 chunk anchor
        anchor = max(int(time.time()) * 1_000_000, self._next_stamp_us)
        self._next_stamp_us = anchor + len(starts) * period
        step = 1_000_000 // n if cfg.ingest_mode is IngestMode.CONTINUOUS else 0
        for b, (lo, hi) in enumerate(zip(starts, starts[1:] + [tbl.num_rows])):
            stamp = anchor + b * period
            if self._stopping.wait(max(0.0, stamp / 1e6 - time.time()) if paced else 0):
                return
            if step:
                stamps = _stamp_strings(stamp + step * np.arange(hi - lo, dtype=np.int64))
            else:
                stamps = _stamp_strings(np.array([stamp])) * (hi - lo)
            callback(_burst_rows(tbl.slice(lo, hi - lo), stamps), batch_id)

    # -- S8: async ingest callback -------------------------------------
    def start_async(self, callback, available_now: bool = False) -> StreamingQuery:
        """foreachBatch sink: ``callback(rows, batch_id)`` once per burst.

        Several bursts may share one micro-batch, and so one
        ``batch_id``. A processingTime stream hands each burst out at
        its stamp; an AvailableNow drain hands them out back to back.
        After ``stop()`` no further burst is handed out.
        """
        cfg = self.cfg
        self._stopping.clear()
        src = stream_source(
            self.spark, cfg, self.schema, self.clean_source, self.archive_dir
        )
        # the envelope minus its timestamp, planned once per stream
        src = src.select(
            F.lit(cfg.asset_name).alias("asset"),
            env.readings_map(src, exclude=("timestamp", *_POSITION)).alias("readings"),
            *_POSITION,
        )

        def handle(batch_df: DataFrame, batch_id: int) -> None:
            tbl = batch_df.selectExpr("*", "monotonically_increasing_id() AS _mid").toArrow()
            self._play(tbl, callback, batch_id, not available_now)

        writer = src.writeStream.foreachBatch(handle)
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(
                processingTime=f"{cfg.burst_interval_ms} milliseconds"
            )
        self.query = writer.start()
        return self.query

    # -- S7: poll handoff ----------------------------------------------
    def start_polling(self, available_now: bool = True) -> StreamingQuery:
        def enqueue(rows: list, batch_id: int) -> None:
            # blocks at cap (ST4) until poll() takes a burst or stop()
            while not self._stopping.is_set():
                try:
                    return self._poll_queue.put(_Batch(batch_id, rows), timeout=0.1)
                except queue.Full:
                    pass

        return self.start_async(enqueue, available_now=available_now)

    def poll(self, timeout_s: float = 10.0):
        """One burst of readings per call, None when drained (ST9)."""
        while True:
            try:
                return self._poll_queue.get(timeout=0.1).rows
            except queue.Empty:
                q = self.query
                if q is None or not q.isActive:
                    return None
                timeout_s -= 0.1
                if timeout_s <= 0:
                    return None

    # -- ST5/ST6 --------------------------------------------------------
    def stop(self) -> None:
        """Stop the query without waiting out the running trigger's
        remaining bursts: they are dropped."""
        self._stopping.set()
        if self.query is not None and self.query.isActive:
            self.query.stop()

    def restart(self, cfg: PlaybackConfig, callback) -> StreamingQuery:
        """Reconfigure = stop, rebuild, start (csvplayback.py:336-353)."""
        self.stop()
        self.cfg = cfg
        return self.start_async(callback)


# -- ST7: replay loop --------------------------------------------------------
def replay(
    spark: SparkSession,
    cfg: PlaybackConfig,
    schema: str,
    callback,
    n_loops: int,
) -> int:
    """continue_playing: drain the directory n_loops times.

    Each pass is an AvailableNow stream with a fresh (unmanaged)
    checkpoint, so the same files replay — the Spark rendering of the
    reference's re-created file iterator at EOF.
    """
    total = 0

    def counting(rows: list, batch_id: int) -> None:
        nonlocal total
        total += len(rows)
        callback(rows, batch_id)

    for _ in range(n_loops):
        session = PlaybackSession(spark, cfg, schema)
        q = session.start_async(counting, available_now=True)
        q.awaitTermination()
    return total


# -- A4: throughput counters --------------------------------------------------
def throughput(query: StreamingQuery) -> dict[str, float]:
    """Readings/sec from the engine's own progress telemetry — the
    reference's TIME_IT counters (csvplayback.py:908-922) for free."""
    p = query.lastProgress or {}
    return {
        "input_rows_per_second": float(p.get("inputRowsPerSecond") or 0.0),
        "processed_rows_per_second": float(p.get("processedRowsPerSecond") or 0.0),
        "num_input_rows": float(p.get("numInputRows") or 0.0),
    }


# -- S10: CSV append writer ---------------------------------------------------
def write_csv_append(df: DataFrame, path: str, header: bool = True) -> None:
    """Append-mode CSV write (the ETL tool's chunked append sink).

    Spark writes one header per output file; jobs append whole
    directories instead of re-opening a single file — same contract at
    the dataset level. escape='"' pins RFC4180 doubled-quote output
    (pandas to_csv style) so written files round-trip through this
    package's readers — Spark's default backslash escaping does not
    (round-12 find: a value containing a quote came back corrupted).
    """
    df.write.mode("append").option("header", header).option("escape", '"').csv(path)
