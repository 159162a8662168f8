"""Streaming playback (SURVEY.md §2.10 ST1-ST7, sinks S7-S10).

The reference's core runtime is a rate-controlled producer/consumer
pair over chunked pandas iterators (reference csvplayback.py:787-930).
Structured Streaming replaces the whole apparatus:

- ST1 micro-batching: file-source ``readStream`` with
  ``maxFilesPerTrigger`` — the chunk queue, producer thread, and
  sentinel protocol (csvplayback.py:787-867) disappear.
- ST2 pacing: ``Trigger.ProcessingTime(burst_interval)`` is the
  sleep-to-deadline loop (csvplayback.py:928-930).
- ST3 burst vs continuous: burst stamps every batch row with one
  wall-clock timestamp (T2); continuous spreads the batch across its
  anchor second (T1). Spark emits micro-batches either way — what
  downstream sees is the timestamps, which is exactly the reference's
  observable behavior (SURVEY.md §7 'what's hard' #3).
- ST4 backpressure: ``maxFilesPerTrigger`` bounds in-flight work; the
  poll adapter's bounded queue reproduces the reference's 3-chunk cap
  (MAX_QUEUE_CHUNK_CAPACITY, csvplayback.py:787).
- ST5/ST9: ``query.stop()`` / ``Trigger.AvailableNow`` termination.
- ST6 reconfigure=restart: stop, rebuild from a new config, start —
  ``restart()`` below (csvplayback.py:336-353).
- ST7 replay (continue_playing): no native stream replay; a driver
  loop re-runs an AvailableNow pass per iteration (csvplayback.py:
  442-447,832-834).
- S9 file lifecycle: ``cleanSource`` delete/archive ≈ the reference's
  delete/rename post-process (csvplayback.py:828-863).
- S7 poll sink: bounded-queue adapter; ``poll()`` returns one batch of
  readings per call like ``plugin_poll`` (csvplayback.py:423-474).
- S8 async sink: ``foreachBatch`` invoking a registered callback ≈
  ``async_ingest.ingest_callback`` (csvplayback.py:907-912).
- S10 CSV append writer: ``write.mode('append').csv`` (the ETL tool's
  chunked append, process_csv_data.py:76,81).
"""

from __future__ import annotations

import queue
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from fledge_south_csvplayback_spark.config import IngestMode, PlaybackConfig
from fledge_south_csvplayback_spark.operators import readings as env
from fledge_south_csvplayback_spark.sources import csv_source

MAX_QUEUE_CHUNK_CAPACITY = 3  # reference bounded buffer, csvplayback.py:787


def stream_source(
    spark: SparkSession,
    cfg: PlaybackConfig,
    schema: str,
    clean_source: str | None = None,
    archive_dir: str | None = None,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-source readStream over the config's directory + pattern (S1).

    Directory watching, alphabetical pick-up, and decompression are
    native to the file source; ``cleanSource`` covers the delete/rename
    post-process (S9).
    """
    pattern = f"*{cfg.csv_file_name}*.csv" if cfg.csv_file_name else "*.csv"
    reader = (
        spark.readStream.schema(schema)
        .option("header", True)
        .option("escape", '"')
        .option("maxFilesPerTrigger", max_files_per_trigger)
    )
    if clean_source:
        reader = reader.option("cleanSource", clean_source)
        if clean_source == "archive":
            reader = reader.option("sourceArchiveDir", archive_dir)
    # same pandas NA-sentinel semantics as the batch readers (round 12):
    # without this a streamed file diverged from its batch read on
    # string columns ('NA' stayed literal)
    return csv_source.null_na_sentinels(
        reader.csv(f"{cfg.resolve_csv_dir()}/{pattern}")
    )


def stamp_batch(df: DataFrame, cfg: PlaybackConfig, anchor: str | None = None) -> DataFrame:
    """Apply the configured timestamp style to one micro-batch (ST3).

    Burst: one wall-clock stamp for the whole batch (T2). Continuous:
    rows spread evenly across the anchor second (T1) by batch-local
    row number. The anchor defaults to now() — pass one for
    deterministic tests.
    """
    if anchor is None:
        anchor = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
    if cfg.ingest_mode is IngestMode.BURST:
        return df.withColumn("timestamp", F.lit(anchor).cast("timestamp"))
    n = cfg.chunk_size
    step_us = 1_000_000 // n
    # Batch-local spreading id: the low 33 bits of
    # monotonically_increasing_id are a per-partition 0-based sequence
    # that RESTARTS per partition — used alone, a multi-partition batch
    # would cluster every partition's rows near the anchor instead of
    # spreading across the second. Each partition therefore starts at
    # its own offset: 0 for partition 0 (a single-partition batch walks
    # the second consecutively, unchanged semantics), xxhash64(pid) % n
    # for the rest — a hashed offset cannot ALIGN for every partition,
    # which equal strides do whenever pid*stride ≡ 0 (mod n) (e.g.
    # stride = n//defaultParallelism degenerates to stride=n on
    # local[1], putting every partition back at the anchor — the
    # original bug). All without the per-trigger driver round-trip a
    # global row number costs (with_global_row_number collect()s
    # partition counts; at high trigger rates that's driver chatter per
    # micro-batch). Exact global positions stay with the oracle-checked
    # batch T1 operator (timestamps.current_time_continuous).
    pid = F.spark_partition_id()
    offset = F.when(pid == 0, F.lit(0).cast("long")).otherwise(
        F.pmod(F.xxhash64(pid), F.lit(n)).cast("long")
    )
    numbered = df.withColumn(
        "_k",
        F.monotonically_increasing_id().bitwiseAND((1 << 33) - 1) + offset,
    )
    return numbered.withColumn(
        "timestamp",
        F.expr(
            f"timestampadd(MICROSECOND, (_k % {n}) * {step_us}, "
            f"TIMESTAMP '{anchor}')"
        ),
    ).drop("_k")


def to_envelope(df: DataFrame, cfg: PlaybackConfig) -> DataFrame:
    return env.build_envelope(df, asset=cfg.asset_name)


@dataclass
class _Batch:
    batch_id: int
    rows: list


class PlaybackSession:
    """One playback run: source -> stamp -> envelope -> sink."""

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
        # S7 poll adapter: bounded like the reference's readings queue
        self._poll_queue: queue.Queue[_Batch] = queue.Queue(
            maxsize=MAX_QUEUE_CHUNK_CAPACITY
        )

    # -- S8: async ingest callback -------------------------------------
    def start_async(self, callback, available_now: bool = False) -> StreamingQuery:
        """foreachBatch sink: callback(list_of_reading_rows, batch_id)."""
        cfg = self.cfg
        src = stream_source(
            self.spark, cfg, self.schema, self.clean_source, self.archive_dir
        )

        def handle(batch_df: DataFrame, batch_id: int) -> None:
            out = to_envelope(stamp_batch(batch_df, cfg), cfg)
            callback(out.collect(), batch_id)

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
            self._poll_queue.put(_Batch(batch_id, rows))  # blocks at cap (ST4)

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
