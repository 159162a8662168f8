"""Playback configuration.

Re-expresses the reference plugin's config category (the 20 keys of
``_DEFAULT_CONFIG``, reference csvplayback.py:53-236) as a validated
dataclass, including the ``plugin_init`` range/enum/dependency checks
(csvplayback.py:272-292) and the period/chunk-size derivation
(csvplayback.py:294-318).

In the Spark design the derived numbers map onto Structured Streaming
knobs instead of pandas chunk iterators:

- ``chunk_size``  -> rows per burst, cut per file inside a byte-capped
  micro-batch (streaming/playback.py)
- ``period_s``    -> ``Trigger.ProcessingTime`` interval
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from enum import Enum


class HeaderMethod(str, Enum):
    SKIP_ROWS = "skip_rows"
    PASS_IN_DATAPOINT = "pass_in_datapoint"
    DO_NOT_SKIP = "do_not_skip"


class ColumnMethod(str, Enum):
    EXPLICIT = "explicit"
    PICK_FROM_FILE = "pick_from_file"


class IngestMode(str, Enum):
    BURST = "burst"
    CONTINUOUS = "continuous"


class TimestampStyle(str, Enum):
    CURRENT_TIME = "current time"
    COPY_CSV_VALUE = "copy csv value"
    MOVE_CSV_VALUE = "move csv value"
    USE_CSV_SAMPLE_DELTA = "use csv sample delta"


class NaNPolicy(str, Enum):
    IGNORE = "ignore"
    REPORT = "report"


class PostProcessMethod(str, Enum):
    CONTINUE_PLAYING = "continue_playing"
    DELETE = "delete"
    RENAME = "rename"


MAX_SAMPLE_RATE = 1_000_000  # reference ceiling, csvplayback.py:166,275-277


class ConfigError(ValueError):
    """Equivalent of the reference's plugin_init RuntimeError on bad config."""


@dataclass
class PlaybackConfig:
    """All user-facing knobs of the playback engine.

    Field names are snake_case versions of the reference config keys
    (csvplayback.py:53-236); defaults match the reference defaults.
    """

    asset_name: str = "vibration"
    csv_dir_name: str = "FLEDGE_DATA"
    csv_file_name: str = ""  # substring pattern, not exact name
    header_method: HeaderMethod = HeaderMethod.DO_NOT_SKIP
    data_point_for_combine: str = "metadata"
    no_of_rows: int = 1
    variable_cols: bool = False
    column_method: ColumnMethod = ColumnMethod.PICK_FROM_FILE
    auto_generate_prefix: str = "column"
    use_columns: str = ""
    row_index_for_column_names: int = 0
    ingest_mode: IngestMode = IngestMode.BURST
    sample_rate: int = 8000
    burst_interval_ms: int = 1000
    timestamp_style: TimestampStyle = TimestampStyle.CURRENT_TIME
    timestamp_col: str = ""
    timestamp_format: str = "%Y-%m-%d %H:%M:%S.%f%z"
    ignore_nan: NaNPolicy = NaNPolicy.IGNORE
    post_process_method: PostProcessMethod = PostProcessMethod.CONTINUE_PLAYING
    suffix_name: str = ".tmp"

    # derived (plugin_init equivalents), filled by __post_init__
    period_s: float = field(init=False, default=1.0)
    chunk_size: int = field(init=False, default=8000)

    def __post_init__(self) -> None:
        self.validate()
        self.period_s, self.chunk_size = self._derive_pacing()

    # -- validation: mirrors csvplayback.py:272-292 --------------------
    def validate(self) -> None:
        errors: list[str] = []
        if not (1 <= self.sample_rate <= MAX_SAMPLE_RATE):
            errors.append("sampleRate should be in range 1-1000000")
        if self.burst_interval_ms < 1:
            errors.append("burstInterval should not be less than 1")
        if self.no_of_rows < 1:
            errors.append("noOfRows should be >= 1")
        if self.row_index_for_column_names < 0:
            errors.append("rowIndexForColumnNames should be >= 0")
        if self.timestamp_style in (
            TimestampStyle.COPY_CSV_VALUE,
            TimestampStyle.MOVE_CSV_VALUE,
            TimestampStyle.USE_CSV_SAMPLE_DELTA,
        ) and (not self.timestamp_col or not self.timestamp_format):
            errors.append(
                "timestamp column and timestamp format must be specified "
                "for historic/delta timestamp styles"
            )
        if (
            self.timestamp_style is not TimestampStyle.CURRENT_TIME
            and self.ingest_mode is IngestMode.BURST
        ):
            errors.append(
                "historic and delta timestamps are only used in continuous mode"
            )
        if errors:
            raise ConfigError("; ".join(errors))

    # -- pacing math: mirrors csvplayback.py:294-318 --------------------
    def _derive_pacing(self) -> tuple[float, int]:
        if self.ingest_mode is IngestMode.BURST:
            # one burst's worth of rows, played period apart
            period = round(
                self.burst_interval_ms / 1000.0, len(str(self.burst_interval_ms)) + 1
            )
            recs = int(period * self.sample_rate) if not self.variable_cols else 1
        else:
            # one second's worth of rows, emitted over per-row periods
            recs = self.sample_rate if not self.variable_cols else 1
            period = round(1.0 / recs, len(str(recs)) + 1)
        return period, max(recs, 1)

    # -- path resolution: mirrors csvplayback.py:488-494 (S2) -----------
    def resolve_csv_dir(self) -> str:
        d = self.csv_dir_name
        if d.startswith("FLEDGE_DATA"):
            fledge_root = os.environ.get("FLEDGE_ROOT", "/usr/local/fledge")
            fledge_data = os.environ.get("FLEDGE_DATA", f"{fledge_root}/data")
            d = d.replace("FLEDGE_DATA", fledge_data, 1)
        return d
