"""Streaming media near-dup ingest — the band-index lifecycle as a
Structured Streaming pipeline.

The batch miner (``multimodal.image_neardup_pairs``) answers "mine
THIS corpus"; a production pipeline accepts fingerprint shards
continuously. This module runs incremental ingest per micro-batch via
``foreachBatch``: new hashes probe
the persisted band index (cross pairs), mine within themselves, and —
once accepted — their band rows become index state the NEXT batch
probes.

Design points (shared with ``corpus_ingest``, the text-side loop):

- **state is a table, not a state store**: the band index is parquet
  the probe scans per batch (semi-pruned by the broadcast key set —
  ``multimodal._probe_pairs``); corpus-lifetime near-dup state does
  not belong in a streaming state store.
- **idempotent replay**: both outputs of batch N — the pair rows AND
  the batch's band rows — land under ``ingest_batch=N`` directories
  with overwrite, and the index read EXCLUDES the current batch id:
  foreachBatch is at-least-once, and a re-delivery whose previous
  attempt already committed its band rows would otherwise probe the
  batch against itself, duplicating every within-batch pair as a
  cross pair. Pinned by the replay pytest.
- **the index layout is Hive-partitioned by ingest_batch** (the seed
  corpus is ``ingest_batch=-1``), so the exclusion filter is partition
  pruning, not a scan-and-filter, and "which ingest contributed this
  band row" is lineage the maintenance ops can target.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from fledge_south_csvplayback_spark.operators import compaction
from fledge_south_csvplayback_spark.operators.multimodal import (
    IMG_BANDS,
    IMG_BLOCK_M,
    IMG_MAX_HAMMING,
    _band_keys,
    _check_block_bound,
    _probe_pairs,
)

HASHES_SCHEMA = "doc_id long, dhash string"


def media_bands_dir(index_dir: str) -> str:
    """Resolve the CURRENT band-table directory (the shared
    versioned-pointer pattern, ``compaction.table_dir``): the literal
    ``bands`` path until a ``compact_media_index`` has promoted a
    version."""
    return compaction.table_dir(index_dir, "bands")


def compact_media_index(
    spark: SparkSession, index_dir: str, horizon: int | None = None
) -> None:
    """Maintenance: fold every accepted band partition into the seed
    partition (``ingest_batch=-1``) so the per-batch probe reads ONE
    pre-merged table instead of N per-batch directories, via the
    shared ``compaction.fold_ingest_partitions`` lifecycle
    (versioned-dir + atomic-manifest promote, deferred sweep, and
    ``_FOLDED``-ledger rescue of concurrent appends; its docstring
    holds the crash analysis). Band rows are plain rows, so the fold
    is a union, not an aggregation, and the folded table is
    row-identical to the partitioned one.

    HORIZON CONTRACT (stricter than the text df compactor's): run it
    only for batch ids past the stream's checkpoint horizon. A batch
    re-delivered AFTER its band rows folded into the seed can no
    longer exclude its own rows (`ingest_batch != id` prunes nothing
    from the seed), so its within-batch pairs would duplicate as
    cross pairs — a CORRECTNESS error on re-delivery, not the text
    compactor's mere cap bias. Past the horizon, re-delivery cannot
    happen and the fold is observationally identical (pinned in
    tests: post-compact batch pairs == unfolded-index batch pairs).
    Enforceable since round 15: pass the stream's checkpoint horizon
    as ``horizon`` and batches at/past it are carried into the
    promoted version un-folded, identity intact — a live stream can
    compact without downtime. ``horizon=None`` folds everything.
    """
    compaction.fold_ingest_partitions(spark, index_dir, "bands", horizon=horizon)


def seed_media_index(
    spark: SparkSession,
    st: DataFrame,
    index_dir: str,
    hash_col: str = "dhash",
    n_bands: int = IMG_BANDS,
    m: int = IMG_BLOCK_M,
) -> None:
    """Seed the streaming band index from an existing corpus's hash
    frame: geometry meta + the corpus band rows as partition
    ``ingest_batch=-1`` (the same ``_band_keys`` layout the batch
    builder writes, under the stream's Hive-partitioned root)."""
    import os

    manifest = compaction.manifest_name("bands")
    if os.path.exists(os.path.join(index_dir, manifest)):
        # a stale manifest from a previously-compacted index would
        # shadow the literal seed dir for every reader — re-seeding a
        # compacted index is a fresh-directory job, fail loudly
        raise ValueError(
            f"{index_dir} already holds a compacted media index "
            "(bands_MANIFEST present); seed into a fresh directory"
        )
    _band_keys(st, hash_col, n_bands, m).write.mode("overwrite").parquet(
        f"{index_dir}/bands/ingest_batch=-1"
    )
    from fledge_south_csvplayback_spark.operators.inline import (
        literal_rows_df,
    )

    literal_rows_df(
        spark, [(hash_col, n_bands, m)], "hash_col string, n_bands int, m int"
    ).write.mode("overwrite").parquet(f"{index_dir}/meta")


def media_accept_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    out_dir: str,
    max_hamming: int = IMG_MAX_HAMMING,
    per_doc_min: bool = False,
) -> None:
    """The per-batch acceptance body (module-level so re-delivery is
    directly testable): explode the batch's band keys once → probe
    the index EXCLUDING this batch's own partition → write the pairs
    and the batch's band rows under ``ingest_batch=<id>`` with
    overwrite. ``per_doc_min`` applies the batch op's multi-
    fingerprint semantics (video frames, any source emitting several
    hash rows per doc): pairs collapse to doc level by min-Hamming —
    without it a doc pair matched by several frame pairs lands as
    several rows and downstream consumers double-count."""
    spark = batch_df.sparkSession
    meta = spark.read.parquet(f"{index_dir}/meta").collect()[0]
    _check_block_bound(meta.n_bands, meta.m, max_hamming)
    batch_keys = _band_keys(
        batch_df.select("doc_id", meta.hash_col),
        meta.hash_col,
        meta.n_bands,
        meta.m,
    ).cache()
    # resolve the live band table ONCE per batch (manifest pointer):
    # the probe read and the partition append below must target the
    # same version (the corpus_ingest df-table rule)
    bands_dir = media_bands_dir(index_dir)
    try:
        idx = spark.read.parquet(bands_dir).filter(
            F.col("ingest_batch") != batch_id
        )
        pairs = _probe_pairs(
            idx.drop("ingest_batch"),
            batch_keys,
            meta.hash_col,
            meta.n_bands,
            max_hamming,
        )
        if per_doc_min:
            pairs = pairs.groupBy("doc_a", "doc_b").agg(
                F.min("hamming").cast("int").alias("hamming")
            )
        pairs.write.mode("overwrite").parquet(
            f"{out_dir}/pairs/ingest_batch={batch_id}"
        )
        # acceptance: the batch's band rows become next batches' state;
        # same-path overwrite keeps re-delivery idempotent
        batch_keys.write.mode("overwrite").parquet(
            f"{bands_dir}/ingest_batch={batch_id}"
        )
        # per-batch counters under the same lineage/overwrite layout
        # (the corpus_ingest metrics convention)
        from fledge_south_csvplayback_spark.operators.inline import (
            literal_rows_df,
        )

        literal_rows_df(
            spark,
            [
                (
                    batch_df.count(),
                    spark.read.parquet(
                        f"{out_dir}/pairs/ingest_batch={batch_id}"
                    ).count(),
                )
            ],
            "n_input long, n_pairs long",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{out_dir}/metrics/ingest_batch={batch_id}"
        )
    finally:
        batch_keys.unpersist()


def stream_media_neardup(
    spark: SparkSession,
    src_dir: str,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_hamming: int = IMG_MAX_HAMMING,
    schema: str = HASHES_SCHEMA,
    max_files_per_trigger: int = 1,
    per_doc_min: bool = False,
) -> StreamingQuery:
    """Start the near-dup acceptance stream over a landing directory
    of (doc_id, <hash>) parquet shards; the index must have been
    seeded (``seed_media_index``). ``availableNow`` trigger — drains
    what exists and stops (drop it for a forever pipeline). Outputs:

    - ``out_dir/pairs/ingest_batch=N/``: the near-dup pairs batch N
      introduced — against everything accepted before it, and within
      itself;
    - ``index_dir/bands/ingest_batch=N/``: the batch's band rows —
      the state the next batch probes.
    """

    def _accept(batch_df: DataFrame, batch_id: int) -> None:
        media_accept_batch(
            batch_df, batch_id, index_dir, out_dir, max_hamming,
            per_doc_min,
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )
    return (
        stream.writeStream.foreachBatch(_accept)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
