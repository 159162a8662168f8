"""Streaming corpus ingest — the curation maintenance loop as a
Structured Streaming pipeline.

The batch curation suite (``operators/curation.py``) answers "curate
THIS corpus"; a production corpus is never still: shards land
continuously and the pipeline that accepts them runs forever. This
module runs incremental acceptance — quality gate, then exact dedup
against everything accepted SO FAR, then within-batch keep-first — per
micro-batch via ``foreachBatch``, with the accepted-fingerprint set
persisted as the cross-batch state.

Design points (the 100 TB contract):

- **state is a table, not a state store**: the accepted-fingerprint
  set is parquet the anti-join reads per batch, exactly the persisted
  index pattern of ``dedup.build_neardup_index`` — unbounded streaming
  state stores are the wrong home for corpus-lifetime dedup state
  (``stream_dedup_exact`` covers the bounded-horizon variant; this is
  the forever variant).
- **idempotent replay**: every batch writes its outputs to
  ``ingest_batch=<id>`` subdirectories with overwrite, so a
  foreachBatch re-delivery after failure rewrites the same paths
  instead of appending duplicates — the standard exactly-once recipe
  for non-transactional sinks. The layout doubles as lineage: which
  ingest brought each document is a partition column.
- **ordering**: the keeper among copies is "first accepted batch wins,
  min doc_id within a batch" — arrival order, which is what an ingest
  pipeline means by keep-first. The set of accepted FINGERPRINTS is
  arrival-order-independent (each content hash is accepted exactly
  once), pinned by the stream==batch equivalence test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.utils import AnalysisException

from fledge_south_csvplayback_spark.operators import compaction
from fledge_south_csvplayback_spark.operators.curation import (
    _keep_first_per_fingerprint,
    _quality_cols,
)
from fledge_south_csvplayback_spark.operators.dedup import (
    _lsh_band_table,
    _neardup_probe,
    _shingled_docs,
    minhash_signatures,
)

DOCS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def shingles_table_dir(index_dir: str) -> str:
    """Resolve the CURRENT shingles table dir (versioned pointer once
    ``compact_text_neardup_batches`` has run; literal before)."""
    return compaction.table_dir(index_dir, "shingles")


def bands_table_dir(index_dir: str) -> str:
    """Resolve the CURRENT bands table dir (same pointer pattern)."""
    return compaction.table_dir(index_dir, "bands")


def df_table_dir(index_dir: str) -> str:
    """Resolve the CURRENT shingle-df table dir (same pointer pattern)."""
    return compaction.table_dir(index_dir, "shingle_df")


_DF_MANIFEST = compaction.manifest_name("shingle_df")


def compact_text_neardup_batches(
    spark: SparkSession, index_dir: str, horizon: int | None = None
) -> None:
    """Fold the shingles and bands tables' accepted batch partitions
    into their seed partitions (``ingest_batch=-1``) — the doc-row
    twins of ``compact_text_neardup_index``'s df fold, via the shared
    ``compaction.fold_ingest_partitions`` lifecycle (row-identical
    union, versioned dir + atomic manifest promote, ledger rescue,
    deferred sweep). After N micro-batches the per-batch probe lists
    N directories per table; folded, it reads one merged partition.

    HORIZON CONTRACT — stricter than the df fold's: a batch
    re-delivered after its shingle/band rows folded into the seed can
    no longer exclude itself, so it would probe against its own rows
    and duplicate every within-batch pair as a cross pair (a
    correctness error on re-delivery, not the df fold's cap bias).
    Enforce it by passing the stream's checkpoint horizon as
    ``horizon`` — batches at/past it are carried into the promoted
    version un-folded, identity intact, so a live stream can compact
    without downtime; ``horizon=None`` folds everything (only safe
    when no re-delivery can occur).
    """
    compaction.fold_ingest_partitions(
        spark, index_dir, "shingles", horizon=horizon
    )
    compaction.fold_ingest_partitions(spark, index_dir, "bands", horizon=horizon)


def seed_text_neardup_index(
    spark: SparkSession, docs: DataFrame, index_dir: str
) -> None:
    """Seed the streaming near-dup index from an existing corpus's
    documents frame: the three ``dedup.build_neardup_index`` tables
    (shingles / MinHash-LSH bands / per-shingle df), each written as
    partition ``ingest_batch=-1`` under a Hive-partitioned root so
    per-batch growth and the replay exclusion filter are partition
    pruning, not scans (the ``media_ingest`` layout)."""
    import os

    for stem in ("shingles", "bands", "shingle_df"):
        m = compaction.manifest_name(stem)
        if os.path.exists(os.path.join(index_dir, m)):
            # a stale manifest from a previously-compacted index would
            # shadow the literal seed dirs for every reader (the
            # media_ingest seed guard)
            raise ValueError(
                f"{index_dir} already holds a compacted near-dup index "
                f"({m} present); seed into a fresh directory"
            )
    _shingled_docs(docs).write.mode("overwrite").parquet(
        f"{index_dir}/shingles/ingest_batch=-1"
    )
    idx = spark.read.parquet(f"{index_dir}/shingles/ingest_batch=-1").select(
        "doc_id", F.explode("sh").alias("s")
    )
    _lsh_band_table(minhash_signatures(idx)).write.mode("overwrite").parquet(
        f"{index_dir}/bands/ingest_batch=-1"
    )
    idx.groupBy("s").agg(F.count(F.lit(1)).alias("df")).write.mode(
        "overwrite"
    ).parquet(f"{index_dir}/shingle_df/ingest_batch=-1")


def _sum_df(parts: DataFrame, _n_out: int) -> DataFrame:
    """The shingle-df fold merge: one row per shingle, its df summed
    over every folded partition (the aggregate's own exchange sizes
    the write)."""
    return parts.groupBy("s").agg(F.sum("df").alias("df"))


def compact_text_neardup_index(spark: SparkSession, index_dir: str) -> None:
    """Maintenance: fold every accepted shingle-df partition into the
    seed partition (``ingest_batch=-1``) so the per-batch probe's
    df re-sum — the one corpus-proportional step in ``_neardup_gate``
    — reads one pre-summed table instead of N partitions. The fold is
    ``compaction.fold_ingest_partitions`` with a per-shingle sum as
    its merge (versioned dir + atomic manifest promote, deferred
    sweep, ``_FOLDED``-ledger rescue of concurrent appends; the crash
    analysis lives there). Bands and shingles fold separately via
    ``compact_text_neardup_batches`` (a row union, with a stricter
    horizon contract since their lineage is what the exclusion filter
    targets); run both past the checkpoint horizon.

    Run it only for batch ids past the stream's checkpoint horizon: a
    batch re-delivered AFTER its df rows folded into the seed can no
    longer exclude its own df contribution, which over-counts its
    shingles toward SHINGLE_DF_CAP — the documented stricter-cap/
    near-cap-recall trade, never a correctness error on pairs already
    written.

    Two leftovers of the pre-manifest (pre-round-12) layout are
    recovered first: a df table renamed aside to ``shingle_df_retired``
    and never promoted back is restored, and a ``shingle_df_compacting``
    staging tree is removed."""
    import os
    import shutil

    cur = df_table_dir(index_dir)
    retired = f"{index_dir}/shingle_df_retired"
    if os.path.basename(cur) == "shingle_df" and os.path.exists(retired):
        if compaction.batch_parts(cur):
            shutil.rmtree(retired)
        else:
            if os.path.isdir(cur):
                os.rmdir(cur)
            os.rename(retired, cur)
    staging = f"{index_dir}/shingle_df_compacting"
    if os.path.exists(staging):
        shutil.rmtree(staging)
    compaction.fold_ingest_partitions(
        spark, index_dir, "shingle_df", merge=_sum_df
    )


def _neardup_gate(
    survivors: DataFrame, batch_id: int, index_dir: str, out_dir: str
) -> None:
    """Near-dup stage of the acceptance loop: probe the accepted docs
    of this batch against the persisted band index (EXCLUDING this
    batch's own partitions — replay safety, same argument as the
    fingerprint state read), write the introduced pairs, then append
    the batch's shingle/band/df rows as ``ingest_batch=<id>``
    partitions so the NEXT batch's probe sees them. The probe is
    ``dedup._neardup_probe`` — literally the batch miner's core, so
    stream and batch candidate/verification semantics cannot drift.

    Scale note: bands and shingles are probed via batch-broadcast
    semi-joins (corpus scanned, never shuffled); the one
    corpus-proportional step is re-summing the per-batch shingle-df
    partitions ((s, df) rows, two longs each) — compact the df
    partitions periodically if batch cadence makes that sum the
    bottleneck."""
    spark = survivors.sparkSession
    not_self = F.col("ingest_batch") != batch_id
    # resolve each live table ONCE per batch (manifest pointers): the
    # reads and the partition appends below must target one version
    sh_dir = shingles_table_dir(index_dir)
    bands_dir = bands_table_dir(index_dir)
    idx_sh = (
        spark.read.parquet(sh_dir)
        .filter(not_self)
        .drop("ingest_batch")
    )
    idx_bands = (
        spark.read.parquet(bands_dir)
        .filter(not_self)
        .drop("ingest_batch")
    )
    # resolve the live df table ONCE per batch (manifest pointer): the
    # read and the partition append below must target the same version
    df_dir = df_table_dir(index_dir)
    idx_df = (
        spark.read.parquet(df_dir)
        .filter(not_self)
        .groupBy("s")
        .agg(F.sum("df").alias("df"))
    )
    batch_docs = survivors.select("doc_id", "text")
    # the probe pins batch-sized frames in executor memory; a forever
    # stream must release them per batch or they accumulate — the
    # probe's `cached` contract. The SAME frames are the index rows to
    # append (shingles / band rows / per-shingle df), so acceptance
    # reuses them instead of shingling the batch a second time;
    # same-path overwrite keeps re-delivery idempotent.
    caches: dict = {}
    try:
        _neardup_probe(
            batch_docs, idx_bands, idx_sh, idx_df, cached=caches
        ).write.mode("overwrite").parquet(
            f"{out_dir}/neardup_pairs/ingest_batch={batch_id}"
        )
        caches["batch_sh"].write.mode("overwrite").parquet(
            f"{sh_dir}/ingest_batch={batch_id}"
        )
        caches["batch_bands"].write.mode("overwrite").parquet(
            f"{bands_dir}/ingest_batch={batch_id}"
        )
        caches["batch_df"].select(
            "s", F.col("bdf").alias("df")
        ).write.mode("overwrite").parquet(
            f"{df_dir}/ingest_batch={batch_id}"
        )
    finally:
        for frame in caches.values():
            frame.unpersist()


def accept_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    index_dir: str | None = None,
    benchmark: DataFrame | None = None,
) -> None:
    """The per-batch acceptance body (module-level so re-delivery is
    directly testable): quality gate → benchmark-decontamination gate
    (when ``benchmark`` is given) → anti-join vs every OTHER batch's
    accepted fingerprints → within-batch keep-first → write both
    outputs under ``ingest_batch=<id>`` with overwrite. With
    ``index_dir`` set, the accepted docs additionally run the near-dup
    gate (``_neardup_gate``): band-index probe for the pairs this
    batch introduces + index growth — exact duplicates alone can't
    catch a re-crawl that changed one sentence.

    The decontamination gate is ingest-time eval integrity: a doc
    sharing an n-gram window with the held-out benchmark never ENTERS
    the corpus (the batch-side ``corpus_decontaminate`` audits a
    corpus that already leaked; the right place to stop the leak is
    acceptance). The benchmark is eval-set-sized by contract, so the
    gate is the same broadcast gram join as ``contamination_flags``
    over one micro-batch — batch-sized work.

    The state read excludes THIS batch id: foreachBatch is
    at-least-once, and a re-delivery after the previous attempt
    committed its writes (but before the checkpoint recorded the
    batch) would otherwise anti-join the batch against its own
    fingerprints — emptying the replayed outputs instead of rewriting
    them. Pinned by the replay pytest."""
    from fledge_south_csvplayback_spark.operators.curation import (
        contamination_flags,
    )

    corpus_dir = f"{out_dir}/corpus"
    fps_dir = f"{out_dir}/fingerprints"
    q = _quality_cols(F.col("text"))
    passing = batch_df.filter(q["keep"]).withColumn(
        "fingerprint", F.md5(F.col("text"))
    )
    n_quality = passing.count()  # pre-anti-join: the quality-gate count
    n_contaminated = None
    # flags caches (benchmark grams + hit table) are per-batch state in
    # a stream: collect and release them with the survivors cache, or
    # they accumulate one pair of cached frames per micro-batch
    gate_caches: list = []
    if benchmark is not None:
        clean = contamination_flags(
            passing, benchmark, cached=gate_caches
        ).filter(~F.col("contaminated"))
        passing = passing.join(clean.select("doc_id"), "doc_id")
        n_contaminated = n_quality - passing.count()
    try:
        seen = (
            batch_df.sparkSession.read.parquet(fps_dir)
            .filter(F.col("ingest_batch") != batch_id)
            .select("fingerprint")
        )
        passing = passing.join(seen, "fingerprint", "left_anti")
    except AnalysisException as ex:
        # ONLY the no-state-yet case may pass; any other analysis
        # failure (corrupt state, schema drift, permissions) must
        # raise — silently proceeding would disable cross-batch dedup
        # and accept duplicates with no signal
        err = getattr(ex, "getErrorClass", lambda: None)() or str(ex)
        if "PATH_NOT_FOUND" not in err:
            raise
    # pin the column order: the anti-join (taken only when state
    # exists) moves its key first, so first-run and replay outputs
    # would otherwise commit different schemas for the same batch
    survivors = _keep_first_per_fingerprint(passing).select(
        *batch_df.columns, "fingerprint"
    )
    # one computation, two sinks: without the persist the full accept
    # pipeline (state scan + anti-join + keeper window) would execute
    # once per write
    survivors.persist()
    try:
        survivors.write.mode("overwrite").parquet(
            f"{corpus_dir}/ingest_batch={batch_id}"
        )
        survivors.select("fingerprint").write.mode("overwrite").parquet(
            f"{fps_dir}/ingest_batch={batch_id}"
        )
        if index_dir is not None:
            _neardup_gate(survivors, batch_id, index_dir, out_dir)
        # per-batch acceptance counters — the streaming counterpart of
        # the playback engine's A4 throughput counters, written as a
        # one-row lineage partition so the replay overwrite rule holds
        # for metrics too; counts the pipeline already materialized
        # (survivors is persisted, the batch scan is one extra pass)
        spark = batch_df.sparkSession
        n_input = batch_df.count()
        n_accepted = survivors.count()
        n_pairs = (
            spark.read.parquet(
                f"{out_dir}/neardup_pairs/ingest_batch={batch_id}"
            ).count()
            if index_dir is not None
            else None
        )
        from fledge_south_csvplayback_spark.operators.inline import (
            literal_rows_df,
        )

        literal_rows_df(
            spark,
            [(n_input, n_quality, n_contaminated, n_accepted, n_pairs)],
            "n_input long, n_quality_pass long, n_contaminated long, "
            "n_accepted long, n_neardup_pairs long",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{out_dir}/metrics/ingest_batch={batch_id}"
        )
    finally:
        survivors.unpersist()
        for frame in gate_caches:
            frame.unpersist()


def stream_curate_corpus(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: str = DOCS_SCHEMA,
    max_files_per_trigger: int = 1,
    index_dir: str | None = None,
    benchmark: DataFrame | None = None,
) -> StreamingQuery:
    """Start the ingest stream over a landing directory of parquet
    shards; returns the query (``availableNow`` trigger — drains what
    exists and stops, the batch-job-shaped run the tests drive; drop
    the trigger for a forever pipeline). Outputs under ``out_dir``:

    - ``corpus/ingest_batch=N/``: accepted documents of batch N
      (quality-passing, corpus-unique), with ``fingerprint``;
    - ``fingerprints/ingest_batch=N/``: their content hashes — the
      state the next batch's anti-join reads;
    - with ``index_dir`` (seeded via ``seed_text_neardup_index``):
      ``neardup_pairs/ingest_batch=N/`` — the near-dup pairs batch N
      introduced against everything accepted before it and within
      itself, with the batch's shingle/band/df rows appended to the
      index as partition N.
    """
    def _accept(batch_df: DataFrame, batch_id: int) -> None:
        accept_batch(
            batch_df,
            batch_id,
            out_dir,
            index_dir=index_dir,
            benchmark=benchmark,
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
