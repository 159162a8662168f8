"""Small-files compaction: fewer files, same data, target sizing."""

from __future__ import annotations

from pyspark.sql import functions as F

from fledge_south_csvplayback_spark.operators import compaction
from tests.conftest import TEST_SF_DIR


def test_compaction_reduces_files_preserves_rows(spark, tmp_path):
    src = str(tmp_path / "fragmented")
    out = str(tmp_path / "compacted")
    docs = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet")
    docs.repartition(64).write.parquet(src)  # 64 tiny files

    import os

    n_in = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert n_in >= 32
    n_out = compaction.compact_parquet(spark, src, out)
    assert n_out < n_in / 8  # actually compacted
    # same data, row-for-row
    a = sorted(tuple(r) for r in docs.collect())
    b = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert a == b


def test_compaction_target_sizing(spark, tmp_path):
    """Output file count tracks ceil(input_bytes / target): a tiny
    target forces multiple files, a huge one forces a single file."""
    src = str(tmp_path / "src")
    docs = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet")
    docs.repartition(16).write.parquet(src)

    one = compaction.compact_parquet(
        spark, src, str(tmp_path / "one"), target_bytes=1 << 40
    )
    assert one == 1
    many = compaction.compact_parquet(
        spark, src, str(tmp_path / "many"), target_bytes=16 * 1024
    )
    assert many > 1


def test_compaction_preserves_hive_partitioning(spark, tmp_path):
    """Regression (round-5 review finding): compacting a
    partitionBy layout must PRESERVE it — flattening silently costs
    every downstream reader its partition pruning — and must not
    explode into n×|values| fragments (the pre-write repartition keys
    on the partition columns)."""
    import os

    src = str(tmp_path / "part_src")
    out = str(tmp_path / "part_out")
    docs = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet")
    docs.repartition(16).write.partitionBy("lang").parquet(src)
    assert compaction.partition_cols(src) == ["lang"]

    compaction.compact_parquet(spark, src, out)
    langs = {d for d in os.listdir(out) if d.startswith("lang=")}
    assert langs == {
        f"lang={r.lang}" for r in docs.select("lang").distinct().collect()
    }
    # one file per partition value (keyed repartition), not fragments
    for d in langs:
        files = [
            f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")
        ]
        assert len(files) == 1, (d, files)
    # pruning works on the compacted layout
    plan = (
        spark.read.parquet(out)
        .filter("lang = 'en'")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan
    # same rows
    a = sorted(tuple(r) for r in docs.select("doc_id", "lang").collect())
    b = sorted(
        tuple(r)
        for r in spark.read.parquet(out).select("doc_id", "lang").collect()
    )
    assert a == b


def test_compaction_rejects_remote_uri_and_missing_path(tmp_path):
    """The local-FS sizing walkers must fail loudly on paths they
    cannot see (a remote URI silently sized at 0 bytes used to degrade
    to repartition(1) with a flattened layout)."""
    import pytest

    for bad in ("s3://bucket/data", "hdfs://nn/data", str(tmp_path / "nope")):
        with pytest.raises(ValueError):
            compaction.input_bytes(bad)
        with pytest.raises(ValueError):
            compaction.partition_cols(bad)


def _leaf_bytes(src, leaf):
    import os

    d = os.path.join(src, leaf)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for f in os.listdir(d)
        if f.endswith(".parquet")
    )


def test_compaction_splits_oversized_partition_value(spark, tmp_path):
    """target_bytes must apply INSIDE a hive layout: a partition value
    bigger than the target splits into multiple ~target files via the
    writer's maxRecordsPerFile bound (a salt hashed into the task
    count collides and under-splits — review finding), while small
    values keep one file each."""
    import os

    src = str(tmp_path / "skew_src")
    out = str(tmp_path / "skew_out")
    docs = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet")
    # make one value ('big') carry ~32x the data of the others
    skewed = docs.withColumn(
        "part",
        (F.col("doc_id") % 32 == 0).cast("string"),
    ).withColumn(
        "part", F.when(F.col("part") == "true", F.lit("small")).otherwise("big")
    )
    skewed.repartition(8).write.partitionBy("part").parquet(src)

    big_bytes = _leaf_bytes(src, "part=big")
    target = big_bytes // 4  # 'big' should split into ~4-5 files
    assert _leaf_bytes(src, "part=small") <= target  # 'small' stays single-file

    compaction.compact_parquet(spark, src, out, target_bytes=target)
    big_files = [
        f for f in os.listdir(os.path.join(out, "part=big"))
        if f.endswith(".parquet")
    ]
    small_files = [
        f for f in os.listdir(os.path.join(out, "part=small"))
        if f.endswith(".parquet")
    ]
    assert len(big_files) >= 3, big_files
    assert len(small_files) == 1, small_files
    # same rows, no salt column in the output schema
    assert spark.read.parquet(out).columns == spark.read.parquet(src).columns
    a = sorted(tuple(r) for r in spark.read.parquet(src).collect())
    b = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert a == b


def test_fold_horizon_carries_live_batches_unfolded(spark, tmp_path):
    """fold_ingest_partitions(horizon=H) — the checkpoint-horizon
    contract as an enforceable API (round-14 advice item): batches
    with id < H fold into the seed, batches >= H are CARRIED into the
    promoted version with their ingest_batch identity intact (so a
    re-delivered batch still excludes its own rows), the promoted
    version is row-identical to the old one, and a fold with nothing
    below the horizon is a no-op that keeps the current version."""
    import os

    idx = str(tmp_path / "idx")
    tbl = os.path.join(idx, "bands")

    def _rows(batch, lo, n):
        return [(i, f"b{batch}") for i in range(lo, lo + n)]

    for batch, lo in ((-1, 0), (0, 100), (1, 200), (2, 300)):
        spark.createDataFrame(
            _rows(batch, lo, 10), "doc_id long, payload string"
        ).write.parquet(f"{tbl}/ingest_batch={batch}")

    all_rows = {
        tuple(r)
        for r in spark.read.parquet(tbl)
        .select("doc_id", "payload", "ingest_batch")
        .collect()
    }

    cur = compaction.fold_ingest_partitions(spark, idx, "bands", horizon=2)
    assert os.path.basename(cur) == "bands.v1"
    parts = compaction.batch_parts(cur)
    # 0 and 1 folded into the seed; 2 carried, identity intact
    assert parts == {"ingest_batch=-1", "ingest_batch=2"}
    got = {
        tuple(r)
        for r in spark.read.parquet(cur)
        .select("doc_id", "payload", "ingest_batch")
        .collect()
    }
    # every row survives; folded rows now carry the seed's batch id
    assert {(d, p) for d, p, _b in got} == {(d, p) for d, p, _b in all_rows}
    assert {b for _d, _p, b in got} == {-1, 2}
    carried = {(d, p) for d, p, b in got if b == 2}
    assert carried == {(i, "b2") for i in range(300, 310)}
    # the ledger records exactly what the seed absorbed — batch 2 is
    # absent, so a later sweep can never mistake it for folded
    assert compaction.read_folded(cur) == {
        "ingest_batch=-1",
        "ingest_batch=0",
        "ingest_batch=1",
    }

    # nothing below the horizon left: no-op, same version kept
    again = compaction.fold_ingest_partitions(spark, idx, "bands", horizon=2)
    assert again == cur
    assert os.path.basename(
        compaction.manifest_resolve(idx, "bands_MANIFEST", "bands")
    ) == "bands.v1"

    # raising the horizon folds the carried batch
    final = compaction.fold_ingest_partitions(spark, idx, "bands", horizon=3)
    assert os.path.basename(final) == "bands.v2"
    assert compaction.batch_parts(final) == {"ingest_batch=-1"}
    got2 = {
        (r.doc_id, r.payload)
        for r in spark.read.parquet(final).collect()
    }
    assert got2 == {(d, p) for d, p, _b in all_rows}


def test_fold_sum_merge_with_horizon(spark, tmp_path):
    """The aggregating merge (the shingle-df per-shingle sum) under a
    horizon: batches below it fold into ONE summed row per shingle in
    the seed, batches at/past it are carried with their ingest_batch
    identity and rows untouched, and the ledger lists exactly the
    folded partitions."""
    import os

    from fledge_south_csvplayback_spark.streaming.corpus_ingest import _sum_df

    idx = str(tmp_path / "idx")
    tbl = os.path.join(idx, "shingle_df")
    batches = {
        -1: [(1, 5), (2, 1)],
        0: [(1, 2), (3, 4)],
        1: [(2, 7), (3, 1)],
        2: [(1, 9), (4, 6)],
    }
    for batch, rows in batches.items():
        spark.createDataFrame(rows, "s long, df long").write.parquet(
            f"{tbl}/ingest_batch={batch}"
        )

    cur = compaction.fold_ingest_partitions(
        spark, idx, "shingle_df", horizon=2, merge=_sum_df
    )
    assert os.path.basename(cur) == "shingle_df.v1"
    assert compaction.batch_parts(cur) == {"ingest_batch=-1", "ingest_batch=2"}
    seed = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{cur}/ingest_batch=-1")
        .select("s", "df")
        .collect()
    )
    # one row per shingle, df summed over batches -1, 0 and 1
    assert seed == [(1, 7), (2, 8), (3, 5)]
    carried = sorted(
        (r.s, r.df)
        for r in spark.read.parquet(cur)
        .filter(F.col("ingest_batch") == 2)
        .collect()
    )
    assert carried == [(1, 9), (4, 6)]
    assert compaction.read_folded(cur) == {
        "ingest_batch=-1",
        "ingest_batch=0",
        "ingest_batch=1",
    }


def test_fragmentation_stats_and_trigger(spark, tmp_path):
    """fragmentation_stats measures the per-partition file-open bound;
    needs_compaction fires only on genuine fragmentation (round 15 —
    the bm25_liststress schedule made enforceable)."""
    from fledge_south_csvplayback_spark.operators import compaction as C
    from pyspark.sql import functions as F

    d = str(tmp_path / "frag")
    # 2 partitions, many tiny files in one of them
    df = spark.range(200).select(
        (F.col("id") % 2).alias("p"), F.col("id").alias("v")
    )
    df.repartition(20).write.partitionBy("p").parquet(d)
    s = C.fragmentation_stats(d)
    assert s["n_partition_dirs"] == 2
    assert s["n_files"] >= 20
    wf, wb = s["worst_partition"]
    assert wf >= 10 and wb > 0
    # tiny threshold: fragmented (files far exceed bytes/target at 128MB)
    assert C.needs_compaction(d, max_files_per_partition=4)
    # generous threshold: not fragmented
    assert not C.needs_compaction(d, max_files_per_partition=1000)
    # a right-sized layout never triggers, whatever the threshold says
    d2 = str(tmp_path / "sized")
    df.coalesce(1).write.partitionBy("p").parquet(d2)
    assert not C.needs_compaction(d2, max_files_per_partition=0)
    # empty layout
    d3 = str(tmp_path / "empty")
    import os
    os.makedirs(d3)
    assert C.fragmentation_stats(d3)["n_files"] == 0
    assert not C.needs_compaction(d3)
