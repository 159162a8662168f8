"""Streaming corpus ingest: stream==batch equivalence, cross-batch
dedup state, idempotent replay layout."""

from __future__ import annotations

from pyspark.sql import functions as F

from fledge_south_csvplayback_spark.operators import compaction, curation
from fledge_south_csvplayback_spark.streaming import corpus_ingest as CI
from tests.conftest import TEST_SF_DIR


def _run(spark, tmp_path, n_chunks=4):
    src = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    docs = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet")
    docs.repartition(n_chunks).write.parquet(src)
    q = CI.stream_curate_corpus(spark, src, out, ckpt)
    q.awaitTermination()
    return out, docs


def test_stream_ingest_equals_batch_pipeline(spark, tmp_path):
    """The accepted corpus == the batch quality∘exact-dedup pipeline,
    modulo keeper identity: accepted FINGERPRINT set and row count are
    arrival-order-independent and must match the batch keeper set
    exactly; every accepted doc passes quality; no fingerprint is
    accepted twice across batches."""
    out, docs = _run(spark, tmp_path)
    got = spark.read.parquet(f"{out}/corpus")

    keep = curation.quality_filter(spark, TEST_SF_DIR).filter(F.col("keep"))
    batch_keepers = curation._keep_first_per_fingerprint(
        docs.join(keep.select("doc_id"), "doc_id")
    )
    want_fps = {r.fingerprint for r in batch_keepers.collect()}
    got_fps = [r.fingerprint for r in got.select("fingerprint").collect()]
    assert set(got_fps) == want_fps
    assert len(got_fps) == len(want_fps)  # no fingerprint accepted twice
    # every accepted doc passes the quality gate
    kept_ids = {r.doc_id for r in keep.collect()}
    assert {r.doc_id for r in got.collect()} <= kept_ids
    # state table mirrors the corpus
    fps_state = {
        r.fingerprint
        for r in spark.read.parquet(f"{out}/fingerprints").collect()
    }
    assert fps_state == want_fps


def test_stream_ingest_batches_partition_lineage(spark, tmp_path):
    """Outputs land under ingest_batch=N (the idempotent-replay and
    lineage layout), with more than one batch actually exercised."""
    import os

    out, _ = _run(spark, tmp_path, n_chunks=4)
    batches = {
        d
        for d in os.listdir(f"{out}/corpus")
        if d.startswith("ingest_batch=")
    }
    assert len(batches) >= 2, batches
    # reading with partition discovery exposes the lineage column
    got = spark.read.parquet(f"{out}/corpus")
    assert "ingest_batch" in got.columns


def test_stream_ingest_resume_processes_only_new_files(spark, tmp_path):
    """Restarting the stream with the same checkpoint after new shards
    land processes ONLY the new files, and cross-run dedup state still
    applies (a duplicate of an already-accepted doc is rejected)."""
    src = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    docs = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet")
    docs.coalesce(1).write.parquet(src)
    CI.stream_curate_corpus(spark, src, out, ckpt).awaitTermination()
    n_first = spark.read.parquet(f"{out}/corpus").count()

    # land one new shard: a fresh quality-passing doc + a dup of doc 0
    base = docs.orderBy("doc_id").limit(1).collect()[0]
    new = spark.createDataFrame(
        [
            (990001, " ".join(f"fresh{i:02d}" for i in range(30)), "en", "web", 0),
            (990002, base.text, base.lang, base.source, base.n_chars),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    new.coalesce(1).write.mode("append").parquet(src)
    CI.stream_curate_corpus(spark, src, out, ckpt).awaitTermination()
    after = spark.read.parquet(f"{out}/corpus")
    assert after.count() == n_first + 1  # fresh accepted, dup rejected
    assert after.filter(F.col("doc_id") == 990001).count() == 1
    assert after.filter(F.col("doc_id") == 990002).count() == 0


def test_accept_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-delivering a batch AFTER its
    previous attempt committed both writes (the crash-before-
    checkpoint window) must rewrite identical outputs — review
    finding: the state read used to include the batch's own
    fingerprints, so the replay anti-joined itself away and OVERWROTE
    the batch with empty data."""
    docs = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet").limit(50)
    out = str(tmp_path / "out")
    CI.accept_batch(docs, 0, out)
    first = sorted(
        tuple(r) for r in spark.read.parquet(f"{out}/corpus").collect()
    )
    assert first  # something was accepted
    CI.accept_batch(docs, 0, out)  # re-delivery of the SAME batch id
    replayed = sorted(
        tuple(r) for r in spark.read.parquet(f"{out}/corpus").collect()
    )
    assert replayed == first
    # and a genuinely NEW batch still dedups against batch 0's state
    CI.accept_batch(docs, 1, out)
    b1 = spark.read.parquet(f"{out}/corpus").filter("ingest_batch = 1")
    assert b1.count() == 0  # all fingerprints already accepted


# --- near-dup gate (round-11: the media_ingest pattern on the text side) -----
def _nd_text(i, flip=None):
    """30 unique tokens salted by doc id; ``flip`` replaces the last
    token, making a near-dup (one trigram differs: jaccard 27/29)."""
    toks = [f"w{i:03d}x{j:02d}" for j in range(30)]
    if flip is not None:
        toks[-1] = f"flip{flip}"
    return " ".join(toks)


def _nd_fixture(spark):
    """Corpus [0,60) + shards [60,80) and [80,100) with planted cross-
    and within-shard near-dups (same shapes as the media fixture)."""
    texts = {i: _nd_text(i) for i in range(100)}
    texts[70] = _nd_text(5, flip=1)   # corpus x shard1 (near-dup of 5)
    texts[5] = _nd_text(5)
    texts[75] = _nd_text(71, flip=2)  # within shard1 (near-dup of 71)
    texts[85] = _nd_text(5, flip=3)   # shard1 x shard2 (near-dup of 5 AND 70)
    texts[99] = _nd_text(8, flip=4)   # corpus x shard2 (near-dup of 8)

    def frame(lo, hi):
        return spark.createDataFrame(
            [(i, texts[i], "en", "web", len(texts[i])) for i in range(lo, hi)],
            CI.DOCS_SCHEMA,
        )

    return frame(0, 60), [frame(60, 80), frame(80, 100)], texts


def test_stream_text_neardup_matches_full_miner(spark, tmp_path):
    """The union of per-batch neardup_pairs outputs == the full
    dedup_minhash_lsh miner over the whole (seed + accepted) corpus,
    restricted to pairs touching a streamed doc — including the
    shard1 x shard2 pair that exists only because shard1's acceptance
    grew the index."""
    import os

    from fledge_south_csvplayback_spark.operators import dedup

    corpus, shards, texts = _nd_fixture(spark)
    src = str(tmp_path / "landing")
    idx = str(tmp_path / "index")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    for k, sh in enumerate(shards):
        sh.coalesce(1).write.mode("append" if k else "overwrite").parquet(src)
    CI.seed_text_neardup_index(spark, corpus, idx)
    CI.stream_curate_corpus(
        spark, src, out, ckpt, index_dir=idx
    ).awaitTermination()

    batches = {
        d
        for d in os.listdir(f"{out}/neardup_pairs")
        if d.startswith("ingest_batch=")
    }
    assert len(batches) == 2
    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in spark.read.parquet(f"{out}/neardup_pairs").collect()
    }

    # full miner over the combined corpus (all docs are quality-passing
    # and exact-unique, so accepted == streamed)
    combined = str(tmp_path / "combined")
    corpus.unionByName(shards[0]).unionByName(shards[1]).write.parquet(
        f"{combined}/documents.parquet"
    )
    full = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.dedup_minhash_lsh(spark, combined).collect()
    }
    want = {p for p in full if p[0] >= 60 or p[1] >= 60}
    assert got == want
    # the planted shapes all surfaced, incl. the cross-shard pair
    got_ids = {(a, b) for a, b, _ in got}
    assert {(5, 70), (71, 75), (70, 85), (8, 99)} <= got_ids
    # index state grew: seed partition + one per accepted batch
    for table in ("bands", "shingles", "shingle_df"):
        parts = {
            d
            for d in os.listdir(f"{idx}/{table}")
            if d.startswith("ingest_batch=")
        }
        assert parts == {
            "ingest_batch=-1",
            "ingest_batch=0",
            "ingest_batch=1",
        }, (table, parts)


def test_text_neardup_gate_replay_idempotent(spark, tmp_path):
    """Re-delivering a batch whose previous attempt already committed
    its index partitions must rewrite IDENTICAL pair rows: the index
    reads exclude the batch's own partitions, so a replayed batch
    never probes itself (which would duplicate every within-batch
    pair as a cross pair)."""
    corpus, shards, _ = _nd_fixture(spark)
    idx = str(tmp_path / "index")
    out = str(tmp_path / "out")
    CI.seed_text_neardup_index(spark, corpus, idx)
    CI.accept_batch(shards[0], 0, out, index_dir=idx)
    first = sorted(
        tuple(r)
        for r in spark.read.parquet(
            f"{out}/neardup_pairs/ingest_batch=0"
        ).collect()
    )
    assert first  # the within-shard and corpus-cross plants surfaced
    CI.accept_batch(shards[0], 0, out, index_dir=idx)  # re-delivery
    replayed = sorted(
        tuple(r)
        for r in spark.read.parquet(
            f"{out}/neardup_pairs/ingest_batch=0"
        ).collect()
    )
    assert replayed == first


def test_compact_text_neardup_index_preserves_next_batch_pairs(
    spark, tmp_path
):
    """Compacting the shingle-df partitions between batches must not
    change what the NEXT batch mines: run shard1 on two identical
    index copies, compact one, accept shard2 on both — identical pair
    rows; and the compacted df table is a single seed partition whose
    per-shingle totals equal the uncompacted sum."""
    import os
    import shutil

    from pyspark.sql import functions as F

    corpus, shards, _ = _nd_fixture(spark)
    idx_a = str(tmp_path / "idx_a")
    idx_b = str(tmp_path / "idx_b")
    out_a = str(tmp_path / "out_a")
    out_b = str(tmp_path / "out_b")
    CI.seed_text_neardup_index(spark, corpus, idx_a)
    CI.accept_batch(shards[0], 0, out_a, index_dir=idx_a)
    shutil.copytree(idx_a, idx_b)

    CI.compact_text_neardup_index(spark, idx_b)
    df_b = CI.df_table_dir(idx_b)
    parts = {
        d for d in os.listdir(df_b) if d.startswith("ingest_batch=")
    }
    assert parts == {"ingest_batch=-1"}
    tot_a = {
        r.s: r.t
        for r in spark.read.parquet(f"{idx_a}/shingle_df")
        .groupBy("s")
        .agg(F.sum("df").alias("t"))
        .collect()
    }
    tot_b = {
        r.s: r.t
        for r in spark.read.parquet(df_b).select(
            "s", F.col("df").alias("t")
        ).collect()
    }
    assert tot_a == tot_b

    CI.accept_batch(shards[1], 1, out_a, index_dir=idx_a)
    CI.accept_batch(shards[1], 1, out_b, index_dir=idx_b)
    pairs_a = sorted(
        tuple(r)
        for r in spark.read.parquet(
            f"{out_a}/neardup_pairs/ingest_batch=1"
        ).collect()
    )
    pairs_b = sorted(
        tuple(r)
        for r in spark.read.parquet(
            f"{out_b}/neardup_pairs/ingest_batch=1"
        ).collect()
    )
    assert pairs_a and pairs_a == pairs_b


def test_compact_text_neardup_batches_fold_is_invisible(spark, tmp_path):
    """Round 14: folding the shingles and bands batch partitions into
    their seeds (compact_text_neardup_batches, the media compactor's
    text twin) must not change what the NEXT batch mines — identical
    pair rows over folded and unfolded copies — while each folded
    table becomes ONE row-identical seed partition; post-fold appends
    land in the promoted dirs and the next fold sweeps the superseded
    literals one cycle deferred. Also pins the re-seed guard."""
    import os
    import shutil

    import pytest

    corpus, shards, _ = _nd_fixture(spark)
    idx_a = str(tmp_path / "fidx_a")
    idx_b = str(tmp_path / "fidx_b")
    out_a = str(tmp_path / "fout_a")
    out_b = str(tmp_path / "fout_b")
    CI.seed_text_neardup_index(spark, corpus, idx_a)
    CI.accept_batch(shards[0], 0, out_a, index_dir=idx_a)
    shutil.copytree(idx_a, idx_b)

    def rows(d, cols):
        return {tuple(r) for r in spark.read.parquet(d).select(*cols).collect()}

    sh_before = rows(CI.shingles_table_dir(idx_b), ["doc_id"])
    bd_before = rows(CI.bands_table_dir(idx_b), ["doc_id", "band", "key"])
    CI.compact_text_neardup_batches(spark, idx_b)
    for resolve, literal in (
        (CI.shingles_table_dir, "shingles"),
        (CI.bands_table_dir, "bands"),
    ):
        cur = resolve(idx_b)
        assert os.path.basename(cur) == f"{literal}.v1"
        parts = {d for d in os.listdir(cur) if d.startswith("ingest_batch=")}
        assert parts == {"ingest_batch=-1"}
        assert os.path.isdir(f"{idx_b}/{literal}")  # deferred one cycle
    assert rows(CI.shingles_table_dir(idx_b), ["doc_id"]) == sh_before
    assert rows(CI.bands_table_dir(idx_b), ["doc_id", "band", "key"]) == bd_before

    CI.accept_batch(shards[1], 1, out_a, index_dir=idx_a)
    CI.accept_batch(shards[1], 1, out_b, index_dir=idx_b)
    pairs_a = sorted(
        tuple(r)
        for r in spark.read.parquet(
            f"{out_a}/neardup_pairs/ingest_batch=1"
        ).collect()
    )
    pairs_b = sorted(
        tuple(r)
        for r in spark.read.parquet(
            f"{out_b}/neardup_pairs/ingest_batch=1"
        ).collect()
    )
    assert pairs_a and pairs_a == pairs_b
    # batch 1 landed in the promoted dirs, and a second fold sweeps the
    # superseded literal dirs
    assert os.path.isdir(f"{CI.shingles_table_dir(idx_b)}/ingest_batch=1")
    CI.compact_text_neardup_batches(spark, idx_b)
    assert os.path.basename(CI.shingles_table_dir(idx_b)) == "shingles.v2"
    assert not os.path.exists(f"{idx_b}/shingles")
    assert not os.path.exists(f"{idx_b}/bands")
    with pytest.raises(ValueError, match="fresh directory"):
        CI.seed_text_neardup_index(spark, corpus, idx_b)


def test_ingest_metrics_partitions(spark, tmp_path):
    """Each accepted batch writes a one-row metrics partition whose
    counters reconcile exactly with the batch's outputs, and replay
    rewrites the same row (the overwrite rule applies to metrics too)."""
    corpus, shards, _ = _nd_fixture(spark)
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    CI.seed_text_neardup_index(spark, corpus, idx)
    CI.accept_batch(shards[0], 0, out, index_dir=idx)
    m = spark.read.parquet(f"{out}/metrics/ingest_batch=0").collect()
    assert len(m) == 1
    r = m[0]
    assert r.n_input == shards[0].count()
    assert r.n_accepted == spark.read.parquet(
        f"{out}/corpus/ingest_batch=0"
    ).count()
    assert r.n_neardup_pairs == spark.read.parquet(
        f"{out}/neardup_pairs/ingest_batch=0"
    ).count()
    assert r.n_input >= r.n_quality_pass >= r.n_accepted
    CI.accept_batch(shards[0], 0, out, index_dir=idx)  # replay
    m2 = spark.read.parquet(f"{out}/metrics/ingest_batch=0").collect()
    assert len(m2) == 1 and tuple(m2[0]) == tuple(r)
    # metrics also written on the exact-only path (no index_dir)
    out2 = str(tmp_path / "out2")
    CI.accept_batch(shards[1], 0, out2)
    m3 = spark.read.parquet(f"{out2}/metrics/ingest_batch=0").collect()
    assert len(m3) == 1 and m3[0].n_neardup_pairs is None


def test_ingest_decontamination_gate(spark, tmp_path):
    """With a benchmark frame, acceptance refuses any doc sharing an
    n-gram window with it — including through the adaptive short
    window — and the metrics row counts the refusals; without one the
    column is NULL and everything else is unchanged."""
    corpus, shards, texts = _nd_fixture(spark)
    # benchmark: a short eval item whose text doc 61 embeds verbatim
    leak_span = " ".join(texts[61].split()[5:10])
    bench = spark.createDataFrame(
        [(1, leak_span)], "bench_id long, text string"
    )
    out = str(tmp_path / "out")
    CI.accept_batch(shards[0], 0, out, benchmark=bench)
    accepted = {
        r.doc_id for r in spark.read.parquet(f"{out}/corpus").collect()
    }
    assert 61 not in accepted  # the leaking doc was refused
    assert 62 in accepted  # a clean doc from the same shard landed
    m = spark.read.parquet(f"{out}/metrics/ingest_batch=0").collect()[0]
    assert m.n_contaminated == 1
    assert m.n_accepted == len(accepted)
    # replay idempotent with the gate on
    CI.accept_batch(shards[0], 0, out, benchmark=bench)
    assert {
        r.doc_id for r in spark.read.parquet(f"{out}/corpus").collect()
    } == accepted


def test_compact_swap_has_no_absent_window(spark, tmp_path):
    """Round-12 rework (round-11 verdict item 6): the versioned-dir +
    manifest promote means a COMPLETE df table is resolvable at every
    instruction of the swap — there is no between-renames window.
    Pin each crash point: staged-but-unpromoted v-dir, tmp manifest
    written but never renamed, and the deferred-cleanup state after a
    successful promote."""
    import os
    import shutil

    from pyspark.sql import functions as F

    corpus, shards, _ = _nd_fixture(spark)
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    CI.seed_text_neardup_index(spark, corpus, idx)
    CI.accept_batch(shards[0], 0, out, index_dir=idx)

    def totals():
        return {
            r.s: r.t
            for r in spark.read.parquet(CI.df_table_dir(idx))
            .groupBy("s")
            .agg(F.sum("df").alias("t"))
            .collect()
        }

    want = totals()

    # crash point 1: staged a new version, died before the manifest
    # rename — the garbage v-dir is invisible to the resolver
    shutil.copytree(CI.df_table_dir(idx), f"{idx}/shingle_df.v9")
    assert os.path.basename(CI.df_table_dir(idx)) == "shingle_df"
    assert totals() == want
    # crash point 2: wrote the tmp manifest, died before renaming it —
    # still invisible (only the rename itself moves the pointer)
    with open(f"{idx}/{CI._DF_MANIFEST}.tmp", "w") as f:
        f.write("shingle_df.v9")
    assert os.path.basename(CI.df_table_dir(idx)) == "shingle_df"
    assert totals() == want

    # the next compaction sweeps both crash leftovers and promotes
    CI.compact_text_neardup_index(spark, idx)
    assert not os.path.exists(f"{idx}/shingle_df.v9")
    assert os.path.basename(CI.df_table_dir(idx)) == "shingle_df.v1"
    assert totals() == want
    # deferred cleanup: the superseded dir survives the swap (so a
    # batch concurrent with it keeps the directory it resolved) and
    # falls to the NEXT compaction
    assert os.path.isdir(f"{idx}/shingle_df")
    CI.compact_text_neardup_index(spark, idx)
    assert not os.path.exists(f"{idx}/shingle_df")
    # nothing left to fold: the current version is kept
    assert os.path.basename(CI.df_table_dir(idx)) == "shingle_df.v1"
    assert totals() == want


def test_compact_rescues_concurrent_append(spark, tmp_path):
    """The round-12 review race: a batch that resolved the OLD version
    dir commits its ingest_batch=N partition there after the pointer
    flipped. Deferred cleanup must MOVE that partition into the live
    version (it is absent from the current fold ledger), not delete
    it — its df rows survive into all future totals exactly once,
    while already-folded partitions are not re-added."""
    import os

    from pyspark.sql import functions as F

    corpus, shards, _ = _nd_fixture(spark)
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    CI.seed_text_neardup_index(spark, corpus, idx)
    CI.accept_batch(shards[0], 0, out, index_dir=idx)

    def totals():
        return {
            r.s: r.t
            for r in spark.read.parquet(CI.df_table_dir(idx))
            .groupBy("s")
            .agg(F.sum("df").alias("t"))
            .collect()
        }

    CI.compact_text_neardup_index(spark, idx)  # -> v1; legacy superseded
    base = totals()
    # the late append: lands in the superseded legacy dir post-flip
    spark.createDataFrame(
        [(-424242, 3)], "s long, df long"
    ).write.parquet(f"{idx}/shingle_df/ingest_batch=77")

    CI.compact_text_neardup_index(spark, idx)  # -> v2, rescuing 77
    assert not os.path.exists(f"{idx}/shingle_df")
    got = totals()
    assert got.pop(-424242) == 3  # rescued, counted once
    assert got == base  # folded partitions were NOT double-counted
    # and the new ledger owns the rescued partition
    assert "ingest_batch=77" in compaction.read_folded(CI.df_table_dir(idx))


def test_compact_sweeps_pre_round12_staging_leftover(spark, tmp_path):
    """A shingle_df_compacting tree left by a pre-round-12 crash (the
    old code overwrote it; the new layout never writes it) is removed
    by the next compaction instead of leaking forever."""
    import os

    corpus, shards, _ = _nd_fixture(spark)
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    CI.seed_text_neardup_index(spark, corpus, idx)
    CI.accept_batch(shards[0], 0, out, index_dir=idx)
    leftover = f"{idx}/shingle_df_compacting"
    os.makedirs(leftover)
    with open(f"{leftover}/junk.parquet", "w") as f:
        f.write("x")
    CI.compact_text_neardup_index(spark, idx)
    assert not os.path.exists(leftover)


def test_compact_recovers_pre_manifest_crashed_swap(spark, tmp_path):
    """A crash under the pre-round-12 retire-then-promote layout (df
    table renamed aside, never promoted back) still recovers: the
    compaction restores the retired tree before compacting."""
    import os

    from pyspark.sql import functions as F

    corpus, shards, _ = _nd_fixture(spark)
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    CI.seed_text_neardup_index(spark, corpus, idx)
    CI.accept_batch(shards[0], 0, out, index_dir=idx)
    want = {
        r.s: r.t
        for r in spark.read.parquet(f"{idx}/shingle_df")
        .groupBy("s")
        .agg(F.sum("df").alias("t"))
        .collect()
    }
    os.rename(f"{idx}/shingle_df", f"{idx}/shingle_df_retired")
    CI.compact_text_neardup_index(spark, idx)
    got = {
        r.s: r.df
        for r in spark.read.parquet(CI.df_table_dir(idx)).collect()
    }
    assert got == want
    assert not os.path.exists(f"{idx}/shingle_df_retired")
