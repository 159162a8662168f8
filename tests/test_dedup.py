"""Dedup-suite properties: LSH recall vs exact Jaccard ground truth."""

from __future__ import annotations

from fledge_south_csvplayback_spark.operators import dedup
from tests.conftest import TEST_SF_DIR


def _pairs(df):
    return {(r.doc_a, r.doc_b) for r in df.collect()}


def test_minhash_lsh_equals_exact_jaccard(spark):
    exact = _pairs(dedup.dedup_ngram_jaccard(spark, TEST_SF_DIR))
    lsh = _pairs(dedup.dedup_minhash_lsh(spark, TEST_SF_DIR))
    assert exact, "fixture corpus should contain planted near-duplicates"
    # verification filters false positives; banding at these similarity
    # levels (j >= 0.8, 8x4 bands) must not lose a single true pair
    assert lsh == exact


def test_simhash_finds_planted_near_dups(spark):
    exact = _pairs(dedup.dedup_ngram_jaccard(spark, TEST_SF_DIR))
    sim = _pairs(dedup.dedup_simhash(spark, TEST_SF_DIR))
    assert sim, "simhash should produce candidate near-dup pairs"
    # near-identical texts (j >= 0.8) should overwhelmingly collide in
    # simhash space; require high recall rather than exact equality
    # (simhash is a different similarity geometry)
    recall = len(sim & exact) / len(exact)
    assert recall >= 0.9, (recall, len(sim), len(exact))


def test_hot_antijoin_shuffle_fallback_same_result(spark, monkeypatch):
    """When the over-cap shingle set exceeds HOT_BROADCAST_MAX the
    anti-join must fall back to a shuffle instead of forcing a broadcast
    (driver memory pressure on adversarial corpora) — with identical
    output. The threshold is forced to -1, not 0: the fixture corpus
    has no over-cap shingles (max df 9 vs cap 256), so ``hot.count()``
    is 0 and a 0 threshold would still take the broadcast branch —
    leaving the shuffled anti-join uncovered."""
    baseline = _pairs(dedup.dedup_minhash_lsh(spark, TEST_SF_DIR))
    monkeypatch.setattr(dedup, "HOT_BROADCAST_MAX", -1)
    fallback = _pairs(dedup.dedup_minhash_lsh(spark, TEST_SF_DIR))
    assert fallback == baseline


def test_simhash_production_hash_matches_reproducible(spark):
    """The reproducible=False path swaps md5-string gram hashing for the
    64-bit hashed grams from shingles() (no gram strings, no md5).
    SimHash geometry is hash-agnostic, so the two paths must agree on
    all solidly-near pairs; divergence is allowed only at the
    probabilistic band-survival boundary (Hamming 8-12), where the
    colliding band is hash-dependent. Measured on the fixtures:
    27/28 pairs at sf0.001, 25/25 at sf0.01 — deterministic given the
    data, pinned here as pair-set Jaccard >= 0.9."""
    rep = _pairs(dedup.dedup_simhash(spark, TEST_SF_DIR, reproducible=True))
    prod = _pairs(dedup.dedup_simhash(spark, TEST_SF_DIR, reproducible=False))
    assert rep and prod
    agreement = len(rep & prod) / len(rep | prod)
    assert agreement >= 0.9, (agreement, len(rep), len(prod))


def test_simhash_blocked_subset_and_recall(spark):
    """The blocked (permuted-block, Manku WWW'07) candidate scheme keys
    C(8,3)=56 tables on 3-chunk concatenations of the SAME 8-bit chunks
    the classic scheme bands on, so a clean 3-subset implies a clean
    band: blocked output must be a subset of classic output (identical
    Hamming verify). Detection is guaranteed at Hamming <= 5 and
    probabilistic for 6..12, so recall vs classic is < 1 by design —
    pin a floor measured on the fixture corpus."""
    classic = _pairs(dedup.dedup_simhash(spark, TEST_SF_DIR))
    blocked = _pairs(dedup.dedup_simhash_blocked(spark, TEST_SF_DIR))
    assert blocked, "blocked scheme should find the solidly-near pairs"
    assert blocked <= classic
    assert len(blocked) / len(classic) >= 0.5, (len(blocked), len(classic))


def test_simhash_blocked_m1_equals_classic(spark):
    """m=1 degenerates to one table per single chunk — exactly the
    classic band join. Pins that the generalized scheme is the same
    candidate geometry, not a reimplementation that can drift."""
    classic = _pairs(dedup.dedup_simhash(spark, TEST_SF_DIR))
    m1 = _pairs(dedup.dedup_simhash_blocked(spark, TEST_SF_DIR, m=1))
    assert m1 == classic


def test_simhash_blocked_oracle_parity(spark):
    """dedup_simhash_blocked is pytest-oracle-checked (the 50-entry
    driver cap is full — see COVERAGE.md): DuckDB rebuilds the same
    fingerprints AND the same 56 key tables, so the comparison is a
    full value check, same strength as the driver's."""
    from tests.oracle_harness import compare

    df = dedup.dedup_simhash_blocked(spark, TEST_SF_DIR)
    ok, msg = compare(df, dedup.SIMHASH_BLOCKED_SQL, TEST_SF_DIR)
    assert ok, msg


def test_exact_dedup_counts(spark):
    out = dedup.dedup_exact(spark, TEST_SF_DIR)
    total = out.agg({"n_copies": "sum"}).collect()[0][0]
    assert total == 500  # every doc lands in exactly one group


def test_lsh_fixture_margin(spark):
    """The LSH entry shares the exact-Jaccard oracle, which is only
    sound while no fixture pair hovers just above the 0.8 threshold
    (band-miss probability (1-j^4)^8 is ~1.5e-2 at j=0.8 but <5e-4 by
    j=0.88). Pin that the corpus keeps the margin: every exact pair is
    comfortably above threshold AND actually found by LSH."""
    exact = dedup.dedup_ngram_jaccard(spark, TEST_SF_DIR).collect()
    lsh = _pairs(dedup.dedup_minhash_lsh(spark, TEST_SF_DIR))
    assert exact
    for r in exact:
        assert r.jaccard >= 0.88, (
            f"fixture pair ({r.doc_a},{r.doc_b}) j={r.jaccard} is in the "
            "borderline band where LSH may deterministically miss — "
            "register dedup_minhash_lsh with its own oracle instead"
        )
        assert (r.doc_a, r.doc_b) in lsh


def test_df_cap_bounds_hot_shingle_fanout(spark):
    """A corpus-wide boilerplate shingle (df > SHINGLE_DF_CAP) must not
    generate posting-list pairs: docs related only through it produce
    no pair rows, and it is excluded from surviving pairs' intersection
    counts while still counting toward set sizes."""
    n_noise = dedup.SHINGLE_DF_CAP + 10
    rows = [(1, ["hot"] + [f"s{k}" for k in range(19)] + ["u1"]),
            (2, ["hot"] + [f"s{k}" for k in range(19)] + ["u2"])]
    rows += [(i, ["hot", f"only{i}"]) for i in range(3, 3 + n_noise)]
    sh = spark.createDataFrame(rows, "doc_id int, sh array<string>")
    pairs = dedup._pair_counts(sh).collect()
    assert len(pairs) == 1, pairs  # no pair bridged only by the hot shingle
    p = pairs[0]
    # c counts the 19 shared non-hot shingles; sizes still include hot
    assert (p.doc_a, p.doc_b, p.c, p.na, p.nb) == (1, 2, 19, 21, 21)


def test_lsh_df_cap_uses_full_corpus_df(spark, tmp_path, monkeypatch):
    """The LSH verifier must cap shingles on FULL-CORPUS document
    frequency, exactly like the exact operator: a boilerplate gram with
    corpus df > CAP but candidate-slice df <= CAP must be excluded from
    intersection counts, or the two paths (which share an oracle)
    diverge on skewed corpora."""
    monkeypatch.setattr(dedup, "SHINGLE_DF_CAP", 4)
    toks = [f"t{k}" for k in range(4)] + ["bp1", "bp2", "bp3"] + [
        f"t{k}" for k in range(4, 19)
    ]  # 22 tokens -> 20 grams, one of them the boilerplate run
    rows = [
        (1, " ".join(toks)),
        (2, " ".join(toks[:-1] + ["zz"])),  # near-dup of 1, j well > 0.8
        (3, " ".join(f"c{k}" for k in range(22))),
        (4, " ".join([f"c{k}" for k in range(21)] + ["dz"])),  # control pair
    ]
    # 10 unrelated docs each containing the exact boilerplate run:
    # corpus df("bp1 bp2 bp3") = 12 > 4, but its df inside the {1,2}
    # candidate slice is 2 <= 4 — the trap a slice-local cap falls into
    rows += [
        (10 + i, f"f{i}a f{i}b bp1 bp2 bp3 f{i}c f{i}d") for i in range(10)
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    sf = str(tmp_path)
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.dedup_ngram_jaccard(spark, sf).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.dedup_minhash_lsh(spark, sf).collect()
    }
    assert (1, 2) in exact and (3, 4) in exact
    # pair (1,2) shares 19 of 20 grams but the hot one is dropped from
    # c on BOTH paths: j = 18 / (20 + 20 - 18)
    assert abs(exact[(1, 2)] - 18 / 22) < 1e-6
    assert lsh == exact


def test_simhash_fp_overflow_yields_null(spark, tmp_path):
    """A doc with > 65535 shingles would overflow the 16-bit SWAR vote
    lanes; the contract is a NULL fingerprint (doc drops out of
    candidate generation, visibly) rather than a silently-corrupt one.
    Normal-size docs in the same corpus must still fingerprint."""
    sf_dir = str(tmp_path)
    mega = " ".join(f"w{i}" for i in range(70000))
    spark.createDataFrame(
        [(1, mega, "en", "t", len(mega)), (2, "a b c d e f", "en", "t", 11)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{sf_dir}/documents.parquet")
    fps = {
        r["doc_id"]: (r["fp_lo"], r["fp_hi"])
        for r in dedup._simhash_fp(spark, sf_dir, reproducible=False).collect()
    }
    assert fps[1] == (None, None)
    assert fps[2][0] is not None and fps[2][1] is not None


def test_simhash_overflow_oracle_parity(spark, tmp_path):
    """The oracle mirrors the NULL-fingerprint overflow contract: a
    corpus with two IDENTICAL >65535-shingle megadocs (a Hamming-0 pair
    if fingerprinted) plus two near-identical normal docs must yield
    ONLY the normal pair in BOTH engines."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.oracle_harness import TABLES, compare

    sf_dir = str(tmp_path)
    mega = " ".join(f"w{i}" for i in range(70000))
    nrm = " ".join(f"x{i}" for i in range(40))
    docs = [
        (1, mega),
        (2, mega),
        (3, nrm),
        (4, nrm + " tail"),
    ]
    # single-file parquet (pyarrow, not a Spark directory) so the
    # DuckDB side of compare() can read it; other tables symlinked in
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d for d, _ in docs], pa.int64()),
                "text": [t for _, t in docs],
                "lang": ["en"] * 4,
                "source": ["t"] * 4,
                "n_chars": pa.array([len(t) for _, t in docs], pa.int64()),
            }
        ),
        f"{sf_dir}/documents.parquet",
    )
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{TEST_SF_DIR}/{t}.parquet", f"{sf_dir}/{t}.parquet")
    df = dedup.dedup_simhash(spark, sf_dir)
    got = {(r.doc_a, r.doc_b) for r in df.collect()}
    assert got == {(3, 4)}, got
    ok, msg = compare(df, dedup.SIMHASH_SQL, sf_dir)
    assert ok, msg


def test_dedup_clusters_oracle_parity(spark):
    """dedup_clusters (iterative min-label propagation) must match the
    DuckDB recursive-CTE transitive closure on the fixture corpus —
    pytest-oracle, same strength as the driver's check (the 50-entry
    registry is full)."""
    from tests.oracle_harness import compare

    df = dedup.dedup_clusters(spark, TEST_SF_DIR)
    ok, msg = compare(df, dedup.DEDUP_CLUSTERS_SQL, TEST_SF_DIR)
    assert ok, msg


def test_dedup_clusters_transitive_chain(spark, tmp_path):
    """A~B and B~C with A NOT near C (below the Jaccard threshold) must
    still land A, B, C in ONE cluster — the transitivity pair mining
    alone cannot express. Geometry: core of 30 tokens, 4-token
    prefix/suffix -> j(A,B)=j(B,C)=28/32=0.875 >= 0.8 but
    j(A,C)=28/36=0.78 < 0.8."""
    core = [f"c{k}" for k in range(30)]
    rows = [
        (1, " ".join([f"p{k}" for k in range(4)] + core)),
        (2, " ".join(core)),
        (3, " ".join(core + [f"s{k}" for k in range(4)])),
        (4, " ".join(f"iso{k}" for k in range(25))),
        (5, " ".join([f"iso{k}" for k in range(24)] + ["tail"])),
        (6, " ".join(f"lone{k}" for k in range(25))),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    sf = str(tmp_path)
    pairs = {(r.doc_a, r.doc_b) for r in dedup.dedup_ngram_jaccard(spark, sf).collect()}
    assert (1, 2) in pairs and (2, 3) in pairs and (1, 3) not in pairs, pairs
    out = {r.doc_id: (r.cluster_id, r.keep) for r in dedup.dedup_clusters(spark, sf).collect()}
    assert out == {
        1: (1, True),
        2: (1, False),
        3: (1, False),
        4: (4, True),
        5: (4, False),
    }  # doc 6 pairs with nothing and is absent


def test_neardup_ingest_agrees_with_full_miner(spark, tmp_path):
    """Incremental ingest over the persisted band index must return
    EXACTLY the full-corpus miner's pairs that touch a batch doc —
    same candidates (shared banding), same verification (shared
    _pair_counts with the combined-corpus df cap). The sf0.001 split
    at 400 exercises both categories (9 cross, 1 within-batch)."""
    index_dir = str(tmp_path / "nd_index")
    split = dedup.NEARDUP_INGEST_SPLIT
    dedup.build_neardup_index(spark, TEST_SF_DIR, index_dir, max_doc_id=split)
    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.neardup_ingest(spark, TEST_SF_DIR, index_dir).collect()
    }
    want = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.dedup_minhash_lsh(spark, TEST_SF_DIR).collect()
        if r.doc_b >= split
    }
    assert got == want
    assert any(a < split for a, _, _ in got)  # cross pairs exercised
    assert any(a >= split for a, _, _ in got)  # within-batch exercised


def test_neardup_ingest_planted_categories(spark, tmp_path):
    """Planted corpus/batch fixture: a batch doc near-duping a corpus
    doc is found (cross), two near-dup batch docs are found (within),
    a batch doc duplicating nothing yields no pair, and corpus-corpus
    pairs are NOT re-reported."""
    words = [f"tok{i:03d}" for i in range(60)]
    base_a = " ".join(words)
    base_b = " ".join(f"oth{i:03d}" for i in range(60))
    swap = lambda s: " ".join(  # noqa: E731
        s.split(" ")[:-2] + ["endx", "endy"]
    )
    docs = [
        (0, base_a, "en", "web", 0),          # corpus
        (1, swap(base_a), "en", "web", 0),    # corpus near-dup of 0
        (2, base_b, "en", "web", 0),          # corpus, unrelated
        (500, swap(base_b), "en", "web", 0),  # batch ~ corpus doc 2 (cross)
        (501, " ".join(f"new{i:03d}" for i in range(60)), "en", "web", 0),
        (502, swap(" ".join(f"new{i:03d}" for i in range(60))), "en", "web", 0),
        (503, " ".join(f"solo{i:03d}" for i in range(60)), "en", "web", 0),
    ]
    sf_dir = str(tmp_path / "corpus")
    import os

    os.makedirs(sf_dir)
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    index_dir = str(tmp_path / "nd_index")
    dedup.build_neardup_index(spark, sf_dir, index_dir, max_doc_id=400)
    got = {
        (r.doc_a, r.doc_b)
        for r in dedup.neardup_ingest(spark, sf_dir, index_dir, split_id=400).collect()
    }
    assert got == {(2, 500), (501, 502)}, got


def test_neardup_ingest_tolerates_full_table_index(spark, tmp_path):
    """Regression (review finding): an index built over the WHOLE
    table (no max_doc_id — the obvious misuse) used to feed batch docs
    in from both sides, doubling intersection counts (jaccard > 1) and
    duplicating candidates. The ingest now filters the index's bands
    and shingles to pre-split docs, so the pair set still matches the
    full miner and every jaccard stays <= 1."""
    index_dir = str(tmp_path / "nd_index_full")
    split = dedup.NEARDUP_INGEST_SPLIT
    dedup.build_neardup_index(spark, TEST_SF_DIR, index_dir)  # no max_doc_id
    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.neardup_ingest(spark, TEST_SF_DIR, index_dir).collect()
    }
    want = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.dedup_minhash_lsh(spark, TEST_SF_DIR).collect()
        if r.doc_b >= split
    }
    assert got == want
    assert all(j <= 1.0 for _, _, j in got)


def test_neardup_ingest_broadcast_fallback_same_result(spark, tmp_path, monkeypatch):
    """Above HOT_BROADCAST_MAX every batch-side broadcast must fall
    back to a shuffle with identical output."""
    index_dir = str(tmp_path / "nd_index_fb")
    split = dedup.NEARDUP_INGEST_SPLIT
    dedup.build_neardup_index(spark, TEST_SF_DIR, index_dir, max_doc_id=split)
    base = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.neardup_ingest(spark, TEST_SF_DIR, index_dir).collect()
    }
    monkeypatch.setattr(dedup, "HOT_BROADCAST_MAX", -1)
    fb = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.neardup_ingest(spark, TEST_SF_DIR, index_dir).collect()
    }
    assert fb == base


def test_shingles_multi_matches_per_ne_builds(spark, hostile_sf_dir):
    """The fused multi-width gram builder (round 16) must produce
    exactly the union of the per-ne ``shingles`` builds — pinned over
    the hostile documents table (NULL/empty/sub-window shapes) and a
    multi-class window list."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{hostile_sf_dir}/documents.parquet")
    ne_values = [3, 11, 13]
    fused = set(
        map(
            tuple,
            docs.select(
                "doc_id",
                F.explode(
                    dedup.shingles_multi(F.col("text"), ne_values)
                ).alias("t"),
            )
            .select(
                "doc_id",
                F.col("t.ne").alias("ne"),
                F.explode("t.gs").alias("g"),
            )
            .collect(),
        )
    )
    per_ne = set()
    for ne in ne_values:
        per_ne |= {
            (r.doc_id, ne, r.g)
            for r in docs.select(
                "doc_id", F.explode(dedup.shingles(F.col("text"), ne)).alias("g")
            ).collect()
        }
    assert fused == per_ne
