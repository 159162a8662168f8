"""DSIR importance resampling (operators/selection.py).

Gates: DuckDB oracle parity at both test SFs through the driver's own
compare, the two-Exchange/broadcast plan shape, a planted-vocabulary
fixture showing target-like documents actually get boosted, and the
degenerate-document edge cases."""

from __future__ import annotations

import re

from fledge_south_csvplayback_spark.operators import selection
from tests.conftest import ORACLE_SF_DIR, TEST_SF_DIR
from tests.oracle_harness import compare


def test_dsir_oracle_parity_small(spark):
    ok, msg = compare(
        selection.corpus_dsir_select(spark, TEST_SF_DIR),
        selection.DSIR_SELECT_SQL,
        TEST_SF_DIR,
    )
    assert ok, msg


def test_dsir_oracle_parity_sf001(spark):
    ok, msg = compare(
        selection.corpus_dsir_select(spark, ORACLE_SF_DIR),
        selection.DSIR_SELECT_SQL,
        ORACLE_SF_DIR,
    )
    assert ok, msg


def test_dsir_plan_two_exchanges_broadcast_ratio(spark):
    """Fit = one bucket-keyed aggregate Exchange; score = one
    doc_id-keyed aggregate Exchange; the ratio table is broadcast
    (never a shuffled join); selection is TakeOrdered, not a global
    sort. Cached/AQE subplans print Final AND Initial sections, so
    count DISTINCT partitioning keys, not Exchange lines."""
    df = selection.corpus_dsir_select(spark, TEST_SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    keys = {
        m.group(1)
        for m in re.finditer(r"Exchange hashpartitioning\((\w+)#", plan)
    }
    assert len(keys) == 2 and "doc_id" in keys, (keys, plan)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no global sort Exchange for the top-n


def _write_fixture(spark, path: str) -> None:
    """30 docs, 3 blocks: 10 target docs (vocab A), 10 raw docs
    sharing vocab A, 10 raw docs with disjoint vocab B."""
    rows = []
    va = "alpha beta gamma delta epsilon"
    vb = "zero one two three four"
    for i in range(10):
        rows.append((i, f"{va} alpha beta {i % 3}", "en", "tgt", 0))
    for i in range(10, 20):
        rows.append((i, f"{va} gamma delta {i % 3}", "en", "web", 0))
    for i in range(20, 30):
        rows.append((i, f"{vb} one two {i % 3}", "en", "web", 0))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(f"{path}/documents.parquet")


def test_dsir_boosts_target_like_docs(spark, tmp_path):
    """The method's contract: raw docs sharing the target vocabulary
    must out-weigh raw docs with disjoint vocabulary (checked on logw
    directly — no Gumbel noise in this assertion)."""
    _write_fixture(spark, str(tmp_path))
    w = {
        r.doc_id: r.logw
        for r in selection.dsir_logweights(
            spark, str(tmp_path), target_source="tgt"
        ).collect()
    }
    assert len(w) == 30
    like = [w[i] for i in range(10, 20)]
    unlike = [w[i] for i in range(20, 30)]
    assert min(like) > max(unlike), (like, unlike)


def test_dsir_fixture_oracle_parity(spark, tmp_path):
    """Oracle parity holds on the planted fixture too (different
    target_source than the default SQL constant)."""
    _write_fixture(spark, str(tmp_path))
    ok, msg = compare(
        selection.corpus_dsir_select(
            spark, str(tmp_path), target_source="tgt", n_select=15
        ),
        selection._dsir_sql(target_source="tgt", n_select=15),
        str(tmp_path),
    )
    assert ok, msg


def test_dsir_degenerate_docs(spark, tmp_path):
    """Empty text (zero grams) and single-token text (no bigrams —
    the F.sequence(1, 0) descent trap) both survive with exact
    accounting, and the empty doc scores logw = 0."""
    rows = [
        (1, "", "en", "tgt", 0),
        (2, "solo", "en", "web", 0),
        (3, "two words", "en", "web", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r.doc_id: (r.n_grams, r.logw)
        for r in selection.dsir_logweights(
            spark, str(tmp_path), target_source="tgt"
        ).collect()
    }
    assert got[1] == (0, 0.0)
    assert got[2][0] == 1  # one unigram, no bigram
    assert got[3][0] == 3  # two unigrams + one bigram
    ok, msg = compare(
        selection.corpus_dsir_select(spark, str(tmp_path), target_source="tgt"),
        selection._dsir_sql(target_source="tgt"),
        str(tmp_path),
    )
    assert ok, msg


def test_dsir_deterministic(spark):
    a = selection.corpus_dsir_select(spark, TEST_SF_DIR).collect()
    b = selection.corpus_dsir_select(spark, TEST_SF_DIR).collect()
    assert a == b


def test_dsir_xxhash_production_knob(spark, tmp_path):
    """The xxhash64 bucket knob (native codegen hash, no hex
    round-trip) is a different — equally valid — hashed LM: no DuckDB
    oracle, but the method's contract must hold identically on the
    planted fixture, deterministically."""
    import pytest

    _write_fixture(spark, str(tmp_path))
    w = {
        r.doc_id: r.logw
        for r in selection.dsir_logweights(
            spark, str(tmp_path), target_source="tgt", hash_method="xxhash64"
        ).collect()
    }
    like = [w[i] for i in range(10, 20)]
    unlike = [w[i] for i in range(20, 30)]
    assert min(like) > max(unlike), (like, unlike)
    a = selection.corpus_dsir_select(
        spark, str(tmp_path), target_source="tgt", hash_method="xxhash64"
    ).collect()
    b = selection.corpus_dsir_select(
        spark, str(tmp_path), target_source="tgt", hash_method="xxhash64"
    ).collect()
    assert a == b
    with pytest.raises(ValueError, match="hash_method"):
        selection.dsir_logweights(
            spark, str(tmp_path), hash_method="sha9"
        ).collect()


def test_dsir_two_scan_path_oracle_parity(spark):
    """share_scan=False (the 100 TB default shape — no checkpoint,
    two declarative scans) must produce byte-identical results."""
    ok, msg = compare(
        selection.corpus_dsir_select(spark, TEST_SF_DIR, share_scan=False),
        selection.DSIR_SELECT_SQL,
        TEST_SF_DIR,
    )
    assert ok, msg


# --- per-source KL divergence -------------------------------------------------
def test_source_divergence_oracle_parity(spark):
    ok, msg = compare(
        selection.corpus_source_divergence(spark, TEST_SF_DIR),
        selection.CORPUS_SOURCE_DIVERGENCE_SQL,
        TEST_SF_DIR,
    )
    assert ok, msg


def test_source_divergence_oracle_parity_sf001(spark):
    ok, msg = compare(
        selection.corpus_source_divergence(spark, ORACLE_SF_DIR),
        selection.CORPUS_SOURCE_DIVERGENCE_SQL,
        ORACLE_SF_DIR,
    )
    assert ok, msg


def test_source_divergence_flags_outlier_source(spark, tmp_path):
    """KL is ≥ 0 and the planted off-distribution source dominates:
    19 sources share one vocabulary, the outlier uses another."""
    rows = []
    for i in range(190):
        rows.append(
            (i, f"common words here {i % 7} more common words", "en",
             f"src{i % 19}", 0)
        )
    for i in range(190, 200):
        rows.append(
            (i, f"zzq qqz zqz {i % 3} xyzzy plugh", "en", "outlier", 0)
        )
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r.source: r.kl_nats
        for r in selection.corpus_source_divergence(
            spark, str(tmp_path)
        ).collect()
    }
    assert all(v >= -1e-6 for v in got.values()), got
    rest = max(v for k, v in got.items() if k != "outlier")
    assert got["outlier"] > rest + 1.0, got


def test_source_divergence_no_joins(spark):
    """Pure aggregate/window pipeline: the corpus crosses one
    (source, bucket) aggregate Exchange; everything downstream
    operates on that ≤|sources|·B-row result. No join of any kind."""
    df = selection.corpus_source_divergence(spark, TEST_SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan


def test_dsir_select_reuses_precomputed_weights(spark):
    """Passing a precomputed dsir_logweights frame skips the weight
    re-derivation (the 10M probe's +71 s) and selects the identical
    set; a frame missing the weight columns is rejected."""
    import pytest

    w = selection.dsir_logweights(spark, TEST_SF_DIR)
    got = {
        (r.doc_id, r.logw, r.score)
        for r in selection.corpus_dsir_select(
            spark, TEST_SF_DIR, weights=w
        ).collect()
    }
    want = {
        (r.doc_id, r.logw, r.score)
        for r in selection.corpus_dsir_select(spark, TEST_SF_DIR).collect()
    }
    assert got == want
    with pytest.raises(ValueError, match="logw"):
        selection.corpus_dsir_select(
            spark, TEST_SF_DIR, weights=w.select("doc_id", "n_grams")
        )
