"""Corpus-curation operators: DuckDB oracle parity (same compare as the
registered queries — these live outside the 50-entry query registry),
semantic invariants, and the plan properties the 100 TB design depends
on."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fledge_south_csvplayback_spark.operators import curation
from tests.conftest import ORACLE_SF_DIR, TEST_SF_DIR
from tests.oracle_harness import compare

_ORACLES = [
    ("corpus_sample", curation.corpus_sample, curation.CORPUS_SAMPLE_SQL),
    ("corpus_split", curation.corpus_split, curation.CORPUS_SPLIT_SQL),
    (
        "corpus_sample_stratified",
        curation.corpus_sample_stratified,
        curation.CORPUS_SAMPLE_STRATIFIED_SQL,
    ),
    (
        "corpus_token_budget",
        curation.corpus_token_budget,
        curation.CORPUS_TOKEN_BUDGET_SQL,
    ),
    ("quality_filter", curation.quality_filter, curation.QUALITY_FILTER_SQL),
    (
        "corpus_dedup_apply",
        curation.corpus_dedup_apply,
        curation.CORPUS_DEDUP_APPLY_SQL,
    ),
    ("corpus_profile", curation.corpus_profile, curation.CORPUS_PROFILE_SQL),
    (
        "corpus_sample_by_source",
        curation.corpus_sample_by_source,
        curation.CORPUS_SAMPLE_BY_SOURCE_SQL,
    ),
    (
        "corpus_snapshot_diff",
        curation.corpus_snapshot_diff,
        curation.SNAPSHOT_DIFF_SQL,
    ),
]


@pytest.mark.parametrize("name,fn,sql", _ORACLES, ids=[o[0] for o in _ORACLES])
def test_oracle_parity(spark, name, fn, sql):
    ok, msg = compare(fn(spark, TEST_SF_DIR), sql, TEST_SF_DIR)
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize(
    "name,fn,sql",
    [
        o
        for o in _ORACLES
        if o[0]
        in ("corpus_token_budget", "corpus_dedup_apply", "corpus_profile")
    ],
    ids=["corpus_token_budget", "corpus_dedup_apply", "corpus_profile"],
)
def test_oracle_parity_sf001(spark, name, fn, sql):
    """The two shuffling ops also at the driver's oracle SF."""
    ok, msg = compare(fn(spark, ORACLE_SF_DIR), sql, ORACLE_SF_DIR)
    assert ok, f"{name}: {msg}"


# --- semantic invariants -----------------------------------------------------
def test_sample_deterministic_and_ratelike(spark):
    a = {r.doc_id for r in curation.corpus_sample(spark, TEST_SF_DIR).collect()}
    b = {r.doc_id for r in curation.corpus_sample(spark, TEST_SF_DIR).collect()}
    assert a == b  # hash sampling: re-runs identical, no RNG anywhere
    total = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet").count()
    # binomial 3-sigma envelope around the nominal rate
    rate = curation.SAMPLE_RATE
    sigma = (total * rate * (1 - rate)) ** 0.5
    assert abs(len(a) - total * rate) <= 3 * sigma, (len(a), total)


def test_sample_membership_stable_under_growth(spark):
    """A doc's sample membership is a function of doc_id alone: the
    sample of a PREFIX of the corpus is exactly the restriction of the
    full-corpus sample (what incremental ingest relies on)."""
    full = {
        r.doc_id for r in curation.corpus_sample(spark, TEST_SF_DIR).collect()
    }
    docs = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet")
    half_ids = {
        r.doc_id
        for r in docs.filter(F.col("doc_id") % 2 == 0).select("doc_id").collect()
    }
    # recompute the sample over the half-corpus via the same operator
    half_docs = docs.filter(F.col("doc_id") % 2 == 0)
    half_docs.createOrReplaceTempView("_half")
    sampled_half = {
        r.doc_id
        for r in half_docs.withColumn(
            "bucket", curation._bucket(F.col("doc_id"))
        )
        .filter(F.col("bucket") < int(curation.SAMPLE_RATE * curation.BUCKETS))
        .select("doc_id")
        .collect()
    }
    assert sampled_half == full & half_ids


def test_split_partitions_corpus(spark):
    rows = curation.corpus_split(spark, TEST_SF_DIR).collect()
    total = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet").count()
    assert len(rows) == total
    by_split: dict[str, int] = {}
    for r in rows:
        by_split[r.split] = by_split.get(r.split, 0) + 1
    assert set(by_split) == {"train", "val", "test"}
    assert by_split["train"] > by_split["val"]
    assert by_split["train"] > by_split["test"]


def test_stratified_downsamples_named_stratum_only(spark):
    docs = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet")
    base = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    sampled = {
        r.lang: r.n
        for r in curation.corpus_sample_stratified(spark, TEST_SF_DIR)
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for lang, n in base.items():
        if lang in curation.STRATA_RATES:
            assert sampled.get(lang, 0) < n  # downsampled
        else:
            assert sampled.get(lang, 0) == n  # default rate 1.0 keeps all


def test_token_budget_maximal_per_lang(spark):
    """Selection is budget-respecting AND maximal: per language the
    kept cumulative sum is ≤ budget, and the FIRST rejected doc in
    priority order would have pushed it over."""
    sel = curation.corpus_token_budget(spark, TEST_SF_DIR).collect()
    docs = (
        spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet")
        .select(
            "doc_id",
            "lang",
            F.size(F.split(F.col("text"), " ")).alias("n_tok"),
            curation._bucket(F.col("doc_id")).alias("bucket"),
        )
        .collect()
    )
    kept = {r.doc_id: r for r in sel}
    by_lang: dict[str, list] = {}
    for r in docs:
        by_lang.setdefault(r.lang, []).append(r)
    assert kept  # something selected
    for lang, rows in by_lang.items():
        rows.sort(key=lambda r: (r.bucket, r.doc_id))
        cum = 0
        rejected_seen = False
        for r in rows:
            cum += r.n_tok
            if cum <= curation.TOKEN_BUDGET:
                assert r.doc_id in kept, (lang, r.doc_id)
                assert kept[r.doc_id].cum_tok == cum
                assert not rejected_seen  # keep-set is a prefix
            else:
                assert r.doc_id not in kept, (lang, r.doc_id)
                rejected_seen = True


def test_sample_by_source_is_all_or_nothing(spark):
    """Cluster sampling keeps whole sources: every source is either
    fully in or fully out, and at least one of each exists."""
    docs = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet")
    per_source = {
        r.source: r.n
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    sampled = {
        r.source: r.n
        for r in curation.corpus_sample_by_source(spark, TEST_SF_DIR)
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert sampled  # some source kept
    assert set(sampled) < set(per_source)  # some source dropped
    for src, n in sampled.items():
        assert n == per_source[src]  # kept sources are whole


def test_quality_filter_splits_corpus(spark):
    rows = curation.quality_filter(spark, TEST_SF_DIR).collect()
    keep = sum(1 for r in rows if r.keep)
    assert 0 < keep < len(rows)  # thresholds bite but don't wipe out
    for r in rows:
        assert r.keep == (r.len_ok and r.ttr_ok and r.shape_ok)


def test_dedup_apply_agrees_with_dedup_exact(spark):
    from fledge_south_csvplayback_spark.operators import dedup

    groups = dedup.dedup_exact(spark, TEST_SF_DIR).collect()
    survivors = curation.corpus_dedup_apply(spark, TEST_SF_DIR).collect()
    assert {r.keep_doc_id for r in groups} == {r.doc_id for r in survivors}
    by_fp = {r.fingerprint: r.n_copies for r in groups}
    for s in survivors:
        assert by_fp[s.fingerprint] == s.n_copies


def test_curation_ops_on_empty_corpus(spark, tmp_path):
    """Every curation op must return an empty frame (not crash) on an
    empty documents table — the first micro-batch of a new pipeline is
    often exactly this."""
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{sf_dir}/documents.parquet")
    for fn in (
        curation.corpus_sample,
        curation.corpus_split,
        curation.corpus_sample_stratified,
        curation.corpus_sample_by_source,
        curation.corpus_token_budget,
        curation.quality_filter,
        curation.corpus_dedup_apply,
        curation.corpus_profile,
    ):
        assert fn(spark, sf_dir).count() == 0, fn.__name__


# --- plan properties ---------------------------------------------------------
def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_sample_ops_are_narrow(spark):
    """Sampling / split / stratified are scan-side filters: no
    Exchange, no Window, no join anywhere in the plan."""
    for fn in (
        curation.corpus_sample,
        curation.corpus_split,
        curation.corpus_sample_stratified,
        curation.corpus_sample_by_source,
    ):
        plan = _plan(fn(spark, TEST_SF_DIR))
        assert "Exchange" not in plan, fn.__name__
        assert "Window" not in plan, fn.__name__
        assert "Join" not in plan, fn.__name__


def test_token_budget_avoids_lang_only_window(spark):
    """The big-side running sum must partition by (lang, bucket) — a
    lang-only window over the full table is one task per language at
    100 TB. The lang-only window may appear ONLY over the tiny
    per-bucket aggregate, i.e. downstream of a HashAggregate, and the
    prefix table must come back via a broadcast join."""
    plan = _plan(curation.corpus_token_budget(spark, TEST_SF_DIR))
    assert "BroadcastHashJoin" in plan
    windows = [
        line for line in plan.splitlines() if "Window " in line or "Window(" in line
    ]
    assert windows, plan
    big_side = [w for w in windows if "bucket" in w.split("windowspecdefinition")[-1]]
    assert big_side, windows  # the per-row sum partitions by (lang, bucket)


def test_neardup_apply_oracle_parity(spark):
    ok, msg = compare(
        curation.corpus_neardup_apply(spark, TEST_SF_DIR),
        curation.CORPUS_NEARDUP_APPLY_SQL,
        TEST_SF_DIR,
    )
    assert ok, msg


def test_neardup_apply_agrees_with_clusters(spark):
    from fledge_south_csvplayback_spark.operators import dedup

    clusters = dedup.dedup_clusters(spark, TEST_SF_DIR).collect()
    losers = {r.doc_id for r in clusters if not r.keep}
    assert losers  # fixture has planted near-dups
    all_ids = {
        r.doc_id
        for r in spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet")
        .select("doc_id")
        .collect()
    }
    got = {
        r.doc_id
        for r in curation.corpus_neardup_apply(spark, TEST_SF_DIR).collect()
    }
    assert got == all_ids - losers


def test_dedup_apply_single_exchange(spark):
    """Both window functions share the fingerprint partitioning: one
    wide exchange of the docs table, not two."""
    plan = _plan(curation.corpus_dedup_apply(spark, TEST_SF_DIR))
    wide = [
        line
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
    ]
    assert len(wide) == 1, plan


# --- fixed-length training-sequence chunking ---------------------------------
def test_chunk_documents_oracle_parity(spark):
    df = curation.corpus_chunk_documents(spark, TEST_SF_DIR)
    ok, msg = compare(df, curation.CORPUS_CHUNK_SQL, TEST_SF_DIR)
    assert ok, msg


def test_chunk_documents_oracle_parity_sf001(spark):
    df = curation.corpus_chunk_documents(spark, ORACLE_SF_DIR)
    ok, msg = compare(df, curation.CORPUS_CHUNK_SQL, ORACLE_SF_DIR)
    assert ok, msg


def test_chunk_documents_invariants(spark):
    """Window algebra on real data: every non-final chunk is exactly
    chunk_tokens long, consecutive chunks overlap by chunk_tokens -
    stride, the final chunk reaches the last token, and no chunk
    starts beyond the text."""
    c, s = curation.CHUNK_TOKENS, curation.CHUNK_STRIDE
    docs = {
        r.doc_id: r.text.split(" ")
        for r in spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet").collect()
    }
    rows = curation.corpus_chunk_documents(spark, TEST_SF_DIR).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, chunks in by_doc.items():
        toks = docs[doc_id]
        chunks.sort(key=lambda r: r.chunk_id)
        assert [r.chunk_id for r in chunks] == list(range(len(chunks)))
        for r in chunks[:-1]:
            assert r.n_chunk_tokens == c
        last = chunks[-1]
        start = last.chunk_id * s
        assert start < max(1, len(toks))  # no start beyond the text
        assert start + last.n_chunk_tokens == len(toks)  # reaches the end
        for r in chunks:
            assert r.chunk_text == " ".join(toks[r.chunk_id * s : r.chunk_id * s + c])


def test_chunk_documents_planted_and_custom_params(spark, tmp_path):
    """c=4, s=3 on a 10-token doc: starts 0/3/6, last chunk covers
    tokens 6..9; a 2-token doc yields one short chunk; the custom-param
    SQL builder mirrors the same geometry."""
    rows = [
        (0, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9", "en", "s", 1),
        (1, "a b", "en", "s", 1),
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")
    df = curation.corpus_chunk_documents(spark, sf_dir, chunk_tokens=4, stride=3)
    got = {
        (r.doc_id, r.chunk_id): (r.n_chunk_tokens, r.chunk_text)
        for r in df.collect()
    }
    assert got == {
        (0, 0): (4, "t0 t1 t2 t3"),
        (0, 1): (4, "t3 t4 t5 t6"),
        (0, 2): (4, "t6 t7 t8 t9"),
        (1, 0): (2, "a b"),
    }
    ok, msg = compare(df, curation._chunk_sql(4, 3), sf_dir)
    assert ok, msg


def test_chunk_documents_bpe_planted_geometry(spark, tmp_path):
    """BPE geometry with a hand-built merge table: merges=[(a,b)] makes
    'ab'→1 token and 'abab'→2 ('ab','ab'), so 'ab abab ab' is the BPE
    token stream [ab | ab ab | ab]. c=3, s=2 → chunk0 covers tokens
    0-2 ('ab abab'), chunk1 covers tokens 2-3 and starts MID-WORD
    ('ab ab' whose first piece is the latter half of 'abab') — exactly
    what slicing a token-id array does."""
    rows = [(0, "ab abab ab", "en", "s", 1)]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")
    df = curation.corpus_chunk_documents(
        spark, sf_dir, chunk_tokens=3, stride=2,
        token_method="bpe", merges=[("a", "b")],
    )
    got = {
        (r.doc_id, r.chunk_id): (r.n_chunk_tokens, r.chunk_text)
        for r in df.collect()
    }
    # chunk0 ends word-final and is not the doc's last chunk, so its
    # trailing space is preserved (the concatenation convention)
    assert got == {
        (0, 0): (3, "ab abab "),
        (0, 1): (2, "ab ab"),
    }
    import pytest

    with pytest.raises(ValueError, match="token_method"):
        curation.corpus_chunk_documents(spark, sf_dir, token_method="nope")


def test_chunk_documents_bpe_midword_boundary_concat(spark, tmp_path):
    """Planted multi-token word forcing a MID-WORD chunk boundary at
    stride == chunk_tokens: with merges=[] every char is one BPE
    token, so 'abcd ab' is 6 tokens and c=s=3 cuts inside 'abcd'.
    Chunk0 must carry NO trailing space (mid-word end), chunk1 opens
    with the rest of the word — and plain concatenation (no join
    separator) reproduces the text exactly."""
    rows = [(0, "abcd ab", "en", "s", 7), (1, "xy", "en", "s", 2)]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")
    df = curation.corpus_chunk_documents(
        spark, sf_dir, chunk_tokens=3, stride=3,
        token_method="bpe", merges=[],
    )
    got = {
        (r.doc_id, r.chunk_id): (r.n_chunk_tokens, r.chunk_text)
        for r in df.collect()
    }
    assert got == {
        (0, 0): (3, "abc"),       # mid-word end: no trailing space
        (0, 1): (3, "d ab"),      # final chunk: stripped
        (1, 0): (2, "xy"),
    }
    assert "".join(
        got[(0, ci)][1] for ci in range(2)
    ) == "abcd ab"


def test_chunk_documents_bpe_counts_match_tokenizer_and_reconstruct(spark):
    """The BPE chunker's token accounting equals text_bpe_tokenize's
    n_bpe_tokens for every doc (same merge loop, same any-whitespace
    split), and with stride == chunk_tokens PLAIN CONCATENATION of the
    chunks (no join separator — word-final chunk ends carry their own
    trailing space) reproduces the whitespace-NORMALIZED text."""
    from fledge_south_csvplayback_spark.operators import text as text_ops

    merges = text_ops.bpe_train(spark, TEST_SF_DIR)
    c = curation.CHUNK_TOKENS
    df = curation.corpus_chunk_documents(
        spark, TEST_SF_DIR, c, c, token_method="bpe", merges=merges
    )
    per_doc = {
        r.doc_id: (r.n, r.txt)
        for r in df.groupBy("doc_id")
        .agg(
            F.sum("n_chunk_tokens").alias("n"),
            F.array_join(
                F.array_sort(
                    F.collect_list(F.struct("chunk_id", "chunk_text"))
                ).chunk_text,
                "",
            ).alias("txt"),
        )
        .collect()
    }
    want_counts = {
        r.doc_id: r.n_bpe_tokens
        for r in text_ops.text_bpe_tokenize(
            spark, TEST_SF_DIR, merges=merges
        ).collect()
    }
    want_text = {
        r.doc_id: " ".join(r.text.split())
        for r in spark.read.parquet(
            f"{TEST_SF_DIR}/documents.parquet"
        ).collect()
    }
    assert set(per_doc) == set(want_counts)
    for doc_id, (n, txt) in per_doc.items():
        assert n == want_counts[doc_id], doc_id
        assert txt == want_text[doc_id], doc_id


def test_chunk_documents_ws_default_unchanged(spark, tmp_path):
    """token_method='ws' is the default and byte-identical to the
    historical single-space behavior (the oracle parity tests above
    pin it corpus-wide; this pins the dispatch)."""
    rows = [(0, "x y z", "en", "s", 1)]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")
    a = curation.corpus_chunk_documents(spark, sf_dir).collect()
    b = curation.corpus_chunk_documents(
        spark, sf_dir, token_method="ws"
    ).collect()
    assert a == b


def test_chunk_documents_nonoverlap_reconstructs(spark):
    """stride == chunk_tokens: chunks partition the token stream, so
    joining them back yields the original text byte-for-byte."""
    c = curation.CHUNK_TOKENS
    df = curation.corpus_chunk_documents(spark, TEST_SF_DIR, c, c)
    rebuilt = {
        r.doc_id: r.txt
        for r in df.groupBy("doc_id")
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_list(F.struct("chunk_id", "chunk_text"))
                ).chunk_text,
                " ",
            ).alias("txt")
        )
        .collect()
    }
    want = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet").collect()
    }
    assert rebuilt == want


def test_chunk_documents_plan_is_narrow(spark):
    plan = _plan(curation.corpus_chunk_documents(spark, TEST_SF_DIR))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan


# --- mixture / temperature sampling weights ----------------------------------
def test_mixture_weights_oracle_parity(spark):
    df = curation.corpus_mixture_weights(spark, TEST_SF_DIR)
    ok, msg = compare(df, curation.CORPUS_MIXTURE_SQL, TEST_SF_DIR)
    assert ok, msg


def test_mixture_weights_oracle_parity_sf001(spark):
    df = curation.corpus_mixture_weights(spark, ORACLE_SF_DIR)
    ok, msg = compare(df, curation.CORPUS_MIXTURE_SQL, ORACLE_SF_DIR)
    assert ok, msg


def test_mixture_weights_semantics(spark):
    """Rebalanced shares sum to 1; alpha=1 is the identity mixture
    (every rate 1.0); alpha<1 up-weights every minority language and
    down-weights the majority one."""
    rows = curation.corpus_mixture_weights(spark, TEST_SF_DIR).collect()
    assert abs(sum(r.p_sampled for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.p_raw for r in rows) - 1.0) < 1e-4
    major = max(rows, key=lambda r: r.p_raw)
    assert major.rate < 1.0
    for r in rows:
        if r.lang != major.lang:
            assert r.rate > 1.0 or abs(r.p_raw - major.p_raw) < 1e-6, r
    ident = curation.corpus_mixture_weights(spark, TEST_SF_DIR, alpha=1.0)
    assert all(abs(r.rate - 1.0) < 1e-6 for r in ident.collect())
    ok, msg = compare(ident, curation._mixture_sql(1.0), TEST_SF_DIR)
    assert ok, msg


def test_mixture_weights_single_scan(spark):
    """The corpus is read exactly once: both normalizers are windows
    over the |langs|-row aggregate, not branched re-aggregations (the
    branched draft re-scanned the corpus 2-3x even under AQE reuse).
    Executed first — AQE's final plan is what counts."""
    df = curation.corpus_mixture_weights(spark, TEST_SF_DIR)
    df.collect()
    plan = _plan(df).split("Initial Plan")[0]
    assert plan.count("Scan parquet") == 1, plan


def test_resample_bucket_is_salted(spark):
    """The fractional-copy slice must not reuse the split/sample
    bucket: the salted and unsalted bucket disagree on essentially
    every doc (equal only by 1/BUCKETS hash coincidence)."""
    docs = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet")
    b = curation._bucket(F.col("doc_id"))
    bs = curation._bucket(F.concat(F.lit("rs"), F.col("doc_id").cast("string")))
    same = docs.filter(b == bs).count()
    assert same <= max(2, docs.count() // 1000), same


# --- pluggable token counting ------------------------------------------------
def test_token_budget_chars4_oracle_parity(spark):
    """The non-default token-count method, oracle-checked end-to-end:
    Spark's chars4 budget selection vs DuckDB rebuilding the same
    ceil(len/4) counts (the whitespace default's byte-identical oracle
    is already pinned by test_oracle_parity)."""
    df = curation.corpus_token_budget(spark, TEST_SF_DIR, token_method="chars4")
    ok, msg = compare(df, curation._token_budget_sql("chars4"), TEST_SF_DIR)
    assert ok, msg


def test_mixture_weights_regex_oracle_parity(spark):
    df = curation.corpus_mixture_weights(
        spark, TEST_SF_DIR, token_method="regex"
    )
    ok, msg = compare(df, curation._mixture_sql(method="regex"), TEST_SF_DIR)
    assert ok, msg


def test_token_count_default_sql_unchanged():
    """The builder must regenerate the historical default SQL exactly —
    the guarantee that threading the method through changed nothing
    for every registered oracle."""
    assert "len(string_split(text, ' '))" in curation.CORPUS_TOKEN_BUDGET_SQL
    assert "len(string_split(text, ' '))" in curation.CORPUS_MIXTURE_SQL


def test_token_count_rejects_unknown_method():
    import pytest

    with pytest.raises(ValueError):
        curation.token_count(F.col("text"), "bpe")
    with pytest.raises(ValueError):
        curation.token_count_sql("text", "bpe")


# --- deterministic shuffle + sharded export ----------------------------------
def test_shuffle_order_oracle_parity(spark):
    ok, msg = compare(
        curation.corpus_shuffle_order(spark, TEST_SF_DIR),
        curation.CORPUS_SHUFFLE_ORDER_SQL,
        TEST_SF_DIR,
    )
    assert ok, msg


def test_shuffle_order_oracle_parity_sf001(spark):
    ok, msg = compare(
        curation.corpus_shuffle_order(spark, ORACLE_SF_DIR),
        curation.CORPUS_SHUFFLE_ORDER_SQL,
        ORACLE_SF_DIR,
    )
    assert ok, msg


def test_shuffle_order_is_a_permutation_not_identity(spark):
    rows = curation.corpus_shuffle_order(spark, TEST_SF_DIR).collect()
    n = len(rows)
    total = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet").count()
    assert n == total and len({r.doc_id for r in rows}) == n
    # every shard non-empty and dense 1..|shard| positions
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) == set(range(curation.SHUFFLE_SHARDS))
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # the within-shard order must not be doc_id order (it's a shuffle)
    order0 = [
        r.doc_id
        for r in sorted(rows, key=lambda r: r.pos)
        if r.shard == 0
    ]
    assert order0 != sorted(order0)


def test_shuffle_order_one_exchange(spark):
    import re

    df = curation.corpus_shuffle_order(spark, TEST_SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    keys = {
        m.group(1)
        for m in re.finditer(r"Exchange hashpartitioning\((\w+)#", plan)
    }
    assert keys == {"shard"}, (keys, plan)
    assert "rangepartitioning" not in plan  # no global sort


# --- corpus snapshot diff ------------------------------------------------
def test_corpus_snapshot_diff_oracle_parity_sf001(spark):
    """The diff also at the driver's oracle SF (the sf0.001 run rides
    the parametrized _ORACLES row)."""
    ok, msg = compare(
        curation.corpus_snapshot_diff(spark, ORACLE_SF_DIR),
        curation.SNAPSHOT_DIFF_SQL,
        ORACLE_SF_DIR,
    )
    assert ok, msg


def test_corpus_diff_statuses_and_validation(spark):
    """Planted two-snapshot fixture: every status class, unchanged
    dropped, fingerprint covers ALL fp_cols (a lang-only change is
    'changed'), and the coalesce keeps null vs '' from colliding."""
    schema = "doc_id long, text string, lang string, source string"
    old = spark.createDataFrame(
        [
            (1, "same", "en", "a"),       # unchanged -> dropped
            (2, "old text", "en", "a"),   # changed (text)
            (3, "same", "en", "a"),       # changed (lang only)
            (4, "gone", "en", "a"),       # removed
            (5, None, "en", "a"),         # null text == '' -> unchanged
        ],
        schema,
    )
    new = spark.createDataFrame(
        [
            (1, "same", "en", "a"),
            (2, "new text", "en", "a"),
            (3, "same", "de", "a"),
            (5, "", "en", "a"),
            (6, "fresh", "en", "a"),      # added
        ],
        schema,
    )
    got = {
        r.doc_id: r.status
        for r in curation.corpus_diff(old, new).collect()
    }
    assert got == {
        2: "changed",
        3: "changed",
        4: "removed",
        6: "added",
    }
    with pytest.raises(ValueError, match="lacks column"):
        curation.corpus_diff(old.drop("lang"), new)


def test_corpus_diff_shuffle_carries_fingerprints_not_text(spark):
    """The 100 TB property: both sides reduce to (doc_id, md5) BEFORE
    the full-outer join, so no Exchange carries a text/payload column."""
    df = curation.corpus_snapshot_diff(spark, TEST_SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FullOuter" in plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text" not in line, line


# --- benchmark decontamination ---------------------------------------------
def test_corpus_decontaminate_oracle_parity(spark):
    """13-gram benchmark-overlap flags == the string-gram DuckDB
    recomputation at sf0.001 + sf0.01 (pytest oracle; off-registry
    under the 50-entry cap)."""
    from tests.conftest import ORACLE_SF_DIR

    from tests.oracle_harness import compare

    for sf in (TEST_SF_DIR, ORACLE_SF_DIR):
        ok, msg = compare(
            curation.corpus_decontaminate(spark, sf),
            curation.CORPUS_DECONTAMINATE_SQL,
            sf,
        )
        assert ok, msg


def test_contamination_flags_planted(spark):
    """Planted leak classes: verbatim benchmark doc, a 13-word span
    copied mid-document (exactly one shared gram), a 12-word copy
    (below n -> clean), and an unrelated doc; every doc gets a row."""
    import pyspark.sql.functions as F

    bw = [f"b{i}" for i in range(20)]       # benchmark vocabulary
    bench = spark.createDataFrame(
        [(0, " ".join(bw))], "bench_id long, text string"
    )
    span13 = " ".join(bw[3:16])
    span12 = " ".join(bw[3:15])
    docs = spark.createDataFrame(
        [
            (1, " ".join(bw)),                        # verbatim leak
            (2, "x1 x2 " + span13 + " x3 x4"),        # one 13-gram hit
            (3, "x1 x2 " + span12 + " x3 x4 x5"),     # 12 words: clean
            (4, " ".join(f"y{i}" for i in range(30))),  # unrelated
            (5, "too short"),                          # < n words
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: (r.n_hits, r.contaminated)
        for r in curation.contamination_flags(docs, bench).collect()
    }
    assert set(rows) == {1, 2, 3, 4, 5}
    assert rows[1] == (20 - 13 + 1, True)  # all 8 grams of the verbatim doc
    assert rows[2] == (1, True)
    assert rows[3] == (0, False)
    assert rows[4] == (0, False)
    assert rows[5] == (0, False)
    # the corpus gram table never enters an Exchange: benchmark grams
    # and hit rows both broadcast (plan pin)
    plan = (
        curation.contamination_flags(docs, bench)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan


def test_contamination_short_benchmark_rows_adaptive_window(spark):
    """Review-finding regression: a benchmark row SHORTER than n must
    match at its own full length — a verbatim 8-word eval item leaked
    into a training doc is contaminated, not silently clean; unrelated
    docs stay clean and sub-window docs pass through."""
    short = "what is the capital of france paris answer"  # 8 words
    bench = spark.createDataFrame(
        [(0, short), (1, " ".join(f"b{i}" for i in range(20)))],
        "bench_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "intro words " + short + " trailing tail"),  # leak
            (2, "what is the capital of france paris"),  # 7w: no window
            (3, " ".join(f"z{i}" for i in range(12))),   # unrelated
        ],
        "doc_id long, text string",
    )
    flags = {
        r.doc_id: (r.n_hits, r.contaminated)
        for r in curation.contamination_flags(docs, bench).collect()
    }
    assert flags[1] == (1, True)
    assert flags[2] == (0, False)
    assert flags[3] == (0, False)


def test_neardup_keep_best_oracle_parity(spark):
    ok, msg = compare(
        curation.corpus_neardup_keep_best(spark, TEST_SF_DIR),
        curation.CORPUS_NEARDUP_KEEP_BEST_SQL,
        TEST_SF_DIR,
    )
    assert ok, msg


def test_neardup_keep_best_oracle_parity_sf001(spark):
    ok, msg = compare(
        curation.corpus_neardup_keep_best(spark, ORACLE_SF_DIR),
        curation.CORPUS_NEARDUP_KEEP_BEST_SQL,
        ORACLE_SF_DIR,
    )
    assert ok, msg


def test_neardup_keep_best_elects_argmax_score(spark):
    """Per cluster the survivor is the max-score member (min doc_id on
    ties); singletons survive unconditionally; the survivor count
    equals corpus_neardup_apply's (same clusters, different electee)."""
    from fledge_south_csvplayback_spark.operators import dedup

    members = dedup.dedup_clusters(spark, TEST_SF_DIR).collect()
    scores = {
        r.doc_id: r.score
        for r in curation.quality_model_score(spark, TEST_SF_DIR).collect()
    }
    by_cluster: dict[int, list] = {}
    for r in members:
        by_cluster.setdefault(r.cluster_id, []).append(r.doc_id)
    assert any(len(v) > 1 for v in by_cluster.values())  # planted dups
    expected_losers = set()
    for ids in by_cluster.values():
        winner = min(ids, key=lambda i: (-scores[i], i))
        expected_losers |= set(ids) - {winner}
    all_ids = set(scores)
    got = {
        r.doc_id
        for r in curation.corpus_neardup_keep_best(spark, TEST_SF_DIR).collect()
    }
    assert got == all_ids - expected_losers
    base = curation.corpus_neardup_apply(spark, TEST_SF_DIR).count()
    assert len(got) == base
    # and at least one election differs from the min-id rule on the
    # fixture, otherwise this operator isn't being exercised
    min_id_losers = {
        r.doc_id for r in members if not r.keep
    }
    assert expected_losers != min_id_losers or all(
        min(ids) == min(ids, key=lambda i: (-scores[i], i))
        for ids in by_cluster.values()
    )


def test_neardup_keep_best_plan_shape(spark):
    """The documents scan never crosses a HASH exchange: the member
    join is a broadcast hash join, the election window partitions by
    cluster_id over member rows only, and the final anti-join
    broadcasts the loser set. (A starved-regime round-robin fan-out of
    the scan itself — operators/fanout.spread ahead of the per-token
    md5 score projection — is allowed: it is a no-op once the input
    provides scan parallelism.)"""
    plan = _plan(curation.corpus_neardup_keep_best(spark, TEST_SF_DIR))
    # the member↔score join is broadcast by hint (static plan already)
    assert "BroadcastHashJoin" in plan
    # the election window shuffles member rows on cluster_id only
    assert "hashpartitioning(cluster_id" in plan
    # the final anti-join is left to AQE (a heavily duplicated corpus
    # can make the loser set big — same stance as corpus_neardup_apply),
    # so the static plan may show SortMergeJoin for it; assert the ONLY
    # sort-merge join, if any, is that LeftAnti
    smj = [l for l in plan.splitlines() if "SortMergeJoin" in l]
    assert all("LeftAnti" in l for l in smj), smj


