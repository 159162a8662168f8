"""Corpus-curation operators: the selection half of a training-data
pipeline (the analysis half lives in ``text.py``/``dedup.py``).

Everything here is DETERMINISTIC and engine-reproducible — sampling
decisions key off ``md5(doc_id)`` buckets, never a RNG — so the same
corpus yields byte-identical samples on any cluster size, on re-runs,
and in the DuckDB oracles (``tests/test_curation.py`` runs the same
compare the driver uses; the driver registry itself is at its 50-entry
cap, like ``winnow_fingerprint``).

Scale notes (the 100 TB contract):

- **hash sampling / splits / stratified sampling** are narrow
  projections + filters: no shuffle, no state, whole-stage codegen.
  A 1000-executor scan applies them at read speed. Sampling by hash
  (not ``rand()``) also makes train/val/test membership STABLE as the
  corpus grows — a doc's split never changes when other docs arrive,
  which is what leakage-free incremental training needs.
- **token-budget selection** is the one op that looks inherently
  sequential (a running sum in priority order per language). The
  naive window — ``sum over (partition by lang order by ...)`` — is a
  scale-killer: one partition per language means ~5 tasks process
  100 TB. Instead it runs two-pass: (1) aggregate token counts per
  (lang, bucket) — ≤ |langs|·10000 tiny rows — and window THAT to get
  each bucket's prefix; (2) broadcast the prefixes back and window
  the big table partitioned by (lang, bucket), restoring ~10000×
  the parallelism. Same semantics, pinned against the one-window
  oracle SQL and by a plan test that forbids the lang-only window.

The suite: uniform/stratified/cluster hash sampling, train/val/test
splits, per-language token budgets and batch packing (shared two-pass
running sum), fixed and per-language-adaptive quality filters, exact
dedup applied to the corpus (full, incremental-ingest, and near-dup
cluster variants), a dataset-card profile, and the end-to-end
materializer. These are gap-fill operators (the reference plugin has
no corpus selection; its closest surface is the row-filtering in
``process_csv_data.py``) mandated by the training-pipeline brief.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

BUCKETS = 10000  # hash-bucket resolution: rates quantize to 1/10000
SAMPLE_RATE = 0.25
SPLITS = (("train", 9000), ("val", 9500), ("test", BUCKETS))
# stratified default: downsample the dominant language, keep the rest
STRATA_RATES = {"en": 0.25}
STRATA_DEFAULT_RATE = 1.0
TOKEN_BUDGET = 3000  # per-language whitespace-token budget

QUALITY_MIN_TOKENS = 20
QUALITY_MAX_TOKENS = 5000
QUALITY_MIN_TTR = 0.3
QUALITY_TOKEN_LEN_RANGE = (2.0, 10.0)


_URI_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*://")


def _paths_overlap(a: str, b: str) -> bool:
    """True when one path equals or CONTAINS the other — the collision
    class ``mode("overwrite")`` turns into data loss: writing to a dir
    nested inside the read path (or enclosing it) recursively deletes
    input files while the lazy job is still reading them.

    Local paths compare on ``realpath`` (symlink aliases of the read
    dir resolve to the same target, so an aliased write path cannot
    escape the guard). Strings carrying a URI scheme (``s3://…``,
    ``hdfs://…``) are NOT coerced through ``abspath`` — that would
    resolve them against the driver CWD — and compare on their
    trailing-slash-normalized prefix instead. A local path and a URI
    never collide here (different namespaces)."""

    def norm(p: str) -> str:
        if _URI_SCHEME_RE.match(p):
            # scheme and authority are case-insensitive per RFC 3986
            # (and S3/HDFS hosts follow DNS rules): 'S3://Bucket/x'
            # must not escape the guard against 's3://bucket/x'; the
            # path component stays case-sensitive (object keys are)
            scheme, rest = p.split("://", 1)
            host, slash, path = rest.partition("/")
            return f"{scheme.lower()}://{host.lower()}{slash}{path}".rstrip(
                "/"
            )
        return os.path.realpath(os.path.abspath(p))

    na, nb = norm(a), norm(b)
    sep = "/" if (_URI_SCHEME_RE.match(a) or _URI_SCHEME_RE.match(b)) else os.sep
    return (
        na == nb
        or na.startswith(nb + sep)
        or nb.startswith(na + sep)
    )


def _docs_path(sf_dir: str) -> str:
    """The ONE documents-table path builder: ``_docs`` reads it and the
    starvation-checked ``spread`` calls measure it — a single source so
    the fan-out guard can never silently measure a different file than
    the scan it protects (round-15 advisory)."""
    return f"{sf_dir}/documents.parquet"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(_docs_path(sf_dir))


# --- pluggable token counting ------------------------------------------------
# Every budget/mixture operator counts tokens through ONE expression so
# the counting rule is a corpus-wide config, not a per-operator accident.
# Real pipelines budget TOKENIZER tokens; with no tokenizer in-engine,
# the methods are the standard proxies.
TOKEN_COUNT_METHODS = ("whitespace", "chars4", "regex")


def token_count(text, method: str = "whitespace"):
    """Per-document token-count expression (Catalyst, codegen'd):

    - ``whitespace``: ``size(split(text, ' '))`` — the historical
      default, byte-identical to every pre-existing oracle;
    - ``chars4``: ``ceil(len/4)`` — the chars-per-token rule of thumb
      for BPE vocabularies (OpenAI's documented ~4 chars/token
      heuristic); cheapest, tokenizer-free, language-rough;
    - ``regex``: BPE-ish class runs — letter runs + digit runs +
      symbol runs (``text_token_classes``' decomposition), a closer
      proxy when punctuation-heavy text would fool whitespace counts.

    The DuckDB twin is ``token_count_sql``; both must change together
    (pinned by the non-default-method oracle pytest)."""
    if method == "whitespace":
        return F.size(F.split(text, " "))
    if method == "chars4":
        return F.ceil(F.length(text) / 4).cast("int")
    if method == "regex":
        from fledge_south_csvplayback_spark.operators import text as text_ops

        return (
            F.regexp_count(text, F.lit(text_ops.WORD_RE))
            + F.regexp_count(text, F.lit(text_ops.NUM_RE))
            + F.regexp_count(text, F.lit(r"[^a-z0-9\s]+"))
        ).cast("int")
    raise ValueError(
        f"unknown token-count method {method!r}; one of {TOKEN_COUNT_METHODS}"
    )


def token_count_sql(expr: str, method: str = "whitespace") -> str:
    """DuckDB twin of ``token_count`` (same INTEGER result type)."""
    if method == "whitespace":
        return f"CAST(len(string_split({expr}, ' ')) AS INTEGER)"
    if method == "chars4":
        return f"CAST(ceil(len({expr}) / 4.0) AS INTEGER)"
    if method == "regex":
        from fledge_south_csvplayback_spark.operators import text as text_ops

        return (
            f"CAST(len(regexp_extract_all({expr}, '{text_ops.WORD_RE}'))"
            f" + len(regexp_extract_all({expr}, '{text_ops.NUM_RE}'))"
            f" + len(regexp_extract_all({expr}, '[^a-z0-9\\s]+')) AS INTEGER)"
        )
    raise ValueError(
        f"unknown token-count method {method!r}; one of {TOKEN_COUNT_METHODS}"
    )


def _bucket(col: Column) -> Column:
    """Deterministic bucket in [0, BUCKETS): first 8 md5 hex digits of
    the stringified key. Reproduced verbatim in DuckDB (same md5, same
    hex slice), so every sampling decision is oracle-checkable."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10)
        .cast("long")
        % BUCKETS
    )


def _bucket_sql(expr: str) -> str:
    return (
        f"(('0x' || substring(md5(CAST({expr} AS VARCHAR)), 1, 8))::BIGINT"
        f" % {BUCKETS})"
    )


# --- uniform hash sample -----------------------------------------------------
def corpus_sample(
    spark: SparkSession, sf_dir: str, rate: float = SAMPLE_RATE
) -> DataFrame:
    """Uniform deterministic sample: keep docs whose hash bucket falls
    below ``rate``. Narrow filter — no shuffle, no RNG, stable under
    corpus growth and partitioning changes."""
    thresh = int(rate * BUCKETS)
    return (
        _docs(spark, sf_dir)
        .withColumn("bucket", _bucket(F.col("doc_id")))
        .filter(F.col("bucket") < thresh)
        .select("doc_id", "lang", "source", "bucket")
    )


CORPUS_SAMPLE_SQL = f"""
SELECT doc_id, lang, source, {_bucket_sql('doc_id')} AS bucket
FROM documents
WHERE {_bucket_sql('doc_id')} < {int(SAMPLE_RATE * BUCKETS)}
"""


# --- train/val/test split ----------------------------------------------------
def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every doc a split label from its hash bucket
    (train/val/test = 90/5/5). Membership is a pure function of
    doc_id: adding documents later never moves an existing doc across
    splits (no eval-set leakage on incremental ingests)."""
    return (
        _docs(spark, sf_dir)
        .withColumn("bucket", _bucket(F.col("doc_id")))
        .select("doc_id", "lang", "bucket", _split_label().alias("split"))
    )


def _split_label() -> Column:
    # CASE over the materialized bucket COLUMN, not the md5 expression:
    # CollapseProject would otherwise inline one md5 per branch
    label = F.lit(SPLITS[-1][0])
    for name, upper in reversed(SPLITS[:-1]):
        label = F.when(F.col("bucket") < upper, F.lit(name)).otherwise(label)
    return label


def _split_case_sql() -> str:
    branches = " ".join(
        f"WHEN bucket < {upper} THEN '{name}'" for name, upper in SPLITS[:-1]
    )
    return f"CASE {branches} ELSE '{SPLITS[-1][0]}' END"


CORPUS_SPLIT_SQL = f"""
WITH b AS (
    SELECT doc_id, lang, {_bucket_sql('doc_id')} AS bucket FROM documents
)
SELECT doc_id, lang, bucket, {_split_case_sql()} AS split FROM b
"""


# --- stratified (per-language) sample ----------------------------------------
def corpus_sample_stratified(
    spark: SparkSession,
    sf_dir: str,
    rates: dict[str, float] | None = None,
    default_rate: float = STRATA_DEFAULT_RATE,
) -> DataFrame:
    """Per-stratum hash sample: each language keeps its own rate (the
    default config downsamples dominant 'en' to rebalance the mix).
    The per-lang thresholds ride in as a literal CASE — no join, still
    a narrow filter."""
    rates = STRATA_RATES if rates is None else rates
    thresh = F.lit(int(default_rate * BUCKETS))
    for lang, rate in sorted(rates.items()):
        thresh = F.when(
            F.col("lang") == lang, F.lit(int(rate * BUCKETS))
        ).otherwise(thresh)
    return (
        _docs(spark, sf_dir)
        .withColumn("bucket", _bucket(F.col("doc_id")))
        .filter(F.col("bucket") < thresh)
        .select("doc_id", "lang", "bucket")
    )


def _strata_case_sql() -> str:
    branches = " ".join(
        f"WHEN lang = '{lang}' THEN {int(rate * BUCKETS)}"
        for lang, rate in sorted(STRATA_RATES.items())
    )
    return f"CASE {branches} ELSE {int(STRATA_DEFAULT_RATE * BUCKETS)} END"


CORPUS_SAMPLE_STRATIFIED_SQL = f"""
WITH b AS (
    SELECT doc_id, lang, {_bucket_sql('doc_id')} AS bucket FROM documents
)
SELECT doc_id, lang, bucket FROM b
WHERE bucket < {_strata_case_sql()}
"""


# --- per-language token-budget selection -------------------------------------
def corpus_token_budget(
    spark: SparkSession,
    sf_dir: str,
    budget: int = TOKEN_BUDGET,
    token_method: str = "whitespace",
) -> DataFrame:
    """Select documents per language, in deterministic hash priority
    order (bucket, doc_id), until the cumulative whitespace-token
    count reaches ``budget`` — the domain-mixture step of a training
    pipeline ("N tokens of each language").

    Semantics: keep exactly the docs whose INCLUSIVE running token sum
    over (bucket, doc_id) order within their language is ≤ budget —
    one running sum, which the oracle writes as the single
    lang-partitioned window it is. The PLAN is the two-pass version
    (module docstring): per-(lang, bucket) token totals → tiny
    lang-partitioned prefix window (≤ |langs|·BUCKETS rows) →
    broadcast prefixes back → big-side window partitioned by
    (lang, bucket). The full corpus never funnels through
    one-partition-per-language; the only wide exchange of the big
    table is the (lang, bucket) hash partitioning.

    ``token_method`` swaps the counting rule (see ``token_count``);
    the default keeps every existing oracle byte-identical, and the
    ``chars4`` variant is oracle-checked via ``_token_budget_sql``.
    """
    return (
        _running_token_sum(spark, sf_dir, method=token_method)
        .filter(F.col("cum_tok") <= budget)
        .select("doc_id", "lang", "n_tok", "cum_tok")
    )


def _running_token_sum(
    spark: SparkSession, sf_dir: str, method: str = "whitespace"
) -> DataFrame:
    """Per-language INCLUSIVE running token sum in deterministic hash
    priority order (bucket, doc_id) — the two-pass scalable plan (see
    module docstring) shared by ``corpus_token_budget`` (filters on
    it) and ``corpus_pack_batches`` (bins it). Output: (doc_id, lang,
    n_tok, bucket, cum_tok). ``method`` is the ``token_count`` rule."""
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        token_count(F.col("text"), method).alias("n_tok"),
        _bucket(F.col("doc_id")).alias("bucket"),
    )
    return _running_sum_two_pass(docs)


def _running_sum_two_pass(docs: DataFrame) -> DataFrame:
    """The two-pass per-language running sum over a (doc_id, lang,
    n_tok, bucket) frame — ONE implementation shared by the
    expression-counted path above and the externally-counted path
    (``corpus_token_budget_bpe``), so the prefix/window shape cannot
    drift between them.

    The grouping/join key is ``coalesce(lang, NUL)``, not ``lang``: a
    window PARTITION BY (the oracle's shape) treats NULL as a real
    partition, but the prefix-broadcast JOIN here would silently drop
    NULL-lang docs (NULL keys never equi-join) — found by the
    hostile-docs sweep. No real language code contains NUL, so the
    surrogate cannot collide."""
    docs = docs.withColumn("_lkey", F.coalesce(F.col("lang"), F.lit("\x00")))
    per_bucket = docs.groupBy("_lkey", "bucket").agg(
        F.sum("n_tok").alias("b_tok"),
        F.count("n_tok").alias("b_cnt"),  # non-NULL count
    )
    wb = (
        Window.partitionBy("_lkey")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = per_bucket.select(
        "_lkey",
        "bucket",
        F.coalesce(F.sum("b_tok").over(wb), F.lit(0)).alias("pre_tok"),
        F.coalesce(F.sum("b_cnt").over(wb), F.lit(0)).alias("pre_cnt"),
    )
    wr = (
        Window.partitionBy("_lkey", "bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # SQL window-SUM semantics exactly: NULL n_tok rows don't advance
    # the sum, and cum_tok is NULL only while the ENTIRE per-language
    # prefix holds no non-NULL count (a bucket-local sum alone returns
    # NULL whenever a NULL-text doc leads its bucket — hostile sweep)
    has_any = (F.col("pre_cnt") + F.count("n_tok").over(wr)) > 0
    cum = F.col("pre_tok") + F.coalesce(F.sum("n_tok").over(wr), F.lit(0))
    return (
        docs.join(F.broadcast(prefix), ["_lkey", "bucket"])
        .withColumn("cum_tok", F.when(has_any, cum))
        .drop("_lkey", "pre_cnt")
    )


def corpus_token_budget_bpe(
    spark: SparkSession,
    sf_dir: str,
    budget: int = TOKEN_BUDGET,
    merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """``corpus_token_budget`` over REAL tokenizer counts: the budget
    is expressed in ``text_bpe_tokenize`` BPE tokens — what "N tokens
    of each language" actually means when a training tokenizer exists —
    instead of the ``token_count`` expression proxies. Same selection
    semantics (inclusive running sum in (bucket, doc_id) priority
    order per language, keep while ≤ budget) via the shared
    ``_running_sum_two_pass``; the only plan change is that the count
    arrives from the tokenizer's Arrow pass joined on doc_id instead
    of a per-row expression. BPE counts are not SQL-expressible, so
    the gate is the documented weaker one (pytest replica of the
    running-sum selection over the op's own counts), like k-means.
    """
    from fledge_south_csvplayback_spark.operators import text as text_ops

    counts = text_ops.text_bpe_tokenize(spark, sf_dir, merges).select(
        "doc_id", F.col("n_bpe_tokens").alias("n_tok")
    )
    docs = (
        _docs(spark, sf_dir)
        .select("doc_id", "lang", _bucket(F.col("doc_id")).alias("bucket"))
        .join(counts, "doc_id")
    )
    return (
        _running_sum_two_pass(docs)
        .filter(F.col("cum_tok") <= budget)
        .select("doc_id", "lang", "n_tok", "cum_tok")
    )


def _token_budget_sql(method: str = "whitespace") -> str:
    return f"""
WITH s AS (
    SELECT doc_id, lang,
           {token_count_sql('text', method)} AS n_tok,
           {_bucket_sql('doc_id')} AS bucket
    FROM documents
),
c AS (
    SELECT doc_id, lang, n_tok,
           CAST(SUM(n_tok) OVER (
               PARTITION BY lang ORDER BY bucket, doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
    FROM s
)
SELECT doc_id, lang, n_tok, cum_tok FROM c WHERE cum_tok <= {TOKEN_BUDGET}
"""


CORPUS_TOKEN_BUDGET_SQL = _token_budget_sql()


# --- quality filter ----------------------------------------------------------
def _quality_cols(text: Column) -> dict[str, Column]:
    """The quality signals + per-rule flags as named expressions, so
    the audit query (``quality_filter``) and the corpus materializer
    (``write_curated_corpus``) apply literally the same rules."""
    toks = F.split(text, " ")
    n_tokens = F.size(toks)
    ttr = F.round(F.size(F.array_distinct(toks)) / n_tokens, 6)
    mean_len = F.round(
        F.aggregate(
            F.transform(toks, lambda t: F.length(t)),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        / n_tokens,
        6,
    )
    len_ok = (n_tokens >= QUALITY_MIN_TOKENS) & (
        n_tokens <= QUALITY_MAX_TOKENS
    )
    ttr_ok = ttr >= QUALITY_MIN_TTR
    lo, hi = QUALITY_TOKEN_LEN_RANGE
    shape_ok = (mean_len >= lo) & (mean_len <= hi)
    return {
        "n_tokens": n_tokens,
        "ttr": ttr,
        "mean_token_len": mean_len,
        "len_ok": len_ok,
        "ttr_ok": ttr_ok,
        "shape_ok": shape_ok,
        "keep": len_ok & ttr_ok & shape_ok,
    }


def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule filter over the ``text_stats`` signals: token
    count in range, type-token ratio floor (drops boilerplate /
    repetition), mean token length in range (drops junk tokenization).
    Emits per-rule flags plus the combined keep bit so downstream can
    audit WHY a doc dropped. All comparisons are on round(x, 6) —
    identical in both engines, so a doc sitting exactly on a threshold
    cannot flip between Spark and the oracle."""
    q = _quality_cols(F.col("text"))
    return _docs(spark, sf_dir).select(
        "doc_id", *[c.alias(name) for name, c in q.items()]
    )


QUALITY_FILTER_SQL = f"""
WITH s AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
m AS (
    SELECT doc_id,
           CAST(len(t) AS INTEGER) AS n_tokens,
           ROUND(len(list_distinct(t))::DOUBLE / len(t), 6) AS ttr,
           ROUND(list_sum(list_transform(t, x -> len(x)))::DOUBLE / len(t), 6)
               AS mean_token_len
    FROM s
)
SELECT doc_id, n_tokens, ttr, mean_token_len,
       (n_tokens >= {QUALITY_MIN_TOKENS}
        AND n_tokens <= {QUALITY_MAX_TOKENS}) AS len_ok,
       (ttr >= {QUALITY_MIN_TTR}) AS ttr_ok,
       (mean_token_len >= {QUALITY_TOKEN_LEN_RANGE[0]}
        AND mean_token_len <= {QUALITY_TOKEN_LEN_RANGE[1]}) AS shape_ok,
       (n_tokens >= {QUALITY_MIN_TOKENS}
        AND n_tokens <= {QUALITY_MAX_TOKENS}
        AND ttr >= {QUALITY_MIN_TTR}
        AND mean_token_len >= {QUALITY_TOKEN_LEN_RANGE[0]}
        AND mean_token_len <= {QUALITY_TOKEN_LEN_RANGE[1]}) AS keep
FROM m
"""


# --- dedup-applied corpus ----------------------------------------------------
def _keep_first_per_fingerprint(docs: DataFrame) -> DataFrame:
    """Shared keep-first window: adds ``fingerprint`` (md5 of text) and
    ``n_copies``, keeps the min-doc_id row per fingerprint — one
    fingerprint-keyed exchange; both window functions share its
    partitioning. Used by the dedup-applied corpus, the materializer,
    and the incremental ingest so the keeper rule cannot drift (unused
    output columns are pruned by Catalyst at each call site)."""
    wf = Window.partitionBy("fingerprint")
    if "fingerprint" not in docs.columns:
        # only hash when the caller hasn't already (the incremental
        # path computes it for its anti-join; re-hashing here would be
        # a second md5 pass over every surviving document's text)
        docs = docs.withColumn("fingerprint", F.md5(F.col("text")))
    return (
        docs.withColumn("rn", F.row_number().over(wf.orderBy("doc_id")))
        .withColumn("n_copies", F.count(F.lit(1)).over(wf))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def corpus_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SELECTION side of exact dedup: the surviving corpus itself
    (keeper = min doc_id per content hash), not just the group report
    ``dedup_exact`` emits. Fingerprint cardinality ~ |docs|, so
    partitions stay balanced at any scale (no hot keys: a
    fingerprint's group is the copies of one document)."""
    return _keep_first_per_fingerprint(_docs(spark, sf_dir)).select(
        "doc_id", "lang", "source", "fingerprint", "n_copies"
    )


CORPUS_DEDUP_APPLY_SQL = """
SELECT doc_id, lang, source, md5(text) AS fingerprint,
       COUNT(*) OVER (PARTITION BY md5(text)) AS n_copies
FROM documents
QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
"""


# --- end-to-end corpus materializer ------------------------------------------
def write_curated_corpus(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> None:
    """Materialize the training corpus: quality filter → exact-dedup
    keeper → split label, written as parquet ``partitionBy(split,
    lang)`` so every downstream trainer reading one split/language
    opens only its own files (partition pruning — the same layout
    lever as ``build_ivf_index``; pinned by a PartitionFilters plan
    assert in tests).

    Stage order is the cheap-first rule: the quality predicate is a
    narrow scan-side filter, so it runs BEFORE the dedup shuffle and
    the fingerprint exchange only carries survivors. Consequence
    (documented semantics, shared with a filter-then-dedup pipeline
    anywhere): the dedup keeper is the min doc_id among the
    quality-PASSING copies of a text. At 100 TB the write's widest
    dependency is the one fingerprint-keyed exchange; the output
    partition count is |splits|·|langs| directories of many files
    each, appendable on incremental ingest."""
    curated = (
        _keep_first_per_fingerprint(
            _docs(spark, sf_dir).filter(_quality_cols(F.col("text"))["keep"])
        )
        .withColumn("bucket", _bucket(F.col("doc_id")))
        .select(
            "doc_id",
            "text",
            "source",
            "n_chars",
            _split_label().alias("split"),
            "lang",
        )
    )
    curated.write.mode("overwrite").partitionBy("split", "lang").parquet(
        out_dir
    )


# --- corpus profile (dataset card) -------------------------------------------
def corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language dataset card: doc/source counts, token totals, and
    doc-length quantiles — the summary every corpus release ships.
    One grouped aggregate (map-side partials); the exact percentiles
    use Spark's linear-interpolated ``percentile``, the same
    definition as DuckDB's ``quantile_cont``. Exact distincts, not
    sketches: |langs| groups × |sources| per group is tiny state. At
    100 TB swap ``countDistinct`` for ``approx_count_distinct`` only
    if the distinct domain itself explodes (it is the cardinality of
    SOURCES, not docs)."""
    docs = _docs(spark, sf_dir).select(
        "lang",
        "source",
        F.size(F.split(F.col("text"), " ")).alias("n_tok"),
    )
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.countDistinct("source").alias("n_sources"),
        F.round(F.percentile("n_tok", F.lit(0.5)), 6).alias("p50_tokens"),
        F.round(F.percentile("n_tok", F.lit(0.9)), 6).alias("p90_tokens"),
    )


CORPUS_PROFILE_SQL = """
WITH s AS (
    SELECT lang, source,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok
    FROM documents
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       COUNT(DISTINCT source) AS n_sources,
       ROUND(quantile_cont(n_tok, 0.5), 6) AS p50_tokens,
       ROUND(quantile_cont(n_tok, 0.9), 6) AS p90_tokens
FROM s
GROUP BY lang
"""


# --- near-dup-applied corpus -------------------------------------------------
def corpus_neardup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The selection side of NEAR-dup removal: the corpus that
    survives dropping every near-dup cluster member except its
    canonical representative (``dedup_clusters``' component-min
    keeper). Completes the pipeline pair mining → connected components
    → surviving corpus.

    The loser set is |cluster members| − |clusters| ≪ |corpus| rows of
    one long each, so the anti-join broadcasts (AQE) and the documents
    table never shuffles here; the real cost is the upstream pair
    mining, measured separately (BASELINE.md 10M probes)."""
    from fledge_south_csvplayback_spark.operators import dedup

    losers = (
        dedup.dedup_clusters(spark, sf_dir)
        .filter(~F.col("keep"))
        .select("doc_id")
    )
    return (
        _docs(spark, sf_dir)
        .join(losers, "doc_id", "left_anti")
        .select("doc_id", "lang", "source")
    )


def _corpus_neardup_apply_sql() -> str:
    from fledge_south_csvplayback_spark.operators import dedup

    # composes the clusters oracle's shared closure fragment; losers =
    # members that are not their component's min
    return f"""
WITH RECURSIVE {dedup.CLUSTERS_CLOSURE_CTES},
losers AS (SELECT s AS doc_id FROM reach GROUP BY s HAVING s != MIN(d))
SELECT d.doc_id, d.lang, d.source
FROM documents d LEFT JOIN losers l ON d.doc_id = l.doc_id
WHERE l.doc_id IS NULL
"""


CORPUS_NEARDUP_APPLY_SQL = _corpus_neardup_apply_sql()


# --- quality-aware near-dup representative election ---------------------------
def corpus_neardup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup survivor selection — the FineWeb / Dolma
    "keep the best copy" rule: where ``corpus_neardup_apply`` keeps
    each cluster's min-doc_id member, this elects the member with the
    HIGHEST model-based quality score (``quality_model_score``'s
    classifier, the stage those pipelines run the election on), ties
    broken by min doc_id so the election is total and deterministic
    (scores are round(x, 6), so exact copies tie and fall to the id
    rule). Docs in no cluster survive unconditionally. Returns the
    surviving corpus as (doc_id, lang, source, score).

    Scale shape (mirrors ``corpus_neardup_apply``): the score is a
    codegen'd expression (no UDF, no shuffle — see
    ``quality_model_score``) and the hashed classifier's per-token
    md5s are the dominant per-row cost, so it is evaluated frugally:
    the ELECTION scores only cluster members — the member table
    (|members| ≪ |corpus|) broadcasts into the docs scan and the
    inner join filters rows BEFORE the score projection — and the
    election window shuffles those member rows only, on cluster_id.
    Survivors pay one corpus-wide scoring pass, for the output
    ``score`` column itself (probe-measured against the min-id
    baseline in BASELINE.md; the loser anti-join broadcasts). The
    documents table never crosses an exchange; the real cost stays
    the upstream pair mining, measured at 10M in BASELINE.md.
    """
    from fledge_south_csvplayback_spark.operators import dedup
    from fledge_south_csvplayback_spark.operators.fanout import spread

    weights, bias = _qmodel_weights()
    _, score = _qmodel_score_cols(F.col("text"), weights, bias)
    # the per-token md5 score projection is the expensive per-row work
    # here, and it sits directly on the documents scan — a small corpus
    # packed into one parquet row group would run it on ONE task, so
    # both scoring paths go through the guarded fan-out (a no-op once
    # the input provides scan parallelism; see operators/fanout.py)
    docs = spread(_docs(spark, sf_dir), spark, _docs_path(sf_dir))
    members = dedup.dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    ranked = (
        docs.select("doc_id", "text")
        .join(F.broadcast(members), "doc_id")
        .select("doc_id", "cluster_id", score.alias("score"))
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    losers = (
        ranked.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select("doc_id")
    )
    return docs.select(
        "doc_id", "lang", "source", score.alias("score")
    ).join(losers, "doc_id", "left_anti")


def _corpus_neardup_keep_best_sql() -> str:
    from fledge_south_csvplayback_spark.operators import dedup

    return f"""
WITH RECURSIVE {dedup.CLUSTERS_CLOSURE_CTES},
q AS ({QUALITY_MODEL_SQL}),
members AS (SELECT s AS doc_id, MIN(d) AS cluster_id FROM reach GROUP BY s),
ranked AS (
    SELECT m.doc_id,
           ROW_NUMBER() OVER (PARTITION BY m.cluster_id
                              ORDER BY q.score DESC, m.doc_id ASC) AS rn
    FROM members m JOIN q ON q.doc_id = m.doc_id
),
losers AS (SELECT doc_id FROM ranked WHERE rn > 1)
SELECT d.doc_id, d.lang, d.source, q.score
FROM documents d
JOIN q ON q.doc_id = d.doc_id
LEFT JOIN losers l ON d.doc_id = l.doc_id
WHERE l.doc_id IS NULL
"""


# CORPUS_NEARDUP_KEEP_BEST_SQL is defined after QUALITY_MODEL_SQL below
# (the oracle embeds it).


# --- group (cluster) sampling by source --------------------------------------
def corpus_sample_by_source(
    spark: SparkSession, sf_dir: str, rate: float = SAMPLE_RATE
) -> DataFrame:
    """Cluster sampling: keep or drop whole SOURCES, not individual
    docs — the leakage-avoidance variant (documents from one source
    are correlated; doc-level sampling puts near-copies of a held-out
    doc into training). The bucket keys off ``md5(source)``, so a
    source's membership is stable and every doc of a kept source
    stays. Same narrow no-shuffle plan as ``corpus_sample``."""
    thresh = int(rate * BUCKETS)
    return (
        _docs(spark, sf_dir)
        .withColumn("src_bucket", _bucket(F.col("source")))
        .filter(F.col("src_bucket") < thresh)
        .select("doc_id", "lang", "source", "src_bucket")
    )


CORPUS_SAMPLE_BY_SOURCE_SQL = f"""
SELECT doc_id, lang, source, {_bucket_sql('source')} AS src_bucket
FROM documents
WHERE {_bucket_sql('source')} < {int(SAMPLE_RATE * BUCKETS)}
"""


# --- incremental-ingest dedup ------------------------------------------------
INGEST_SPLIT_ID = 400  # docs with doc_id >= this play the "new batch"


def corpus_incremental_dedup(
    spark: SparkSession, sf_dir: str, split_id: int = INGEST_SPLIT_ID
) -> DataFrame:
    """Production ingest shape: which NEW documents survive dedup
    against an EXISTING corpus plus within-batch dedup? (Batch = docs
    with doc_id >= ``split_id``, corpus = the rest — a deterministic
    split so the op is oracle-checkable on one table.)

    Plan: the corpus side reduces to DISTINCT fingerprints BEFORE the
    anti-join — the join's build side is |unique texts| hashes, not
    the corpus — then a fingerprint-window keeps the min doc_id within
    the new batch. Both shuffles are keyed by the content hash; the
    corpus is scanned once, projected to one md5 column (column
    pruning reaches the scan). At a real 100 TB ingest the corpus
    fingerprint set is a maintained table, not a rescan — this op IS
    the maintenance step: its survivors' fingerprints are the rows you
    append to that set."""
    docs = _docs(spark, sf_dir).withColumn(
        "fingerprint", F.md5(F.col("text"))
    )
    corpus_fps = (
        docs.filter(F.col("doc_id") < split_id).select("fingerprint").distinct()
    )
    batch = docs.filter(F.col("doc_id") >= split_id)
    survivors = batch.join(corpus_fps, "fingerprint", "left_anti")
    return _keep_first_per_fingerprint(survivors).select(
        "doc_id", "lang", "source", "fingerprint"
    )


CORPUS_INCREMENTAL_DEDUP_SQL = f"""
WITH d AS (SELECT *, md5(text) AS fingerprint FROM documents),
corpus_fps AS (
    SELECT DISTINCT fingerprint FROM d WHERE doc_id < {INGEST_SPLIT_ID}
)
-- NOT EXISTS, not NOT IN: a NULL fingerprint in corpus_fps would make
-- NOT IN yield NULL for every row (dropping everything) while Spark's
-- left_anti ignores NULL build-side keys
SELECT d.doc_id, d.lang, d.source, d.fingerprint
FROM d
WHERE d.doc_id >= {INGEST_SPLIT_ID}
  AND NOT EXISTS (
      SELECT 1 FROM corpus_fps c WHERE c.fingerprint = d.fingerprint
  )
QUALIFY row_number() OVER (PARTITION BY d.fingerprint ORDER BY d.doc_id) = 1
"""


# --- adaptive (per-language quantile) quality filter -------------------------
ADAPTIVE_QUANTILES = (0.05, 0.95)  # drop each language's length tails


def quality_filter_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-dependent quality filter: keep docs whose token count lies
    within their OWN language's [p5, p95] — fixed global thresholds
    misfire when languages tokenize differently (zh 'words' vs de
    compounds). Two-pass shape shared with ``corpus_token_budget``:
    the per-language quantiles are a |langs|-row aggregate, broadcast
    back onto the corpus as a map-side join — the corpus itself never
    shuffles. Quantiles use the linear-interpolated ``percentile``
    (same definition as DuckDB's ``quantile_cont``), rounded to 6 so
    the boundary comparison cannot flip between engines."""
    lo_q, hi_q = ADAPTIVE_QUANTILES
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.size(F.split(F.col("text"), " ")).alias("n_tok"),
    )
    bounds = docs.groupBy("lang").agg(
        F.round(F.percentile("n_tok", F.lit(lo_q)), 6).alias("lo"),
        F.round(F.percentile("n_tok", F.lit(hi_q)), 6).alias("hi"),
    )
    return (
        docs.join(F.broadcast(bounds), "lang")
        .select(
            "doc_id",
            "lang",
            "n_tok",
            "lo",
            "hi",
            ((F.col("n_tok") >= F.col("lo")) & (F.col("n_tok") <= F.col("hi")))
            .alias("keep"),
        )
    )


QUALITY_FILTER_ADAPTIVE_SQL = f"""
WITH s AS (
    SELECT doc_id, lang,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok
    FROM documents
),
b AS (
    SELECT lang,
           ROUND(quantile_cont(n_tok, {ADAPTIVE_QUANTILES[0]}), 6) AS lo,
           ROUND(quantile_cont(n_tok, {ADAPTIVE_QUANTILES[1]}), 6) AS hi
    FROM s GROUP BY lang
)
SELECT s.doc_id, s.lang, s.n_tok, b.lo, b.hi,
       (s.n_tok >= b.lo AND s.n_tok <= b.hi) AS keep
FROM s JOIN b USING (lang)
"""


# --- training-batch packing --------------------------------------------------
BATCH_TOKENS = 1000  # tokens per training micro-batch


def corpus_pack_batches(
    spark: SparkSession, sf_dir: str, batch_tokens: int = BATCH_TOKENS
) -> DataFrame:
    """Pack documents into ~equal-token training batches per language:
    the raw bin is the doc's STARTING token offset (cum_tok − n_tok)
    div ``batch_tokens``, over the same deterministic hash priority
    order as ``corpus_token_budget`` (same shared two-pass running sum
    — still no one-partition-per-language window over the corpus).

    This is offset binning, not bin-packing: a doc starting near a
    boundary overflows its batch rather than opening a new one, so
    batches are ~batch_tokens ± one doc — the standard approximation
    for forming token-budget micro-batches at corpus scale (exact
    first-fit packing is inherently sequential). A doc LONGER than
    ``batch_tokens`` makes its successor's raw bin skip values, so raw
    bins are dense-ranked into contiguous batch_ids per language —
    the rank window runs over the DISTINCT (lang, raw bin) set
    (≤ total_tokens/batch_tokens tiny rows), broadcast back; the
    corpus itself never re-shuffles. Deterministic: re-runs and
    engine replays produce identical assignments.

    Ragged docs (hostile-docs sweep): a NULL-text doc has NULL n_tok,
    so its raw bin is NULL — it still gets a batch_id, ranked LAST
    (``asc_nulls_last``, matching DuckDB's NULLS LAST default, where
    Spark's default would rank NULLs first), and both the lang and
    bin join keys go through non-NULL surrogates because an equi-join
    on a NULL key would silently drop the row the oracle keeps."""
    raw = (
        _running_token_sum(spark, sf_dir)
        .withColumn(
            "raw_bid",
            ((F.col("cum_tok") - F.col("n_tok")) / batch_tokens).cast(
                "bigint"
            ),
        )
        .withColumn("_lkey", F.coalesce(F.col("lang"), F.lit("\x00")))
        .withColumn("_bkey", F.coalesce(F.col("raw_bid"), F.lit(-1)))
    )
    wd = Window.partitionBy("_lkey").orderBy(
        F.col("raw_bid").asc_nulls_last()
    )
    dense = (
        raw.select("_lkey", "_bkey", "raw_bid")
        .distinct()
        .withColumn("batch_id", (F.dense_rank().over(wd) - 1).cast("bigint"))
        .drop("raw_bid")
    )
    return raw.join(F.broadcast(dense), ["_lkey", "_bkey"]).select(
        "doc_id", "lang", "n_tok", "cum_tok", "batch_id"
    )


CORPUS_PACK_BATCHES_SQL = f"""
WITH s AS (
    SELECT doc_id, lang,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok,
           {_bucket_sql('doc_id')} AS bucket
    FROM documents
),
c AS (
    SELECT doc_id, lang, n_tok,
           CAST(SUM(n_tok) OVER (
               PARTITION BY lang ORDER BY bucket, doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
    FROM s
)
SELECT doc_id, lang, n_tok, cum_tok,
       CAST(DENSE_RANK() OVER (
           PARTITION BY lang
           ORDER BY CAST(FLOOR((cum_tok - n_tok) / {BATCH_TOKENS}.0) AS BIGINT)
               NULLS LAST
       ) - 1 AS BIGINT) AS batch_id
FROM c
"""


# --- eval-set decontamination ------------------------------------------------
def corpus_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark/eval contamination report: near-dup pairs that CROSS
    the train/eval boundary — a training doc sharing ≥ threshold
    n-gram Jaccard with a val/test doc leaks the eval set into
    training. Pure composition: the exact posting-list pair miner
    (``dedup_ngram_jaccard``) joined to the hash split labels on both
    sides, keeping pairs whose sides land in different splits. The
    broadcast side is the PAIR SET — df-cap-bounded and tiny — never
    the label table, which is one row per document and corpus-sized
    (broadcasting it inverts the scale contract: past the 8 GB
    broadcast limit the job dies; pinned in tests). All heavy lifting
    lives in the pair miner.

    Output: (train_doc, eval_doc, eval_split, jaccard) — oriented so
    the training-side doc is first whatever order the miner emitted.
    """
    from fledge_south_csvplayback_spark.operators import dedup

    pairs = dedup.dedup_ngram_jaccard(spark, sf_dir)
    labels = corpus_split(spark, sf_dir).select("doc_id", "split")
    la = labels.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    lb = labels.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    joined_a = la.join(F.broadcast(pairs), "doc_a")  # pair-sized result
    x = (
        lb.join(F.broadcast(joined_a), "doc_b")
        .filter(
            ((F.col("split_a") == "train") & (F.col("split_b") != "train"))
            | ((F.col("split_b") == "train") & (F.col("split_a") != "train"))
        )
    )
    train_first = F.col("split_a") == "train"
    return x.select(
        F.when(train_first, F.col("doc_a")).otherwise(F.col("doc_b")).alias(
            "train_doc"
        ),
        F.when(train_first, F.col("doc_b")).otherwise(F.col("doc_a")).alias(
            "eval_doc"
        ),
        F.when(train_first, F.col("split_b"))
        .otherwise(F.col("split_a"))
        .alias("eval_split"),
        "jaccard",
    )


def _corpus_contamination_sql() -> str:
    from fledge_south_csvplayback_spark.operators import dedup

    return f"""
WITH pairs AS ({dedup.NGRAM_JACCARD_SQL}),
labels AS (
    SELECT doc_id, {_split_case_sql().replace("bucket", _bucket_sql("doc_id"))} AS split
    FROM documents
),
x AS (
    SELECT p.doc_a, p.doc_b, p.jaccard, a.split AS split_a, b.split AS split_b
    FROM pairs p
    JOIN labels a ON p.doc_a = a.doc_id
    JOIN labels b ON p.doc_b = b.doc_id
    WHERE (a.split = 'train' AND b.split != 'train')
       OR (b.split = 'train' AND a.split != 'train')
)
SELECT CASE WHEN split_a = 'train' THEN doc_a ELSE doc_b END AS train_doc,
       CASE WHEN split_a = 'train' THEN doc_b ELSE doc_a END AS eval_doc,
       CASE WHEN split_a = 'train' THEN split_b ELSE split_a END AS eval_split,
       jaccard
FROM x
"""


CORPUS_CONTAMINATION_SQL = _corpus_contamination_sql()


# --- fixed-length training-sequence chunking ---------------------------------
CHUNK_TOKENS = 64  # tokens per training chunk
CHUNK_STRIDE = 48  # tokens between chunk starts (overlap = 64 - 48)


def corpus_chunk_documents(
    spark: SparkSession,
    sf_dir: str,
    chunk_tokens: int = CHUNK_TOKENS,
    stride: int = CHUNK_STRIDE,
    token_method: str = "ws",
    merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Slice every document into fixed-length training sequences: chunk
    ``i`` covers tokens ``[i·stride, i·stride + chunk_tokens)``, so
    consecutive chunks overlap by ``chunk_tokens - stride`` tokens (the
    standard sliding-window context packing; ``stride == chunk_tokens``
    is the non-overlapping special case). The chunk count is chosen so
    the final chunk reaches the last token and no start lies beyond the
    text: ``1 + ceil(max(0, n - chunk_tokens) / stride)``.

    ``token_method="ws"`` (default, byte-identical to the historical
    behavior, oracle-checked): tokens are single-space split positions
    and the plan is entirely narrow — token array, ``posexplode`` of
    the start sequence, ``slice`` + ``array_join`` per chunk. No
    shuffle at any corpus size (pinned): a 1000-executor scan chunks
    at read speed, and output rows inherit the input's partitioning
    for a downstream writer. Every doc yields ≥1 chunk (an empty text
    is one empty chunk), so no corpus row silently disappears.

    ``token_method="bpe"``: chunk geometry measured in REAL tokenizer
    tokens — each word runs through the ``text_bpe_tokenize`` merge
    loop (``merges`` from ``bpe_train``, trained on the corpus when
    omitted) and chunk ``i`` covers BPE tokens ``[i·stride, i·stride +
    chunk_tokens)``; a boundary mid-word splits the word exactly where
    the token boundary falls, which is what slicing a token-id array
    does in a real pipeline. Same narrow one-scan shape, as a
    ``mapInPandas`` pass (BPE apply is inherently sequential per word
    — no Catalyst expression computes it); text is whitespace-
    NORMALIZED on this path (any-whitespace split, single-space
    reconstruction — matching ``bpe_train``'s word counting).
    Word-boundary status is encoded IN the chunk text: a chunk whose
    last token ends a word keeps its trailing space (a mid-word
    boundary has none, and the next chunk opens with the rest of the
    word's tokens); only the doc's final chunk is stripped. With
    ``stride == chunk_tokens`` plain concatenation of a doc's chunks
    therefore reproduces the normalized text EXACTLY — including
    through mid-word boundaries — the reconstruction invariant
    pinned in tests.
    """
    if token_method == "ws":
        return _chunk_docs(_docs(spark, sf_dir), chunk_tokens, stride)
    if token_method == "bpe":
        return _chunk_docs_bpe(
            spark, _docs(spark, sf_dir), chunk_tokens, stride, merges
        )
    raise ValueError(
        f"unknown chunk token_method {token_method!r}; one of ('ws', 'bpe')"
    )


def _chunk_docs_bpe(
    spark: SparkSession,
    docs: DataFrame,
    chunk_tokens: int,
    stride: int,
    merges: list[tuple[str, str]] | None,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """BPE-geometry chunking body: one mapInPandas scan, merge table in
    the closure, per-word token memo per batch (the
    ``text_bpe_tokenize`` apply pattern). Emits the same schema as the
    whitespace path so the two are drop-in interchangeable."""
    c, s = chunk_tokens, stride
    if not (0 < s <= c):
        raise ValueError("need 0 < stride <= chunk_tokens")
    if merges is None:
        from fledge_south_csvplayback_spark.operators import text as text_ops

        # train on the same docs frame the chunker reads —
        # deterministic first-N-by-id sample (bpe_train's rule)
        rows = (
            docs.orderBy("doc_id").limit(text_ops.BPE_TRAIN_DOCS)
            .select("text").collect()
        )
        merges = text_ops.bpe_train_texts([r["text"] for r in rows])
    ranks = {tuple(p): i for i, p in enumerate(merges)}

    def _chunker(batches, ranks=ranks, c=c, s=s, passthrough=passthrough):
        import pandas as pd

        memo: dict[str, list[str]] = {}

        def word_tokens(word: str) -> list[str]:
            """Visible BPE token strings of a word (marker folded into
            the last token's text, standalone markers dropped) —
            token COUNT matches text_bpe_tokenize exactly."""
            got = memo.get(word)
            if got is not None:
                return got
            parts = list(word) + ["</w>"]
            while len(parts) > 1:
                best_rank, best_i = None, None
                for i in range(len(parts) - 1):
                    r = ranks.get((parts[i], parts[i + 1]))
                    if r is not None and (best_rank is None or r < best_rank):
                        best_rank, best_i = r, i
                if best_i is None:
                    break
                parts[best_i : best_i + 2] = [
                    parts[best_i] + parts[best_i + 1]
                ]
            vis = [
                p[:-4] if p.endswith("</w>") else p
                for p in parts
                if p != "</w>"
            ]
            memo[word] = vis
            return vis

        for pdf in batches:
            if not len(pdf):
                continue
            out: dict[str, list] = {
                "doc_id": [],
                "lang": [],
                **{p: [] for p in passthrough},
                "chunk_id": [],
                "n_chunk_tokens": [],
                "chunk_text": [],
            }
            for row in pdf.itertuples(index=False):
                toks: list[str] = []
                ends: list[bool] = []
                for w in (row.text or "").split():
                    vis = word_tokens(w)
                    toks.extend(vis)
                    ends.extend([False] * (len(vis) - 1) + [True])
                n = len(toks)
                n_chunks = 1 + max(0, -(-(max(0, n - c)) // s))
                for ci in range(n_chunks):
                    lo = ci * s
                    sl = toks[lo : lo + c]
                    se = ends[lo : lo + c]
                    pieces = [
                        t + " " if e else t for t, e in zip(sl, se)
                    ]
                    out["doc_id"].append(row.doc_id)
                    out["lang"].append(row.lang)
                    for p in passthrough:
                        out[p].append(getattr(row, p))
                    txt = "".join(pieces)
                    if ci == n_chunks - 1:
                        # the doc's last chunk always ends word-final;
                        # drop its trailing space so concatenation of
                        # all chunks reproduces the text exactly
                        txt = txt.rstrip(" ")
                    out["chunk_id"].append(ci)
                    out["n_chunk_tokens"].append(len(sl))
                    out["chunk_text"].append(txt)
            yield pd.DataFrame(out)

    extra = "".join(f", {p} string" for p in passthrough)
    cols = ["doc_id", "lang", *passthrough, "text"]
    return docs.select(*cols).mapInPandas(
        _chunker,
        f"doc_id long, lang string{extra}, chunk_id bigint, "
        "n_chunk_tokens bigint, chunk_text string",
    )




def _chunk_docs(
    docs: DataFrame,
    chunk_tokens: int,
    stride: int,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Chunking body over an arbitrary docs DataFrame (doc_id, lang,
    text [, passthrough…]) — shared by the standalone operator and the
    end-to-end ``write_training_corpus`` materializer.

    Chunk boundaries are deliberately WHITESPACE positions regardless
    of the ``token_count`` method configured for budgets/mixtures: a
    boundary must be a realizable split point in the text, and
    ``chars4``/``regex`` counts are size ESTIMATES with no positions
    to cut at. Budget selection and chunk sizing may therefore use
    different units — the same situation as a real pipeline budgeting
    tokenizer tokens but storing whitespace-delimited text."""
    c, s = chunk_tokens, stride
    if not (0 < s <= c):
        raise ValueError("need 0 < stride <= chunk_tokens")
    toks = F.split(F.col("text"), " ")
    extra = F.greatest(F.lit(0), F.size(toks) - c)
    n_chunks = 1 + F.floor((extra + (s - 1)) / s).cast("int")
    base = docs.select(
        "doc_id",
        "lang",
        *passthrough,
        toks.alias("toks"),
        F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id", "_start"),
    )
    chunk = F.slice(F.col("toks"), F.col("_start") * s + 1, c)
    return base.select(
        "doc_id",
        "lang",
        *passthrough,
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.size(chunk).cast("bigint").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def _chunk_sql(chunk_tokens: int = CHUNK_TOKENS, stride: int = CHUNK_STRIDE) -> str:
    c, s = chunk_tokens, stride
    return f"""
WITH d AS (
    SELECT doc_id, lang, string_split(text, ' ') AS toks,
           1 + (GREATEST(0, len(string_split(text, ' ')) - {c}) + {s - 1}) // {s}
               AS n_chunks
    FROM documents
),
e AS (
    SELECT doc_id, lang, toks, unnest(generate_series(0, n_chunks - 1)) AS chunk_id
    FROM d
)
SELECT doc_id, lang, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(len(toks[chunk_id * {s} + 1 : chunk_id * {s} + {c}]) AS BIGINT)
           AS n_chunk_tokens,
       array_to_string(toks[chunk_id * {s} + 1 : chunk_id * {s} + {c}], ' ')
           AS chunk_text
FROM e
"""


CORPUS_CHUNK_SQL = _chunk_sql()


# --- mixture / temperature sampling weights ----------------------------------
MIXTURE_ALPHA = 0.5  # temperature exponent: 1.0 = natural, 0.0 = uniform


def corpus_mixture_weights(
    spark: SparkSession,
    sf_dir: str,
    alpha: float = MIXTURE_ALPHA,
    token_method: str = "whitespace",
) -> DataFrame:
    """Per-language mixture weights for temperature-scaled corpus
    sampling (the multinomial ``p_i^alpha`` rebalancing of Conneau &
    Lample 2019 / XLM-R: alpha=1 keeps the natural distribution,
    alpha→0 flattens toward uniform, boosting low-resource languages).
    For each language: natural token share ``p_raw``, rebalanced share
    ``p_sampled = p^alpha / Σ p^alpha``, and ``rate = p_sampled /
    p_raw`` — the up/down-sampling multiplier to feed a sampler
    (rates ≤ 1 drop straight into ``corpus_sample_stratified``'s
    per-language rate map; rates > 1 mean repeating the stratum
    ``rate`` epochs, which hash-sampling alone cannot express).

    Plan: ONE aggregate over the corpus (map-side partials reduce each
    task to ≤ |langs| rows before the 8-byte-key Exchange), then both
    normalizers (token total, Σ p^alpha) are whole-table window sums
    over the |langs|-row RESULT — the ``corpus_token_budget`` rule: an
    unpartitioned window is legal only over a driver-bounded
    aggregate, never the corpus. The first branched-aggregates draft
    of this op re-scanned the corpus 2-3× (AQE reused only some of
    the exchanges — read from the POST-execution plan); this shape
    scans it exactly once by construction (pinned in tests)."""
    a = (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count(F.col("text"), token_method))
            .cast("bigint")
            .alias("n_tokens"),
        )
    )
    whole = Window.partitionBy()
    p = F.col("n_tokens") / F.sum("n_tokens").over(whole).cast("double")
    b = a.withColumn("p", p).withColumn(
        "zs", F.sum(F.pow(F.col("p"), F.lit(alpha))).over(whole)
    )
    q = F.pow(F.col("p"), F.lit(alpha)) / F.col("zs")
    return b.select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(F.col("p"), 6).alias("p_raw"),
        F.round(q, 6).alias("p_sampled"),
        F.round(q / F.col("p"), 6).alias("rate"),
    )


def _mixture_sql(
    alpha: float = MIXTURE_ALPHA, method: str = "whitespace"
) -> str:
    return f"""
WITH a AS (
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM({token_count_sql('text', method)}) AS BIGINT) AS n_tokens
    FROM documents GROUP BY 1
),
b AS (SELECT a.*, n_tokens / (SUM(n_tokens) OVER ())::DOUBLE AS p FROM a),
c AS (SELECT b.*, SUM(pow(p, {alpha})) OVER () AS zs FROM b)
SELECT lang, CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
       ROUND(p, 6) AS p_raw,
       ROUND(pow(p, {alpha}) / zs, 6) AS p_sampled,
       ROUND(pow(p, {alpha}) / zs / p, 6) AS rate
FROM c
"""


CORPUS_MIXTURE_SQL = _mixture_sql()


# --- sketch-based dataset card (the 100 TB profile path) ---------------------
SKETCH_RSD = 0.05  # HLL++ relative standard deviation
SKETCH_PCT_ACCURACY = 10000  # percentile_approx accuracy knob


def corpus_profile_sketch(
    spark: SparkSession,
    sf_dir: str,
    rsd: float = SKETCH_RSD,
    accuracy: int = SKETCH_PCT_ACCURACY,
) -> DataFrame:
    """The mergeable-sketch variant of ``corpus_profile`` — what the
    dataset card costs at 100 TB. The exact profile's ``percentile``
    buffers every per-group value and ``countDistinct`` expands the
    aggregate key space to |group|×|domain|; both are fine for
    bounded domains and explode for unbounded ones. Here every
    statistic is a bounded-state mergeable sketch, so the whole card
    stays one map-side-partial aggregate no matter the corpus:

    - ``approx_n_sources``: HyperLogLog++ (``approx_count_distinct``,
      ~1.04/rsd² registers per group);
    - ``approx_unique_docs``: HLL++ over the content fingerprint —
      the DEDUP-CARDINALITY PREVIEW: how many docs would survive
      exact dedup, estimated in one scan without the dedup shuffle;
    - ``p50/p90_tokens``: ``percentile_approx`` (Greenwald-Khanna
      variant, state bounded by the accuracy knob; returns a real
      element of the distribution, not an interpolation — hence no
      DuckDB hash-oracle: this op is tolerance-checked against the
      exact profile in pytest, the documented weaker gate for
      genuinely approximate operators).
    """
    docs = _docs(spark, sf_dir).select(
        "lang",
        "source",
        F.size(F.split(F.col("text"), " ")).alias("n_tok"),
        F.md5(F.col("text").cast("binary")).alias("fp"),
    )
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.approx_count_distinct("source", rsd).alias("approx_n_sources"),
        F.approx_count_distinct("fp", rsd).alias("approx_unique_docs"),
        F.percentile_approx("n_tok", F.lit(0.5), F.lit(accuracy)).alias(
            "p50_tokens"
        ),
        F.percentile_approx("n_tok", F.lit(0.9), F.lit(accuracy)).alias(
            "p90_tokens"
        ),
    )


def corpus_resample(
    spark: SparkSession, sf_dir: str, alpha: float = MIXTURE_ALPHA
) -> DataFrame:
    """Apply ``corpus_mixture_weights`` to the corpus: emit each doc
    ``floor(rate)`` times plus one extra copy for the hash-selected
    ``frac(rate)`` slice — deterministic epoch expansion, so the
    materialized stream's per-language token mass approaches the
    temperature-rebalanced target (upsampled languages repeat, the
    downsampled one thins; a doc's copy count is a pure function of
    (corpus totals, doc_id) — stable across runs and cluster layouts).
    The fractional-slice bucket is salted (``md5('rs'||doc_id)``)
    so resample membership never correlates with the un-salted
    ``corpus_split``/``corpus_sample`` buckets (the same doc_ids
    getting both 'the extra epoch' and 'the test split' would bias
    every downstream eval).

    Plan: the |langs|-row weight table (one aggregate scan) broadcasts
    onto a second corpus scan; the expansion is a narrow
    explode — two scans total, no wide shuffle of documents, output
    size = Σ n_copies. Output: (doc_id, lang, epoch) with epoch in
    [1, n_copies]."""
    weights = corpus_mixture_weights(spark, sf_dir, alpha).select("lang", "rate")
    salted = _bucket(F.concat(F.lit("rs"), F.col("doc_id").cast("string")))
    whole = F.floor(F.col("rate")).cast("long")
    frac_thresh = F.floor((F.col("rate") - F.floor(F.col("rate"))) * BUCKETS)
    n_copies = whole + F.when(F.col("b") < frac_thresh, 1).otherwise(0)
    return (
        _docs(spark, sf_dir)
        .select("doc_id", "lang", salted.alias("b"))
        .join(F.broadcast(weights), "lang")
        .withColumn("n_copies", n_copies)
        .filter(F.col("n_copies") >= 1)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.sequence(F.lit(1).cast("long"), F.col("n_copies"))
            ).alias("epoch"),
        )
    )


def _resample_sql(alpha: float = MIXTURE_ALPHA) -> str:
    return f"""
WITH w AS (SELECT lang, rate FROM ({_mixture_sql(alpha)})),
d AS (
    SELECT doc_id, lang,
           {_bucket_sql("'rs' || CAST(doc_id AS VARCHAR)")} AS bkt
    FROM documents
),
e AS (
    SELECT d.doc_id, d.lang,
           CAST(FLOOR(w.rate) AS BIGINT)
           + CASE WHEN d.bkt < FLOOR((w.rate - FLOOR(w.rate)) * {BUCKETS})
                  THEN 1 ELSE 0 END AS n_copies
    FROM d JOIN w USING (lang)
)
SELECT doc_id, lang,
       CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS epoch
FROM e WHERE n_copies >= 1
"""


CORPUS_RESAMPLE_SQL = _resample_sql()


# --- full Gopher filter: stats rules + repetition rules ----------------------
GOPHER_MAX_DUP_LINE_FRAC = 0.30  # Rae et al. 2021 App. A1.1
GOPHER_MAX_DUP_LINE_CHAR_FRAC = 0.20
GOPHER_MAX_TOP_GRAM_CHAR_FRAC = 0.20
# our dup-gram metric is the clipped char-mass UPPER BOUND (overlap
# double-counts), so its ceiling is looser than Gopher's overlap-exact
# 5-gram thresholds
GOPHER_MAX_DUP_GRAM_CHAR_FRAC = 0.60


def quality_filter_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Gopher-style document filter: the ``quality_filter``
    stats rules (token range, TTR floor, token shape) AND the
    ``text_repetition`` rules (duplicate-line fraction/char-mass, top
    and duplicated n-gram char fractions) — the composition a real
    pipeline runs, kept as one operator so the keep bit and the
    per-family audit flags stay consistent.

    Plan: the repetition pipeline's final aggregate is already
    hash-partitioned by doc_id; the stats side is a narrow per-row
    projection of the same table, so the join costs one extra
    doc_id-shuffle of that narrow flag stream — nothing new is
    quadratic or corpus-global. Thresholds compare round(x, 6) values
    exactly like both source operators, so no engine-boundary flips.

    Every document gets a verdict: the stats side (one row per doc)
    LEFT-joins the repetition table, which has no row for a NULL-text
    doc (its tagged explode is explode(NULL)) — missing repetition
    evidence passes those families, and the final keep is
    coalesced to False so a NULL-text doc is dropped, never silently
    absent from the report (an inner join omitted such docs
    entirely; pinned by the planted NULL-text test).

    Output: (doc_id, stats_ok, line_rep_ok, gram_rep_ok, keep)."""
    from fledge_south_csvplayback_spark.operators import text as text_ops

    stats = quality_filter(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("stats_ok")
    )
    rep = text_ops.text_repetition(spark, sf_dir)
    line_ok = F.coalesce(
        (F.col("dup_line_frac") <= GOPHER_MAX_DUP_LINE_FRAC)
        & (F.col("dup_line_char_frac") <= GOPHER_MAX_DUP_LINE_CHAR_FRAC),
        F.lit(True),
    )
    gram_ok = F.coalesce(
        (F.col("top_gram_char_frac") <= GOPHER_MAX_TOP_GRAM_CHAR_FRAC)
        & (F.col("dup_gram_char_frac") <= GOPHER_MAX_DUP_GRAM_CHAR_FRAC),
        F.lit(True),
    )
    return (
        stats.join(rep, "doc_id", "left")
        .select(
            "doc_id",
            "stats_ok",
            line_ok.alias("line_rep_ok"),
            gram_ok.alias("gram_rep_ok"),
            F.coalesce(F.col("stats_ok") & line_ok & gram_ok, F.lit(False)).alias(
                "keep"
            ),
        )
    )


def _gopher_sql() -> str:
    from fledge_south_csvplayback_spark.operators import text as text_ops

    return f"""
WITH rep AS ({text_ops.TEXT_REPETITION_SQL}),
q AS ({QUALITY_FILTER_SQL}),
j AS (
    SELECT q.doc_id, q.keep AS stats_ok,
           COALESCE(rep.dup_line_frac <= {GOPHER_MAX_DUP_LINE_FRAC}
                    AND rep.dup_line_char_frac <= {GOPHER_MAX_DUP_LINE_CHAR_FRAC},
                    TRUE) AS line_rep_ok,
           COALESCE(rep.top_gram_char_frac <= {GOPHER_MAX_TOP_GRAM_CHAR_FRAC}
                    AND rep.dup_gram_char_frac <= {GOPHER_MAX_DUP_GRAM_CHAR_FRAC},
                    TRUE) AS gram_rep_ok
    FROM q LEFT JOIN rep ON rep.doc_id = q.doc_id
)
SELECT doc_id, stats_ok, line_rep_ok, gram_rep_ok,
       COALESCE(stats_ok AND line_rep_ok AND gram_rep_ok, FALSE) AS keep
FROM j
"""


QUALITY_FILTER_GOPHER_SQL = _gopher_sql()


# --- end-to-end training-corpus materializer ---------------------------------
def write_training_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    chunk_tokens: int = CHUNK_TOKENS,
    stride: int = CHUNK_STRIDE,
    benchmark: DataFrame | None = None,
    election: str = "min_id",
) -> None:
    """The whole curation pipeline as one materializer: full Gopher
    filter (stats + repetition) → benchmark decontamination (when a
    ``benchmark`` frame is given) → exact-dedup keeper → near-dup
    cluster-loser removal → hash split label → fixed-length sequence
    chunking → parquet ``partitionBy(split, lang)``. A trainer reading
    one split/language opens only its own files (partition pruning,
    pinned in tests), and every stage is one of this module's
    independently oracle-checked operators — the composition adds no
    new math, only stage order.

    Stage-order semantics (documented, cheap-first): the Gopher keep
    bit gates BEFORE the fingerprint exchange, so the dedup keeper is
    the min doc_id among Gopher-passing copies; near-dup losers are
    mined on the FULL corpus (the pair miner's df-cap already bounds
    it) and removed with an anti-join on the loser doc_id set — small
    relative to the corpus, so AQE typically plans it as a broadcast
    anti-join at runtime, but no broadcast hint is forced: a heavily
    duplicated corpus can make the loser set arbitrarily large, and a
    shuffled anti-join is the correct fallback there. Unlike
    ``corpus_neardup_apply``'s min-of-cluster rule, the cluster
    representative here is RE-ELECTED among Gopher-passing members
    (min doc_id of those by default; ``election="best_score"`` elects
    the highest classifier score instead — ``corpus_neardup_keep_best``'s
    FineWeb-style rule, scored frugally on member rows only): with the
    global min-doc member possibly quality-filtered away, keeping its
    ``keep`` bit would drop every surviving member and silently erase
    the cluster's content from the training corpus — a cluster now
    vanishes only when ALL its members fail quality, which is
    quality's verdict, not dedup's. Chunking is
    narrow, so the write's widest dependencies remain the fingerprint
    exchange and the pair miner (the election adds one aggregation
    over the tiny cluster-member table). Split labels come from the
    UN-salted doc_id bucket, identical to ``corpus_split`` — chunks of
    one doc can never straddle splits."""
    from fledge_south_csvplayback_spark.operators import dedup

    keep = (
        quality_filter_gopher(spark, sf_dir)
        .filter(F.col("keep"))
        .select("doc_id")
    )
    if benchmark is not None:
        # decontamination gates WITH quality, before any exchange: a
        # contaminated doc must not become a dedup keeper and shadow a
        # clean copy out of the corpus (same reasoning as the Gopher
        # gate's placement); flags are churn-cheap (broadcast both
        # ways, see contamination_flags)
        clean = contamination_flags(_docs(spark, sf_dir), benchmark).filter(
            ~F.col("contaminated")
        )
        keep = keep.join(clean.select("doc_id"), "doc_id")
    survivors = _keep_first_per_fingerprint(
        _docs(spark, sf_dir).join(keep, "doc_id")
    )
    qualified = (
        dedup.dedup_clusters(spark, sf_dir)
        .select("doc_id", "cluster_id")
        .join(keep, "doc_id")
    )
    if election == "best_score":
        # quality-score election among the quality-passing members
        # (``corpus_neardup_keep_best``'s rule applied post-gate): the
        # member table broadcasts into the docs scan so the classifier
        # scores member rows only; max_by on (score, -doc_id) keeps
        # the tie-break deterministic (min doc_id on equal scores)
        weights, bias = _qmodel_weights()
        _, score = _qmodel_score_cols(F.col("text"), weights, bias)
        scored = (
            _docs(spark, sf_dir)
            .select("doc_id", "text")
            .join(F.broadcast(qualified), "doc_id")
            .select("doc_id", "cluster_id", score.alias("score"))
        )
        elected = scored.groupBy("cluster_id").agg(
            F.max_by(
                "doc_id", F.struct(F.col("score"), -F.col("doc_id"))
            ).alias("rep_id")
        )
    elif election == "min_id":
        elected = qualified.groupBy("cluster_id").agg(
            F.min("doc_id").alias("rep_id")
        )
    else:
        raise ValueError(
            f"election must be 'min_id' or 'best_score', got {election!r}"
        )
    losers = (
        qualified.join(elected, "cluster_id")
        .filter(F.col("doc_id") != F.col("rep_id"))
        .select("doc_id")
    )
    labeled = (
        survivors.join(losers, "doc_id", "left_anti")
        .withColumn("bucket", _bucket(F.col("doc_id")))
        .select("doc_id", "lang", "text", _split_label().alias("split"))
    )
    chunks = _chunk_docs(labeled, chunk_tokens, stride, passthrough=("split",))
    chunks.write.mode("overwrite").partitionBy("split", "lang").parquet(out_dir)


# --- model-based quality scoring (hashed linear classifier) ------------------
# Feature hashing dimension for the bag-of-tokens classifier. 1024 is
# plenty for the deterministic stand-in weights; a real fasttext-style
# model would use 2^18+ buckets and its trained vector here.
QMODEL_DIM = 1024
QMODEL_KEEP_THRESHOLD = 0.5


def _qmodel_weights(dim: int = QMODEL_DIM) -> tuple[list[float], float]:
    """Deterministic stand-in weights: w[b] derives from md5 of the
    bucket index, uniform in (-1, 1), bias 0. A real deployment
    replaces this with its trained classifier's hashed weights — the
    SCORING path below is the production artifact (one literal array,
    pure codegen); the weights are data."""
    import hashlib

    ws = []
    for b in range(dim):
        h = int(hashlib.md5(f"qw:{b}".encode()).hexdigest()[:8], 16)
        ws.append(round((h % 2001 - 1000) / 1000.0, 6))
    return ws, 0.0


def quality_model_score(
    spark: SparkSession,
    sf_dir: str,
    weights: list[float] | None = None,
    bias: float | None = None,
    dim: int = QMODEL_DIM,
) -> DataFrame:
    """Model-based quality scoring — the classifier stage every major
    curation pipeline runs after the rule filters (CCNet's fasttext
    LM-vs-crawl classifier; Dolma and RefinedWeb ship fasttext quality
    models): ``sigmoid(bias + mean over tokens of w[h(token)])`` over
    a hashed bag-of-tokens, emitting (doc_id, n_tokens, score, keep).

    Spark-first shape: the weight vector rides in as ONE nested-array
    literal (the IVF-centroid pattern) and the whole score is a
    codegen'd expression — token hash → bucket → ``element_at`` into
    the literal → mean → sigmoid. No UDF, no join, no shuffle: the
    plan is scan + project at any corpus size, exactly like the rule
    filters it sits beside.

    The bucket hash is the md5 ``_bucket`` scheme (not xxhash64) so
    DuckDB rebuilds identical bucket ids and the operator is fully
    value-checked (QUALITY_MODEL_SQL embeds the same weight literals).
    The default weights are a deterministic md5-derived stand-in
    (documented in ``_qmodel_weights``); pass a trained model's
    ``weights``/``bias`` for production — the expression is unchanged.
    """
    if weights is None:
        weights, default_bias = _qmodel_weights(dim)
        if bias is None:
            bias = default_bias
    elif bias is None:
        bias = 0.0
    if len(weights) != dim:
        raise ValueError(f"need exactly {dim} weights, got {len(weights)}")
    n, score = _qmodel_score_cols(F.col("text"), weights, float(bias), dim)
    return _docs(spark, sf_dir).select(
        "doc_id",
        n.alias("n_tokens"),
        score.alias("score"),
        (score >= QMODEL_KEEP_THRESHOLD).alias("keep"),
    )


def _qmodel_score_cols(
    text: Column, weights: list[float], bias: float, dim: int = QMODEL_DIM
) -> tuple[Column, Column]:
    """(n_tokens, score) expressions of the hashed-linear classifier —
    shared by ``quality_model_score`` and the keep-best election so
    the score a cluster is judged by is literally the registered one."""
    w_lit = F.lit([float(x) for x in weights])
    toks = F.split(text, " ")

    def bucket(t: Column) -> Column:
        return (
            F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long") % dim
        )

    tok_sum = F.aggregate(
        F.transform(toks, lambda t: F.element_at(w_lit, (bucket(t) + 1).cast("int"))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n = F.size(toks)
    score = F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.lit(float(bias)) + tok_sum / n))), 6
    )
    return n, score


def _quality_model_sql(
    weights: list[float] | None = None,
    bias: float = 0.0,
    dim: int = QMODEL_DIM,
) -> str:
    if weights is None:
        weights, bias = _qmodel_weights(dim)
    lit = "[" + ", ".join(repr(float(x)) for x in weights) + "]"
    bucket = f"(('0x' || substr(md5(t), 1, 8))::BIGINT % {dim})"
    return f"""
WITH s AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
m AS (
    SELECT doc_id, len(toks) AS n_tokens,
           list_sum(list_transform(toks,
               t -> ({lit}::DOUBLE[])[{bucket} + 1])) AS tok_sum
    FROM s
)
SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
       ROUND(1.0 / (1.0 + exp(-({bias} + tok_sum / n_tokens))), 6) AS score,
       ROUND(1.0 / (1.0 + exp(-({bias} + tok_sum / n_tokens))), 6)
           >= {QMODEL_KEEP_THRESHOLD} AS keep
FROM m
"""


QUALITY_MODEL_SQL = _quality_model_sql()

CORPUS_NEARDUP_KEEP_BEST_SQL = _corpus_neardup_keep_best_sql()


QMODEL_FIT_ITERS = 30
QMODEL_FIT_LR = 2.0
QMODEL_FIT_L2 = 1e-4


def quality_model_fit(
    spark: SparkSession,
    sf_dir: str,
    target_source: str = "src1",
    dim: int = QMODEL_DIM,
    iters: int = QMODEL_FIT_ITERS,
    lr: float = QMODEL_FIT_LR,
    l2: float = QMODEL_FIT_L2,
    train_docs: int | None = None,
    persist_features: bool | None = None,
) -> tuple[list[float], float, list[float]]:
    """Train the hashed-linear quality classifier that
    ``quality_model_score`` serves — the CCNet/RefinedWeb fasttext
    stage done Spark-first: labels are "looks like the trusted slice"
    (``source == target_source``, DSIR's target-slice convention) vs
    the rest of the corpus, features are the SAME hashed bag-of-tokens
    the scorer uses (md5 ``_bucket`` scheme mod ``dim``), so the
    trained ``(weights, bias)`` plug straight into the scorer's
    codegen'd serving expression with zero representation drift.

    Model: ``p = sigmoid(bias + mean over tokens of w[h(token)])`` —
    identical to the serving expression — trained by full-batch
    gradient descent on logistic loss with L2.

    Distribution (the ``kmeans_fit`` pattern): the feature projection
    (token → bucket id array) is a JVM-side Catalyst expression
    (an interpreted higher-order ``transform`` — acceptable here
    because fit is an offline stage and the md5 stays JVM-side;
    Python never hashes a token) — and each epoch is ONE narrow
    ``mapInPandas`` scan where every Arrow batch GEMM-free
    scatter-adds its gradient contribution into a partition-level
    accumulator that emits a single ``dim``-vector partial per
    PARTITION (the kmeans_fit rule: per-batch partials scale driver
    traffic with row count); the ≤ partitions partials reduce on the
    driver, which takes the step. No shuffle at any corpus size; per
    epoch the cross-node traffic is one weight vector down and one
    partial per PARTITION up — flat in row count. Deterministic: full-batch (no sampling
    order), float64 partials; cross-partition summation jitter is
    below the 1e-6 the replica test allows.

    ``train_docs`` bounds fit cost at corpus scale (fasttext-style
    practice trains the quality model on a sample, not the corpus):
    the first ``train_docs`` docs by ``doc_id`` — the deterministic
    ``bpe_train`` sampling rule — become the training set, making
    per-epoch cost corpus-size-independent. The cap pays ONE
    TakeOrdered gather up front (the only non-narrow step on this
    path; it is outside the epoch loop), then the capped set is
    respread across the cluster for parallel epochs.
    ``persist_features`` caches the projected (label, buckets) frame
    across epochs — defaults on when ``train_docs`` is set (the
    capped frame is bounded; 30 epochs then re-scan memory, not
    parquet) and off otherwise (persisting the full corpus projection
    is a caller's call at 100 TB).

    Null/degenerate rows: ``text`` is coalesced to ``''`` before
    tokenizing, so a null-text doc contributes one empty-string token
    — the same single-token bag the scorer's expression sees for an
    empty string — instead of crashing the partials.

    Returns (weights[dim], bias, loss per epoch — mean logistic loss
    at the epoch's START, non-increasing on a separable fixture).
    Gate: pytest vs a pure-numpy replica on a planted separable
    fixture + the trained model actually separating it through the
    oracle-checked scorer (iterative fit is not SQL-expressible — the
    documented weaker gate, like ``kmeans_fit``)."""
    import numpy as np

    if iters < 1 or dim < 1:
        raise ValueError("quality_model_fit: need iters >= 1 and dim >= 1")
    if train_docs is not None and train_docs < 1:
        raise ValueError("quality_model_fit: need train_docs >= 1")
    base = _docs(spark, sf_dir)
    if train_docs is not None:
        base = (
            base.orderBy("doc_id")
            .limit(train_docs)
            .repartition(spark.sparkContext.defaultParallelism)
        )
    toks = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    feats = base.select(
        (F.col("source") == F.lit(target_source)).cast("double").alias("y"),
        F.transform(
            toks,
            lambda t: (
                F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
                % dim
            ).cast("int"),
        ).alias("bks"),
    )
    do_persist = (
        persist_features
        if persist_features is not None
        else train_docs is not None
    )
    if do_persist:
        feats = feats.persist()

    w = np.zeros(dim, dtype=np.float64)
    b = 0.0
    losses: list[float] = []
    try:
        for _ in range(iters):
            cur_w, cur_b = w, b

            def _partials(batches, w=cur_w, b=cur_b, dim=dim):
                import numpy as np
                import pandas as pd

                # one dim-vector partial per PARTITION, accumulated
                # across its Arrow batches (the kmeans_fit rule after
                # the round-9 probe: per-batch partials scale driver
                # traffic with row count, per-partition with cluster
                # width)
                gw = np.zeros(dim, dtype=np.float64)
                gb = 0.0
                loss = 0.0
                n_docs = 0
                for pdf in batches:
                    if not len(pdf):
                        continue
                    y = pdf["y"].to_numpy(dtype=np.float64)
                    bks = [np.asarray(a, dtype=np.int64) for a in pdf["bks"]]
                    lens = np.array([len(a) for a in bks], dtype=np.float64)
                    flat = (
                        np.concatenate(bks)
                        if bks
                        else np.zeros(0, dtype=np.int64)
                    )
                    docidx = np.repeat(np.arange(len(y)), lens.astype(np.int64))
                    xw = np.bincount(
                        docidx, weights=w[flat], minlength=len(y)
                    ) / np.maximum(lens, 1.0)
                    z = b + xw
                    p = 1.0 / (1.0 + np.exp(-z))
                    # stable logistic loss: log(1+e^-|z|) + max(z,0) - z*y
                    loss += (
                        np.log1p(np.exp(-np.abs(z))) + np.maximum(z, 0.0) - z * y
                    ).sum()
                    r = p - y  # dL/dz per doc
                    gw += np.bincount(
                        flat,
                        weights=(r / np.maximum(lens, 1.0))[docidx],
                        minlength=dim,
                    )
                    gb += r.sum()
                    n_docs += len(y)
                if n_docs:
                    yield pd.DataFrame(
                        {
                            "gw": [gw],
                            "gb": [gb],
                            "loss": [loss],
                            "n": [n_docs],
                        }
                    )

            parts = feats.mapInPandas(
                _partials, "gw array<double>, gb double, loss double, n long"
            ).collect()
            n = sum(p["n"] for p in parts)
            if n == 0:
                raise ValueError("quality_model_fit: empty corpus")
            gw = np.zeros(dim, dtype=np.float64)
            gb = 0.0
            loss = 0.0
            for p in parts:
                gw += np.asarray(p["gw"])
                gb += p["gb"]
                loss += p["loss"]
            losses.append(float(loss / n))
            w = w - lr * (gw / n + l2 * w)
            b = b - lr * (gb / n)
    finally:
        if do_persist:
            feats.unpersist()
    return [float(x) for x in w], float(b), losses


# --- CCNet perplexity buckets ------------------------------------------------
PPL_BUCKET_QUANTILES = (1 / 3, 2 / 3)  # per-language terciles


def corpus_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's LM-perplexity bucketing (Wenzek et al. 2020 §4.3): each
    language's documents split into head/middle/tail terciles of the
    language-model score — CCNet keeps "head" (and often "middle") as
    its quality cut, on the observation that well-formed text scores
    high under an LM trained on curated data. The score here is the
    repo's SQL-expressible LM-lite, ``text_unigram_logprob`` (higher
    mean log-prob = lower perplexity = better bucket).

    Per-LANGUAGE terciles, not global (CCNet's key design point:
    perplexity scales differ per language, so a global cut would keep
    only the easiest languages). Plan = the ``quality_filter_adaptive``
    two-pass shape on top of the scorer: the tercile thresholds are a
    |langs|-row aggregate broadcast back onto the scored table, so
    beyond the scorer's own exchanges the only added wide operation is
    the doc_id join attaching ``lang``. Thresholds and scores compare
    on round(x, 6) (both engines), so a boundary doc cannot flip.

    Output: (doc_id, lang, mean_logprob, bucket) with bucket in
    head/middle/tail — feed the labels to ``corpus_sample_stratified``
    -style per-bucket rates for the actual cut. EVERY document gets a
    row: a doc the scorer has no row for (NULL/empty text — its token
    explode emits nothing) carries a NULL score and lands in ``tail``
    (no content = worst quality; a NULL comparison falls through both
    CASE arms identically in both engines), rather than silently
    vanishing from the cut — the same review-finding class the
    boilerplate scrub's NULL guard fixed.
    """
    from fledge_south_csvplayback_spark.operators import text as text_ops

    lo_q, hi_q = PPL_BUCKET_QUANTILES
    scores = _docs(spark, sf_dir).select("doc_id", "lang").join(
        text_ops.text_unigram_logprob(spark, sf_dir).select(
            "doc_id", "mean_logprob"
        ),
        "doc_id",
        "left",
    )
    # percentile ignores NULL scores in both engines, so unscored docs
    # never shift the thresholds; the bounds join is LEFT too, so a
    # language with zero scored docs still emits its (tail) rows
    bounds = scores.groupBy("lang").agg(
        F.round(F.percentile("mean_logprob", F.lit(lo_q)), 6).alias("t_lo"),
        F.round(F.percentile("mean_logprob", F.lit(hi_q)), 6).alias("t_hi"),
    )
    bucket = (
        F.when(F.col("mean_logprob") >= F.col("t_hi"), F.lit("head"))
        .when(F.col("mean_logprob") >= F.col("t_lo"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        scores.join(F.broadcast(bounds), "lang", "left")
        .select("doc_id", "lang", "mean_logprob", bucket.alias("bucket"))
    )


CORPUS_PPL_BUCKETS_SQL = f"""
WITH scored AS ({{unigram}}),
s AS (
    -- LEFT from documents: unscored (NULL-text) docs keep a row with
    -- a NULL score and CASE-fall-through to 'tail', mirroring Spark
    SELECT d.doc_id, d.lang, scored.mean_logprob
    FROM documents d LEFT JOIN scored ON scored.doc_id = d.doc_id
),
b AS (
    SELECT lang,
           ROUND(quantile_cont(mean_logprob, {PPL_BUCKET_QUANTILES[0]}), 6) AS t_lo,
           ROUND(quantile_cont(mean_logprob, {PPL_BUCKET_QUANTILES[1]}), 6) AS t_hi
    FROM s GROUP BY lang
)
SELECT s.doc_id, s.lang, s.mean_logprob,
       CASE WHEN s.mean_logprob >= b.t_hi THEN 'head'
            WHEN s.mean_logprob >= b.t_lo THEN 'middle'
            ELSE 'tail' END AS bucket
FROM s LEFT JOIN b USING (lang)
"""


def _ppl_buckets_sql() -> str:
    from fledge_south_csvplayback_spark.operators import text as text_ops

    return CORPUS_PPL_BUCKETS_SQL.format(
        unigram=text_ops.TEXT_UNIGRAM_LOGPROB_SQL
    )


# --- scrub staging (materialized pipeline composition) -----------------------
def write_scrubbed_documents(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    stages: tuple[str, ...] = ("lines", "spans"),
    hashed: bool = True,
) -> None:
    """Materialize a SCRUBBED documents table that is a drop-in
    ``sf_dir`` for every DOCUMENTS-TABLE operator — the staging
    pattern a 100 TB pipeline actually runs: corpus-wide scrubs are
    whole-corpus aggregations, so they run ONCE, write, and every
    downstream stage (quality, dedup, budgets, chunking, the
    ``write_training_corpus`` materializer itself) reads the cleaned
    table instead of recomputing the scrub inside each query.
    Operators reading SIBLING tables (events/embeddings/TPC-H) are out
    of scope: only ``documents.parquet`` is written, deliberately —
    copying untouched multi-TB siblings per stage would be the
    opposite of staging (point those operators at the original
    ``sf_dir``).

    ``stages`` compose in order over successive materializations
    (each scrub's corpus-wide statistics must see the PREVIOUS
    stage's output — removing boilerplate lines changes which spans
    repeat): ``"lines"`` = ``text_boilerplate_scrub`` (CCNet line
    dedup), ``"spans"`` = ``text_repeated_span_scrub`` (ExactSubstr).
    Intermediate stages land under ``{out_dir}__stage<i>``; the final
    stage lands at ``out_dir``. ``n_chars`` is recomputed from the
    cleaned text so downstream length logic sees the real lengths;
    all other columns pass through unchanged.

    ``hashed=True`` is the production default here (this op exists
    for scale, not for an oracle — the scrubs' own oracle paths stay
    string-keyed and are checked in their entries/tests).
    """
    from fledge_south_csvplayback_spark.operators import text as text_ops

    scrubbers = {
        "lines": lambda d: text_ops.text_boilerplate_scrub(
            spark, d, hashed=hashed
        ),
        "spans": lambda d: text_ops.text_repeated_span_scrub(
            spark, d, hashed=hashed
        ),
    }
    unknown = [s for s in stages if s not in scrubbers]
    if unknown or not stages:
        raise ValueError(
            f"stages must be a non-empty subset of {sorted(scrubbers)}, "
            f"got {stages!r}"
        )
    cur = sf_dir
    for i, stage in enumerate(stages):
        nxt = out_dir if i == len(stages) - 1 else f"{out_dir}__stage{i}"
        # mode("overwrite") deletes the target before the lazy scrub
        # finishes READING it — writing onto the current stage input
        # would corrupt the job, and writing onto the ORIGINAL sf_dir
        # (even from a later stage whose read path differs) would
        # destroy the input corpus; refuse both collisions outright,
        # including NESTED paths (out inside the read dir or the read
        # dir inside out — overwrite recursively deletes either way)
        for read_dir in (cur, sf_dir):
            if _paths_overlap(nxt, read_dir):
                raise ValueError(
                    f"stage {i} ({stage!r}) would overwrite its own "
                    f"input: {nxt}/documents.parquet collides with "
                    "the corpus read path"
                )
        cleaned = scrubbers[stage](cur).select(
            "doc_id", F.col("text_cleaned").alias("text")
        )
        docs = _docs(spark, cur)
        # every OTHER column passes through in its original position
        # (a split label or ingest lineage column added upstream must
        # survive the staging); text is replaced, n_chars recomputed
        # from the cleaned text when the table carries it
        cols = []
        for c in docs.columns:
            if c == "text":
                cols.append(F.col("text"))
            elif c == "n_chars":
                cols.append(F.length("text").cast("bigint").alias("n_chars"))
            else:
                cols.append(F.col(c))
        out = docs.drop("text", "n_chars").join(cleaned, "doc_id").select(*cols)
        out.write.mode("overwrite").parquet(f"{nxt}/documents.parquet")
        cur = nxt


# --- deterministic global shuffle + sharded training export ------------------
SHUFFLE_SALT = "shuffle:"
SHUFFLE_SHARDS = 8


def _shuffle_key(doc_id: Column) -> Column:
    """Full md5 hex of the salted doc_id — a deterministic uniform
    permutation key. The salt decorrelates the training-order
    permutation from ``_bucket``'s unsalted split/sample decisions
    (the same doc must not always lead its shard AND its split)."""
    return F.md5(F.concat(F.lit(SHUFFLE_SALT), doc_id.cast("string")))


def corpus_shuffle_order(
    spark: SparkSession, sf_dir: str, n_shards: int = SHUFFLE_SHARDS
) -> DataFrame:
    """Training-order assignment: every doc gets a shard and a
    position — a deterministic global shuffle, the step between "the
    curated corpus" and "the token stream a trainer consumes".
    Epoch-stable and resumable: the order is a pure function of
    doc_id, so a restarted job or a re-run on an incrementally grown
    corpus reproduces (new docs interleave by hash instead of
    clustering at the tail, which a naive append order would do —
    exactly the recency-correlation a shuffle exists to kill).

    shard = first-8-md5-hex of the salted id mod ``n_shards``;
    pos = rank of the full md5 key within the shard. One Exchange
    keyed on shard + a per-shard sort: each shard sorts inside ONE
    task, so ``n_shards`` is the sort granularity — at 100 TB pick
    n_shards ~ corpus_bytes / 1-2 GB (tens of thousands of shards:
    fine-grained keys, trivially balanced by the hash). No global
    sort, no driver collect."""
    if n_shards < 1:
        raise ValueError(f"corpus_shuffle_order: n_shards >= 1, got {n_shards}")
    k = _docs(spark, sf_dir).select(
        "doc_id", _shuffle_key(F.col("doc_id")).alias("skey")
    )
    shard = (
        F.conv(F.substring("skey", 1, 8), 16, 10).cast("long") % n_shards
    ).alias("shard")
    w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    return (
        k.select("doc_id", shard, "skey")
        .withColumn("pos", F.row_number().over(w))
        .select("doc_id", "shard", "pos")
    )


def _shuffle_order_sql(n_shards: int = SHUFFLE_SHARDS) -> str:
    key = f"md5('{SHUFFLE_SALT}' || CAST(doc_id AS VARCHAR))"
    shard = f"(('0x' || substring({key}, 1, 8))::BIGINT % {n_shards})"
    return f"""
SELECT doc_id, {shard} AS shard,
       CAST(ROW_NUMBER() OVER (
            PARTITION BY {shard} ORDER BY {key}, doc_id) AS INTEGER) AS pos
FROM documents
"""


CORPUS_SHUFFLE_ORDER_SQL = _shuffle_order_sql()


def write_shuffled_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_shards: int = SHUFFLE_SHARDS,
) -> None:
    """Materialize the shuffled corpus: ``out_dir/shard=<s>/`` holds
    ONE parquet file whose ROW ORDER is the shard's training order —
    a trainer streams shard files round-robin and reads a uniformly
    shuffled corpus with zero seek logic.

    ``repartition(n_shards, shard)`` co-locates each whole shard in
    one task (hash of the shard VALUE — several shards may share a
    task, some tasks may be empty; file count stays one per shard
    because ``partitionBy`` splits the task's rows by value), and
    ``sortWithinPartitions(shard, skey)`` lays down training order —
    parquet preserves within-file row order. Same single-Exchange
    shape as ``corpus_shuffle_order``; the guard in
    ``write_scrubbed_documents`` applies here too.

    ``shard`` and ``skey`` are this writer's RESERVED output names: a
    corpus that already carries either (notably the output of this
    very writer being re-sharded) has that column dropped before the
    new assignment is computed — it is stale shuffle lineage being
    recomputed, and passing it through would make the select below
    ambiguous."""
    if _paths_overlap(out_dir, sf_dir):
        raise ValueError(
            f"write_shuffled_corpus: out_dir {out_dir!r} collides with "
            "the corpus read path"
        )
    base = _docs(spark, sf_dir)
    reserved = [c for c in ("shard", "skey") if c in base.columns]
    if reserved:
        base = base.drop(*reserved)
    docs = base.withColumn("skey", _shuffle_key(F.col("doc_id")))
    shard = (
        F.conv(F.substring("skey", 1, 8), 16, 10).cast("long") % n_shards
    ).alias("shard")
    # every upstream column passes through (the write_scrubbed_documents
    # pass-through contract): a split label or lineage column added
    # before the shuffle must survive into the training shards
    (
        docs.select(*base.columns, shard, "skey")
        .repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "skey", "doc_id")
        .drop("skey")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out_dir)
    )


# --- corpus snapshot diff (crawl-over-crawl audit) ----------------------------
# The maintenance question every recurring-crawl pipeline asks before
# reprocessing: what changed between snapshot N and N+1? Diffing 100 TB
# against 100 TB is cheap ONLY if the join never carries the payload:
# each side reduces to (key, 16-byte content fingerprint) in a narrow
# codegen'd projection BEFORE the full-outer join, so the two shuffles
# move ~48 bytes/doc regardless of document size. doc_id is unique per
# side, so the join is skew-free by construction.
DIFF_MOD = 50  # synthetic snapshot-B mutation classes (see _snapshot_b)
DIFF_ADD_OFFSET = 1 << 40  # added docs get ids far above any real doc_id
DIFF_FP_COLS = ("text", "lang", "source")


def _diff_fp(cols: tuple[str, ...]) -> Column:
    """Content fingerprint: md5 over the unit-separator join of the
    stringified columns (coalesced to '' — concat_ws would otherwise
    SKIP a null, making ('a', null) collide with (null, 'a'))."""
    return F.md5(
        F.concat_ws(
            "\x1f",
            *[
                F.coalesce(F.col(c).cast("string"), F.lit(""))
                for c in cols
            ],
        )
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    key: str = "doc_id",
    fp_cols: tuple[str, ...] = DIFF_FP_COLS,
) -> DataFrame:
    """(old snapshot, new snapshot) -> one row per NON-identical doc:
    (key, status in {added, removed, changed}, fp_old, fp_new).
    Unchanged docs (same key, same fingerprint) are dropped before the
    result leaves the join, so the output is proportional to the churn,
    not the corpus."""
    missing = [c for c in (key, *fp_cols) if c not in old.columns]
    missing += [c for c in (key, *fp_cols) if c not in new.columns]
    if missing:
        raise ValueError(f"snapshot lacks column(s) {sorted(set(missing))}")
    o = old.select(F.col(key), _diff_fp(fp_cols).alias("fp_old"))
    n = new.select(F.col(key), _diff_fp(fp_cols).alias("fp_new"))
    j = o.join(n, key, "full_outer")
    status = (
        F.when(F.col("fp_old").isNull(), F.lit("added"))
        .when(F.col("fp_new").isNull(), F.lit("removed"))
        .when(F.col("fp_old") != F.col("fp_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.withColumn("status", status)
        .filter(F.col("status") != "unchanged")
        .select(key, "status", "fp_old", "fp_new")
    )


def churn_split(
    diff: DataFrame, key: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """``corpus_diff`` churn -> (keys leaving an index, keys
    (re)entering it), the split every diff-driven index maintenance
    op starts from. A 'changed' key does both: its old rows are stale
    and its new content mints new ones. Each side is broadcast when
    under the shared ``HOT_BROADCAST_MAX`` policy (churn normally is;
    a corpus-sized churn degrades to a shuffle, not a broadcast OOM)."""
    from fledge_south_csvplayback_spark.operators.dedup import (
        HOT_BROADCAST_MAX,
    )

    if not {key, "status"} <= set(diff.columns):
        raise ValueError(f"diff frame needs ({key}, status) columns")

    def side(*statuses: str) -> DataFrame:
        t = diff.filter(F.col("status").isin(*statuses)).select(key)
        return F.broadcast(t) if t.count() <= HOT_BROADCAST_MAX else t

    return side("removed", "changed"), side("added", "changed")


def _snapshot_b(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic 'next crawl': hash class k = bucket(doc_id)
    mod DIFF_MOD — class 0 docs are REMOVED, class 1 docs get revised
    text, class 2 docs additionally spawn a NEW doc at
    doc_id + DIFF_ADD_OFFSET; everything else is untouched. Pure
    md5-bucket arithmetic (the module's no-RNG rule), so the DuckDB
    oracle rebuilds the identical snapshot."""
    b = docs.withColumn("_k", _bucket(F.col("doc_id")) % DIFF_MOD)
    kept = b.filter(F.col("_k") != 0).withColumn(
        "text",
        F.when(
            F.col("_k") == 1, F.concat(F.col("text"), F.lit(" [rev2]"))
        ).otherwise(F.col("text")),
    )
    # withColumn (not a column list) keeps the derivation
    # schema-agnostic: every other column passes through untouched
    added = (
        b.filter(F.col("_k") == 2)
        .withColumn("doc_id", F.col("doc_id") + DIFF_ADD_OFFSET)
        .withColumn("text", F.concat(F.col("text"), F.lit(" [new]")))
    )
    return kept.drop("_k").unionByName(added.drop("_k"))


def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle-checkable entry: diff the documents table against its
    deterministic synthetic next crawl."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus_diff(docs, _snapshot_b(docs))


def _snapshot_diff_sql() -> str:
    fp = (
        "md5(COALESCE(CAST(text AS VARCHAR), '') || chr(31) || "
        "COALESCE(CAST(lang AS VARCHAR), '') || chr(31) || "
        "COALESCE(CAST(source AS VARCHAR), ''))"
    )
    k = f"({_bucket_sql('doc_id')} % {DIFF_MOD})"
    return f"""
WITH b AS (SELECT *, {k} AS kls FROM documents),
snap_b AS (
    SELECT doc_id,
           CASE WHEN kls = 1 THEN text || ' [rev2]' ELSE text END AS text,
           lang, source FROM b WHERE kls != 0
    UNION ALL
    SELECT doc_id + {DIFF_ADD_OFFSET}, text || ' [new]', lang, source
    FROM b WHERE kls = 2
),
o AS (SELECT doc_id, {fp} AS fp_old FROM documents),
n AS (SELECT doc_id, {fp} AS fp_new FROM snap_b)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN fp_old != fp_new THEN 'changed'
       END AS status,
       fp_old, fp_new
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR fp_old != fp_new
"""


SNAPSHOT_DIFF_SQL = _snapshot_diff_sql()


def diff_shards_to_recompute(
    diff: DataFrame, n_shards: int = SHUFFLE_SHARDS
) -> DataFrame:
    """``corpus_diff`` output -> the training shards that must be
    re-exported: (shard, n_added, n_removed, n_changed). A doc's shard
    is a pure function of doc_id (``corpus_shuffle_order``'s salted-md5
    rule), so added/changed docs land in — and removed docs vacate —
    exactly one shard each, and the incremental re-export touches ONLY
    these shards instead of rewriting the corpus. One tiny aggregate
    over the (churn-sized) diff; no scan of either snapshot."""
    if n_shards < 1:
        raise ValueError(
            f"diff_shards_to_recompute: n_shards >= 1, got {n_shards}"
        )
    shard = (
        F.conv(F.substring(_shuffle_key(F.col("doc_id")), 1, 8), 16, 10)
        .cast("long")
        % n_shards
    ).alias("shard")
    return (
        diff.select(shard, "status")
        .groupBy("shard")
        .agg(
            F.count_if(F.col("status") == "added").alias("n_added"),
            F.count_if(F.col("status") == "removed").alias("n_removed"),
            F.count_if(F.col("status") == "changed").alias("n_changed"),
        )
    )


def corpus_diff_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle entry: the incremental re-export plan for the synthetic
    next crawl."""
    return diff_shards_to_recompute(corpus_snapshot_diff(spark, sf_dir))


def _diff_shards_sql(n_shards: int = SHUFFLE_SHARDS) -> str:
    key = f"md5('{SHUFFLE_SALT}' || CAST(doc_id AS VARCHAR))"
    shard = f"(('0x' || substring({key}, 1, 8))::BIGINT % {n_shards})"
    return f"""
WITH diff AS ({SNAPSHOT_DIFF_SQL})
SELECT {shard} AS shard,
       CAST(COUNT(*) FILTER (WHERE status = 'added') AS BIGINT) AS n_added,
       CAST(COUNT(*) FILTER (WHERE status = 'removed') AS BIGINT) AS n_removed,
       CAST(COUNT(*) FILTER (WHERE status = 'changed') AS BIGINT) AS n_changed
FROM diff
GROUP BY 1
"""


CORPUS_DIFF_SHARDS_SQL = _diff_shards_sql()


# --- benchmark decontamination -------------------------------------------------
# The eval-integrity stage every serious pretraining pipeline runs
# (GPT-3 appendix C; open reproductions follow it): a document sharing
# an n-gram window with a held-out benchmark is flagged so the
# benchmark stays a measurement, not a memorization probe. n = 13
# words is the GPT-3 convention — long enough that chance collision
# on natural text is negligible, short enough to catch paraphrase-free
# leakage.
DECON_NGRAM = 13


def _benchmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stand-in benchmark: every 97th document's text
    verbatim — 'the eval set leaked into the crawl', the exact
    situation decontamination exists to catch."""
    return (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") % 97 == 0)
        .select(F.col("doc_id").alias("bench_id"), "text")
    )


def _guarded_broadcast(
    t: DataFrame, cached: list | None = None
) -> DataFrame:
    """The module's ONE broadcast policy (review finding: three
    hand-copied closures had started to drift): cache, then count —
    which MATERIALIZES the cache, so the frame's lineage runs once
    across the guard and every later consumer — then broadcast under
    ``HOT_BROADCAST_MAX``, else leave it to shuffle. One-shot batch
    callers rely on session-end / LRU reclamation; per-micro-batch
    callers (the streaming gates) MUST pass ``cached`` and unpersist
    after their writes, or the caches accumulate across batches."""
    from fledge_south_csvplayback_spark.operators.dedup import (
        HOT_BROADCAST_MAX,
    )

    t = t.cache()
    if cached is not None:
        cached.append(t)
    return F.broadcast(t) if t.count() <= HOT_BROADCAST_MAX else t


def _bench_window_sizes(benchmark: DataFrame, n: int) -> list[int]:
    """Distinct EFFECTIVE window sizes ``min(n, row length)`` present
    in the benchmark, collected driver-side (the benchmark is
    eval-set-sized by contract). A benchmark row shorter than n
    contributes its full length as the window — without this, short
    eval items (review finding: 'What is the capital of France?
    Paris' is 8 words) leak verbatim and are reported CLEAN, the
    exact failure the stage exists to prevent. Blank rows are
    dropped."""
    return sorted(
        r.ne
        for r in benchmark.filter(F.trim(F.col("text")) != "")
        .select(
            F.least(
                F.lit(n), F.size(F.split(F.col("text"), " "))
            ).alias("ne")
        )
        .distinct()
        .collect()
    )


def _bench_grams(
    benchmark: DataFrame,
    n: int,
    ne_values: list[int],
    with_ids: bool = False,
) -> DataFrame:
    """Distinct (ne, g) benchmark gram keys: window size n for rows
    with >= n words, the row's own length for shorter rows. Blank
    rows are dropped here too (not just in ``_bench_window_sizes``):
    a whitespace-only row whose token count happens to equal another
    short row's class would otherwise contribute empty-token grams.
    ``with_ids=True`` keeps ``bench_id`` on every key (distinct per
    (bench_id, ne, g)) — the attribution consumer; one builder so the
    adaptive-window filter rule cannot drift between flags and
    attribution (the review-finding class)."""
    from fledge_south_csvplayback_spark.operators.dedup import shingles

    benchmark = benchmark.filter(F.trim(F.col("text")) != "")
    sz = F.size(F.split(F.col("text"), " "))
    key_cols = (["bench_id"] if with_ids else []) + ["ne"]
    frames = []
    for ne in ne_values:
        rows = benchmark.filter(sz >= n if ne == n else sz == ne)
        frames.append(
            rows.select(
                *key_cols[:-1],
                F.lit(ne).alias("ne"),
                F.explode(shingles(F.col("text"), ne)).alias("g"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.distinct()


def _doc_grams(docs: DataFrame, ne_values: list[int]) -> DataFrame:
    """(doc_id, ne, g) corpus gram keys at every benchmark window
    class, via the fused multi-width builder (round 16): the previous
    one-frame-per-ne union re-scanned the corpus and re-ran
    split+xxhash64 once PER CLASS — with three classes that was three
    full corpus passes into the hits join. ``dedup.shingles_multi``
    shares one token-hash array across the classes, so the corpus is
    scanned and tokenized exactly once regardless of how many window
    classes the benchmark carries. Same (ne, g) set per class (see the
    builder's docstring); the cheap ``sz >= min(ne)`` predicate keeps
    the sub-window docs out of the explode, as before."""
    from fledge_south_csvplayback_spark.operators.dedup import (
        shingles_multi,
    )

    sz = F.size(F.split(F.col("text"), " "))
    return (
        docs.filter(sz >= min(ne_values))
        .select(
            "doc_id",
            F.explode(
                shingles_multi(F.col("text"), ne_values)
            ).alias("t"),
        )
        .select(
            "doc_id",
            F.col("t.ne").alias("ne"),
            F.explode("t.gs").alias("g"),
        )
    )


def contamination_flags(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = DECON_NGRAM,
    cached: list | None = None,
) -> DataFrame:
    """(doc_id, n_hits, contaminated) for EVERY doc: n_hits = how many
    distinct (window-size, gram) benchmark keys the doc's word n-grams
    hit; contaminated = n_hits > 0. Benchmark rows shorter than n
    match at their own full length (see ``_bench_window_sizes``).

    Work shape (the whole point): the benchmark is eval-set sized, so
    its distinct gram keys BROADCAST (``_guarded_broadcast``) and the
    corpus explodes its grams — once per effective window size, and a
    uniform-length benchmark has exactly one — into a broadcast-hash
    join; the corpus never shuffles its gram table. Hit rows are
    leak-sized, so the doc_id aggregate and the flag join back to the
    corpus are churn-cheap (hits broadcast, same guard). Gram keys are
    ``dedup.shingles``' 64-bit hashes; the oracle stays on STRING
    grams per the repo's output-level-parity rule."""
    # cache the eval-set-sized benchmark slice before the two jobs that
    # consume it (window-size collect, gram build): the stand-in
    # benchmark derives FROM the corpus, so without the cache each of
    # those jobs is its own full corpus scan — three passes per
    # invocation at any scale; with it the window-size collect fills
    # the cache and the gram build reads eval-set-sized rows. Locally
    # ~neutral (interleaved A/B min 2.23 -> 2.17 s at sf0.1 — the sf
    # corpus scan is tiny); the payoff is one full corpus pass per
    # invocation in the big-input regime. Same LRU/``cached`` release
    # policy as ``_guarded_broadcast`` (one-shot callers rely on
    # eviction; streaming callers pass ``cached`` and unpersist).
    benchmark = benchmark.cache()
    if cached is not None:
        cached.append(benchmark)
    ne_values = _bench_window_sizes(benchmark, n)
    if not ne_values:
        return docs.select(
            "doc_id",
            F.lit(0).cast("bigint").alias("n_hits"),
            F.lit(False).alias("contaminated"),
        )
    bg = _guarded_broadcast(_bench_grams(benchmark, n, ne_values), cached)
    doc_grams = _doc_grams(docs, ne_values)
    hits = _guarded_broadcast(
        doc_grams.join(bg, ["ne", "g"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits")),
        cached,
    )
    return docs.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
        (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
    )


def contamination_attribution(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = DECON_NGRAM,
    cached: list | None = None,
) -> DataFrame:
    """WHICH benchmark row leaked into which document — the audit the
    boolean flags can't answer (a release gate wants "these 40 docs
    leak MMLU item 1234", not just "contaminated"). Output:
    (doc_id, bench_id, n_hits) for every contaminated pair, n_hits =
    how many of the doc's distinct (window, gram) keys that benchmark
    row contains; clean docs simply don't appear (inner semantics —
    the flags entry is the EVERY-doc view).

    Same work shape as ``contamination_flags``: per-row adaptive
    windows (ne = least(n, len)), the benchmark gram set broadcast
    (now keyed by bench_id — still eval-sized), corpus grams exploded
    once per distinct ne, hit rows leak-sized before the (doc, bench)
    aggregate. The benchmark slice caches ahead of its two consumer
    jobs exactly as in ``contamination_flags`` (one corpus pass
    saved)."""
    benchmark = benchmark.cache()
    if cached is not None:
        cached.append(benchmark)
    ne_values = _bench_window_sizes(benchmark, n)
    if not ne_values:
        from fledge_south_csvplayback_spark.operators.inline import (
            literal_cols_df,
        )

        return literal_cols_df(
            docs.sparkSession, {}, "doc_id long, bench_id long, n_hits long"
        )
    bg = _guarded_broadcast(
        _bench_grams(benchmark, n, ne_values, with_ids=True), cached
    )
    doc_grams = _doc_grams(docs, ne_values)
    return (
        doc_grams.join(bg, ["ne", "g"])
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )


def corpus_contamination_sources(
    spark: SparkSession, sf_dir: str, n: int = DECON_NGRAM
) -> DataFrame:
    """Oracle entry: attribution against the stand-in benchmark."""
    return contamination_attribution(
        _docs(spark, sf_dir), _benchmark(spark, sf_dir), n
    )


def _contamination_sources_sql(n: int = DECON_NGRAM) -> str:
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
bw AS (
    SELECT doc_id AS bench_id, t, LEAST({n}, len(t)) AS ne
    FROM toks
    WHERE doc_id % 97 = 0 AND trim(array_to_string(t, ' ')) != ''
),
bg AS (
    SELECT DISTINCT bench_id, ne, array_to_string(t[i:i+ne-1], ' ') AS g
    FROM bw, unnest(generate_series(1, len(t) - ne + 1)) r(i)
),
w AS (SELECT DISTINCT ne FROM bw),
dg AS (
    SELECT DISTINCT doc_id, w.ne,
           array_to_string(t[i:i+w.ne-1], ' ') AS g
    FROM toks, w, unnest(generate_series(1, len(t) - w.ne + 1)) r(i)
    WHERE len(t) >= w.ne
)
SELECT doc_id, bench_id, CAST(count(*) AS BIGINT) AS n_hits
FROM dg JOIN bg USING (ne, g)
GROUP BY 1, 2
"""


CORPUS_CONTAMINATION_SOURCES_SQL = _contamination_sources_sql()


def corpus_decontaminate(
    spark: SparkSession, sf_dir: str, n: int = DECON_NGRAM
) -> DataFrame:
    """The oracle entry: flags against the deterministic stand-in
    benchmark. The benchmark docs themselves are contaminated by
    construction (their text IS in the benchmark) whenever they carry
    >= n words — the built-in positive class."""
    return contamination_flags(
        _docs(spark, sf_dir), _benchmark(spark, sf_dir), n
    )


def _decontaminate_sql(n: int = DECON_NGRAM) -> str:
    """Generic over window sizes: every benchmark row contributes its
    EFFECTIVE window ne = least(n, len) (the ``_bench_window_sizes``
    adaptive rule), and the corpus explodes its grams once per
    distinct ne — a data-independent SQL form, so the short-benchmark
    classes are oracle-checked rather than pytest-pinned (round-10
    verdict's asymmetry note). With a uniformly-long benchmark this
    reduces exactly to the old fixed-n query."""
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
bw AS (
    SELECT t, LEAST({n}, len(t)) AS ne
    FROM toks
    WHERE doc_id % 97 = 0 AND trim(array_to_string(t, ' ')) != ''
),
bg AS (
    SELECT DISTINCT ne, array_to_string(t[i:i+ne-1], ' ') AS g
    FROM bw, unnest(generate_series(1, len(t) - ne + 1)) r(i)
),
w AS (SELECT DISTINCT ne FROM bw),
dg AS (
    SELECT DISTINCT doc_id, w.ne,
           array_to_string(t[i:i+w.ne-1], ' ') AS g
    FROM toks, w, unnest(generate_series(1, len(t) - w.ne + 1)) r(i)
    WHERE len(t) >= w.ne
),
hits AS (
    SELECT doc_id, count(*) AS n_hits
    FROM dg JOIN bg USING (ne, g)
    GROUP BY 1
)
SELECT d.doc_id,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       COALESCE(h.n_hits, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
"""


CORPUS_DECONTAMINATE_SQL = _decontaminate_sql()


# --- split leakage report -------------------------------------------------------
def corpus_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs STRADDLING split boundaries — the leakage exact
    per-doc split hashing cannot prevent: a test doc whose near-copy
    sits in train is memorization the eval will credit as
    generalization. Output: (doc_a, doc_b, jaccard, split_a, split_b),
    split_a != split_b, the audit a release gate reads before
    shipping a corpus (cf. Lee et al. '22 §6.2, who found thousands of
    such pairs in standard benchmarks).

    Pure composition: the verified MinHash pair miner + two broadcast
    joins of the ≤pair-count-sized pair table against the split
    labels — pairs are corpus-churn-sized, so the label joins are
    cheap and the corpus is never reshuffled."""
    from fledge_south_csvplayback_spark.operators import dedup

    # the PAIR table is the small side: guard-broadcast it so the
    # corpus-sized split frame streams through two broadcast joins
    # instead of being shuffled twice (a pathologically duplicated
    # corpus degrades to the shuffle via the shared guard)
    pairs = _guarded_broadcast(dedup.dedup_minhash_lsh(spark, sf_dir))
    splits = corpus_split(spark, sf_dir).select("doc_id", "split")
    a = splits.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
        "split", "split_a"
    )
    b = splits.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
        "split", "split_b"
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("doc_a", "doc_b", "jaccard", "split_a", "split_b")
    )


def _split_leakage_sql() -> str:
    # the MinHash miner's oracle IS the exact-Jaccard SQL (banded
    # candidates + verification = exact output, the registered
    # equivalence)
    from fledge_south_csvplayback_spark.operators.dedup import (
        NGRAM_JACCARD_SQL,
    )

    return f"""
WITH pairs AS ({NGRAM_JACCARD_SQL}),
sp AS (
    SELECT doc_id, {_split_case_sql()} AS split
    FROM (SELECT doc_id, {_bucket_sql('doc_id')} AS bucket FROM documents)
)
SELECT p.doc_a, p.doc_b, p.jaccard, a.split AS split_a, b.split AS split_b
FROM pairs p
JOIN sp a ON p.doc_a = a.doc_id
JOIN sp b ON p.doc_b = b.doc_id
WHERE a.split != b.split
"""


CORPUS_SPLIT_LEAKAGE_SQL = _split_leakage_sql()


def decontaminate_spans(
    docs: DataFrame, benchmark: DataFrame, n: int = DECON_NGRAM
) -> DataFrame:
    """Span-level decontamination (the Lee et al. '22 move, vs the
    whole-doc drop): cut every token covered by a matching benchmark
    window, keep the rest of the document. Output: (doc_id,
    clean_text, n_removed_tokens) for EVERY doc — clean docs pass
    through with 0 removed. Benchmark rows shorter than n match at
    their own full length (``_bench_window_sizes``), the same
    adaptive rule the flags use.

    Work shape: matching (position, window-size) hits come from
    ``positional_shingles`` (the same gram keys the flags use, in
    position order) exploded through the broadcast benchmark join —
    leak-sized output — aggregated per doc and broadcast back (both
    via ``_guarded_broadcast``, whose count materializes the cache so
    the corpus gram explode runs once). The token surgery is a
    higher-order filter (position j survives unless some hit (i, ne)
    covers j in [i, i+ne-1]); it runs ONLY on flagged docs (the
    ``when`` guard), the split/filter subtrees are LET-BOUND via the
    ``transform(array(...))`` trick (dedup.shingles' rule: an
    element_at lambda otherwise embeds its argument subtree per
    element, O(len²)), and reconstruction joins surviving tokens with
    single spaces — the corpus tokenization convention."""
    from fledge_south_csvplayback_spark.operators.dedup import (
        positional_shingles,
    )

    ne_values = _bench_window_sizes(benchmark, n)
    if not ne_values:
        return docs.select(
            "doc_id",
            F.col("text").alias("clean_text"),
            F.lit(0).cast("int").alias("n_removed_tokens"),
        )
    bg = _guarded_broadcast(_bench_grams(benchmark, n, ne_values))
    sz = F.size(F.split(F.col("text"), " "))
    pos_frames = [
        docs.filter(sz >= ne).select(
            "doc_id",
            F.lit(ne).alias("ne"),
            F.posexplode(positional_shingles(F.col("text"), ne)).alias(
                "idx0", "g"
            ),
        )
        for ne in ne_values
    ]
    pos_grams = pos_frames[0]
    for f in pos_frames[1:]:
        pos_grams = pos_grams.unionByName(f)
    hits = _guarded_broadcast(
        pos_grams.join(bg, ["ne", "g"])
        .groupBy("doc_id")
        .agg(
            F.collect_list(
                F.struct(
                    (F.col("idx0") + 1).alias("i"), F.col("ne").alias("ne")
                )
            ).alias("hit_win")
        )
    )

    def covered(j):
        return F.exists(
            F.col("hit_win"),
            lambda w: (j >= w["i"]) & (j <= w["i"] + w["ne"] - 1),
        )

    # let-bind toks, then the surviving-position list, so split() and
    # the filter subtree each evaluate ONCE per row
    def surgery(toks):
        surviving = F.filter(
            F.sequence(F.lit(1), F.size(toks)), lambda j: ~covered(j)
        )
        return F.element_at(
            F.transform(
                F.array(surviving),
                lambda sv: F.struct(
                    F.array_join(
                        F.transform(sv, lambda j: F.element_at(toks, j)),
                        " ",
                    ).alias("clean"),
                    (F.size(toks) - F.size(sv)).alias("removed"),
                ),
            ),
            1,
        )

    res = F.element_at(
        F.transform(F.array(F.split(F.col("text"), " ")), surgery), 1
    )
    has_hits = F.col("hit_win").isNotNull()
    return (
        docs.join(hits, "doc_id", "left")
        .withColumn("_r", F.when(has_hits, res))
        .select(
            "doc_id",
            F.when(has_hits, F.col("_r")["clean"])
            .otherwise(F.col("text"))
            .alias("clean_text"),
            F.coalesce(F.col("_r")["removed"], F.lit(0))
            .cast("int")
            .alias("n_removed_tokens"),
        )
    )


def corpus_decontaminate_spans(
    spark: SparkSession, sf_dir: str, n: int = DECON_NGRAM
) -> DataFrame:
    """Oracle entry: span surgery against the stand-in benchmark —
    benchmark docs themselves empty out entirely (every token is
    covered by construction)."""
    return decontaminate_spans(
        _docs(spark, sf_dir), _benchmark(spark, sf_dir), n
    )


def _decontaminate_spans_sql(n: int = DECON_NGRAM) -> str:
    """Generic over window sizes like ``_decontaminate_sql``: hit
    positions carry their window's ne so the surgery cuts [i, i+ne-1]
    per hit — the adaptive short-benchmark classes are value-checked
    end-to-end, not just pytest-pinned."""
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
bw AS (
    SELECT t, LEAST({n}, len(t)) AS ne
    FROM toks
    WHERE doc_id % 97 = 0 AND trim(array_to_string(t, ' ')) != ''
),
bg AS (
    SELECT DISTINCT ne, array_to_string(t[i:i+ne-1], ' ') AS g
    FROM bw, unnest(generate_series(1, len(t) - ne + 1)) r(i)
),
w AS (SELECT DISTINCT ne FROM bw),
pg AS (
    SELECT doc_id, w.ne, i,
           array_to_string(t[i:i+w.ne-1], ' ') AS g
    FROM toks, w, unnest(generate_series(1, len(t) - w.ne + 1)) AS r(i)
    WHERE len(t) >= w.ne
),
hits AS (
    SELECT doc_id, list(struct_pack(i := i, ne := ne)) AS hw
    FROM pg JOIN bg USING (ne, g)
    GROUP BY 1
),
joined AS (
    SELECT tk.doc_id, tk.t, h.hw
    FROM toks tk LEFT JOIN hits h ON tk.doc_id = h.doc_id
),
cut AS (
    SELECT doc_id, t, hw,
           list_filter(generate_series(1, len(t)),
               j -> len(list_filter(hw,
                        h -> j >= h.i AND j <= h.i + h.ne - 1)) = 0) AS sv
    FROM joined
)
SELECT doc_id,
       CASE WHEN hw IS NULL
            THEN array_to_string(t, ' ')
            -- COALESCE: DuckDB's array_to_string([]) is NULL where
            -- Spark's array_join([]) is '' (the fully-covered doc)
            ELSE COALESCE(
                array_to_string(list_transform(sv, j -> t[j]), ' '), '')
       END AS clean_text,
       CAST(CASE WHEN hw IS NULL THEN 0 ELSE len(t) - len(sv) END
            AS INTEGER) AS n_removed_tokens
FROM cut
"""


CORPUS_DECONTAMINATE_SPANS_SQL = _decontaminate_spans_sql()
