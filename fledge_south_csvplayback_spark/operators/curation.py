"""Corpus-curation operators: the selection half of a training-data
pipeline (the analysis half lives in ``text.py``/``dedup.py``).

Everything here is DETERMINISTIC and engine-reproducible — sampling
decisions key off ``md5(doc_id)`` buckets, never a RNG — so the same
corpus yields byte-identical samples on any cluster size, on
re-runs, and in the DuckDB oracles (``tests/test_curation.py`` runs the
same compare as the registered queries; the query registry itself is at
its 50-entry cap).

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
splits, temperature-scaled mixture weights, per-language token budgets
(two-pass running sum), a rule quality filter and a hashed-linear
quality score, exact and near-dup dedup applied to the corpus (min-id and best-score representatives),
a dataset-card profile, fixed-length chunking, a deterministic shuffle
order, a snapshot diff, and benchmark decontamination. These are
gap-fill operators (the reference plugin has no corpus selection; its
closest surface is the row-filtering in ``process_csv_data.py``)
mandated by the training-pipeline brief.
"""

from __future__ import annotations

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


def _docs_path(sf_dir: str) -> str:
    """The ONE documents-table path builder: ``_docs`` reads it and the
    starvation-checked ``spread`` calls measure it — a single source so
    the fan-out guard can never silently measure a different file than
    the scan it protects (round-15 advisory)."""
    return f"{sf_dir}/documents.parquet"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(_docs_path(sf_dir))


# --- pluggable token counting ------------------------------------------------
# Every budget operator counts tokens through ONE expression so
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
    module docstring) behind ``corpus_token_budget``. Output: (doc_id,
    lang, n_tok, bucket, cum_tok). ``method`` is the ``token_count`` rule.

    The grouping/join key is ``coalesce(lang, NUL)``, not ``lang``: a
    window PARTITION BY (the oracle's shape) treats NULL as a real
    partition, but the prefix-broadcast JOIN here would silently drop
    NULL-lang docs (NULL keys never equi-join) — found by the
    hostile-docs sweep. No real language code contains NUL, so the
    surrogate cannot collide."""
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        token_count(F.col("text"), method).alias("n_tok"),
        _bucket(F.col("doc_id")).alias("bucket"),
        F.coalesce(F.col("lang"), F.lit("\x00")).alias("_lkey"),
    )
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
    the audit query (``quality_filter``) and the streaming ingest gate
    (``streaming/corpus_ingest.py``) apply literally the same rules."""
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
    partitioning. Used by the dedup-applied corpus and the streaming
    ingest so the keeper rule cannot drift (unused output columns are
    pruned by Catalyst at each call site)."""
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

    def _chunker(batches, ranks=ranks, c=c, s=s):
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

    return docs.select("doc_id", "lang", "text").mapInPandas(
        _chunker,
        "doc_id long, lang string, chunk_id bigint, "
        "n_chunk_tokens bigint, chunk_text string",
    )


def _chunk_docs(
    docs: DataFrame,
    chunk_tokens: int,
    stride: int,
) -> DataFrame:
    """Chunking body over a docs DataFrame (doc_id, lang, text).

    Chunk boundaries are deliberately WHITESPACE positions regardless
    of the ``token_count`` method configured for budgets: a
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
        toks.alias("toks"),
        F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id", "_start"),
    )
    chunk = F.slice(F.col("toks"), F.col("_start") * s + 1, c)
    return base.select(
        "doc_id",
        "lang",
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


# --- deterministic global shuffle + sharded training export ------------------
SHUFFLE_SALT = "shuffle:"
SHUFFLE_SHARDS = 8


def _shuffle_key(doc_id: Column) -> Column:
    """Full md5 hex of the salted doc_id — a deterministic uniform
    permutation key. The salt decorrelates the training-order
    permutation from ``_bucket``'s unsalted budget priority (the same
    doc must not always lead its shard AND its budget order)."""
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
) -> DataFrame:
    """Distinct (ne, g) benchmark gram keys: window size n for rows
    with >= n words, the row's own length for shorter rows. Blank
    rows are dropped here too (not just in ``_bench_window_sizes``):
    a whitespace-only row whose token count happens to equal another
    short row's class would otherwise contribute empty-token grams."""
    from fledge_south_csvplayback_spark.operators.dedup import shingles

    benchmark = benchmark.filter(F.trim(F.col("text")) != "")
    sz = F.size(F.split(F.col("text"), " "))
    frames = []
    for ne in ne_values:
        rows = benchmark.filter(sz >= n if ne == n else sz == ne)
        frames.append(
            rows.select(
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
