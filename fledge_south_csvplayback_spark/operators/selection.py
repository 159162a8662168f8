"""Model-targeted data selection: DSIR importance resampling.

Implements Data Selection via Importance Resampling (Xie et al.,
NeurIPS 2023) over the ``documents`` table: score every raw document
by how much it looks like a TARGET corpus under hashed bag-of-ngrams
language models, then resample the raw corpus toward the target
distribution with Gumbel-top-k — the standard recipe for "pretrain on
web-scale raw text, but shaped like the trusted/high-quality slice".

This module extends the curation family (`curation.py` holds the
budget/quality/dedup operators); nothing here exists in the reference
(`/root/reference` is a CSV playback plugin — selection is part of the
LLM-pipeline surface this engine adds on top).

Everything is deterministic and oracle-checkable: features hash
through md5 (reproduced bit-for-bit in DuckDB), the Gumbel noise is
derived from md5 of ``doc_id`` (no RNG), and scores are rounded to 6
decimals before ranking so both engines rank identical keys.

Scale shape (see ``dsir_logweights``):

- grams explode and hash to buckets in a single codegen'd projection;
  fit and score are two declarative scans of it by default, or one
  ``localCheckpoint``-shared scan for small inputs (the ``share_scan``
  auto rule — see ``dsir_logweights`` for the measured trade: the
  materialized gram table wins at bench SFs and loses with a
  unified-memory exhaustion at the 10M-doc probe).
- **fit** is ONE hash-aggregate Exchange keyed on the feature bucket
  (≤ ``DSIR_BUCKETS`` distinct keys, map-side partial combine: each
  task emits at most B rows). Target and raw counts ride the same
  aggregate as conditional sums — the target model is NOT a second
  pass.
- the bucket→log-ratio table is ≤ B rows by construction and is
  broadcast; the corpus never joins itself.
- **score** is ONE hash-aggregate Exchange keyed on ``doc_id`` (again
  with map-side partial sums). Selection is ORDER BY + LIMIT — Spark
  plans TakeOrderedAndProject (per-partition top-n, no global sort
  Exchange).

Gram construction stays inside whole-stage codegen: higher-order
array lambdas (filter/transform) are INTERPRETED in Spark and cost
~15 µs/row on this path (measured); the normalized-text + lookahead-
regex construction below produces the identical gram multiset at
half the cost and compiles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fledge_south_csvplayback_spark.operators import fanout

# Feature-hash resolution for the bag-of-ngrams models. The paper uses
# 10k buckets for unigram+bigram word features; 4096 keeps the ratio
# table trivially broadcastable while leaving collisions rare on the
# test corpora. Collisions are part of the method (hashed LMs), not an
# error source — both engines collide identically.
DSIR_BUCKETS = 4096
# Add-s smoothing for both models: buckets unseen in the target corpus
# still get finite log-ratios instead of -inf.
DSIR_SMOOTH = 1.0
DSIR_TOP_N = 100
DSIR_HASHES = ("md5", "xxhash64")
# first-8-md5-hex-digits range, for mapping a hash to uniform (0, 1)
_U32 = 4294967296


# share_scan auto-enable bound (compressed parquet bytes of the input):
# the exploded gram table runs ~30-60× the compressed input; 256 MB in
# keeps the materialization comfortably inside a 48 g local JVM's
# storage pool, and anything bigger takes the two-scan shape.
SHARE_SCAN_MAX_BYTES = 256 * 1024 * 1024


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _input_bytes(path: str) -> int:
    """Compressed on-disk size of the input, for the share_scan auto
    rule; a remote URI (no local listing) reports 'huge' so the knob
    stays off rather than erroring."""
    from fledge_south_csvplayback_spark.operators import compaction

    try:
        return compaction.input_bytes(path)
    except ValueError:
        return 1 << 62


def _grams(text: Column) -> Column:
    """Lowered whitespace unigrams + bigrams as one string array,
    entirely in codegen'd expressions.

    Text is normalized first (lower, collapse ``\\s+`` to single
    spaces, trim) so that a plain ``split(' ')`` yields the tokens and
    the OVERLAPPING bigrams fall out of one ``regexp_extract_all``
    with a lookahead capture — ``(?<=^| )(?=(\\S+ \\S+))`` matches
    zero-width at every token start and captures the next two tokens.
    Same gram multiset as the filter/transform formulation, none of
    its interpreted per-element lambda cost. The DuckDB twin builds
    the same grams with list ops (RE2 has no lookahead; only the
    VALUES must match, not the mechanism)."""
    t = F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))
    uni = F.when(
        F.length(t) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(t, " "))
    bi = F.regexp_extract_all(t, F.lit(r"(?<=^| )(?=(\S+ \S+))"), 1)
    return F.concat(uni, bi)


_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


def _gram_bucket(col: Column, buckets: int, hash_method: str) -> Column:
    """Feature bucket: ``md5`` is curation._bucket's rule (first 8 md5
    hex digits — DuckDB-reproducible, the oracle path); ``xxhash64``
    is the production knob (native codegen'd 8-byte hash, no hex
    round-trip). Any uniform hash family defines an equally valid
    hashed LM — the knob changes WHICH collisions happen, not the
    method — so the xxhash64 path is gated by the fixture-property
    tests rather than the DuckDB oracle."""
    if hash_method == "md5":
        return (
            F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
            % buckets
        )
    if hash_method == "xxhash64":
        return F.pmod(F.xxhash64(col), F.lit(buckets))
    raise ValueError(
        f"unknown hash_method {hash_method!r}; one of {DSIR_HASHES}"
    )


def _gram_bucket_sql(expr: str, buckets: int = DSIR_BUCKETS) -> str:
    return f"(('0x' || substring(md5({expr}), 1, 8))::BIGINT % {buckets})"


def _gumbel(doc_id: Column) -> Column:
    """Deterministic standard-Gumbel draw per doc: u = md5-uniform in
    (0, 1), g = -ln(-ln(u)). Gumbel-top-k over (log w + g) is exactly
    sampling-without-replacement proportional to w — the paper's
    resampling step — made reproducible and oracle-checkable.

    The key is SALTED (``'gumbel:' || doc_id``) so the resampling
    noise is decorrelated from ``curation._bucket``'s unsalted
    first-8-md5(doc_id) integer that drives split/sample decisions —
    the same decorrelation rule ``curation.SHUFFLE_SALT`` documents
    for the shuffle permutation (round-8 advisory fix)."""
    salted = F.concat(F.lit("gumbel:"), doc_id.cast("string"))
    u = (
        F.conv(F.substring(F.md5(salted), 1, 8), 16, 10).cast("double")
        + F.lit(1.0)
    ) / F.lit(float(_U32 + 1))
    return -F.log(-F.log(u))


def _gumbel_sql(expr: str) -> str:
    return (
        f"-ln(-ln((('0x' || substring(md5('gumbel:' || "
        f"CAST({expr} AS VARCHAR)), 1, 8))"
        f"::BIGINT + 1.0) / {float(_U32 + 1)}))"
    )


def dsir_logweights(
    spark: SparkSession,
    sf_dir: str,
    target_source: str = "src1",
    buckets: int = DSIR_BUCKETS,
    smooth: float = DSIR_SMOOTH,
    hash_method: str = "md5",
    share_scan: bool | None = None,
) -> DataFrame:
    """Per-document DSIR log importance weight: log p_target(doc) -
    log p_raw(doc) under hashed unigram+bigram models.

    The target corpus is the ``source == target_source`` slice (stand-
    in for "the trusted domain" — Wikipedia, curated books, an eval-
    adjacent seed set); the raw model is the WHOLE corpus. Any boolean
    predicate works — the fit aggregates a flag, not a second table.

    Returns (doc_id, n_grams, logw) for every document; docs with no
    tokens get logw = 0 (explode_outer keeps them as a null-bucket row
    that the fit excludes and the score left-join zeroes).

    Plan (asserted in tests/test_selection.py): the exploded
    (doc_id, is_target, bucket) table is a single codegen'd
    projection, no Python; then one bucket-keyed aggregate Exchange
    (fit), one broadcast of the ≤``buckets``-row log-ratio table, one
    doc_id-keyed aggregate Exchange (score). The unpartitioned window
    computing the two model totals runs over the ≤``buckets``-row
    AGGREGATE, never the corpus (the module-wide rule from
    ``corpus_token_budget``).

    ``share_scan``: fit and score both consume the exploded bucket
    table; with the knob on it is eagerly localCheckpoint-ed so the
    corpus is scanned once (wins when the gram table fits executor
    storage — measured ~1.5 s vs ~2.5 s warm at sf0.1). The knob is
    OFF by default and auto-enables only for small inputs
    (``SHARE_SCAN_MAX_BYTES``): materializing the ~50×-larger gram
    table is a storage-memory bet that a 10M-doc probe measurably
    LOSES (unified-memory exhaustion on a 48 g local JVM) — at scale
    the two declarative scans are the honest shape, and a cluster
    that wants the single-scan variant opts in with storage to back
    it."""
    # the gram explode + md5 bucketing run twice (fit + score) and
    # otherwise sit on ONE task over a single-split corpus (guide
    # §2.2); spread is a no-op once input splits provide parallelism
    docs = fanout.spread(
        _docs(spark, sf_dir), spark, f"{sf_dir}/documents.parquet"
    )
    exb = docs.select(
        "doc_id",
        (F.col("source") == F.lit(target_source)).alias("is_t"),
        F.explode_outer(_grams(F.col("text"))).alias("g"),
    ).select(
        "doc_id",
        "is_t",
        _gram_bucket(F.col("g"), buckets, hash_method).alias("b"),
    )
    if share_scan is None:
        share_scan = _input_bytes(f"{sf_dir}/documents.parquet") <= (
            SHARE_SCAN_MAX_BYTES
        )
    if share_scan:
        exb = exb.localCheckpoint(eager=True)

    counts = (
        exb.filter(F.col("b").isNotNull())
        .groupBy("b")
        .agg(
            F.count(F.lit(1)).alias("raw_cnt"),
            F.sum(F.when(F.col("is_t"), 1).otherwise(0)).alias("tgt_cnt"),
        )
    )
    whole = Window.partitionBy()
    sb = F.lit(float(smooth)) * F.lit(float(buckets))
    ratio = (
        counts.withColumn("raw_tot", F.sum("raw_cnt").over(whole))
        .withColumn("tgt_tot", F.sum("tgt_cnt").over(whole))
        .select(
            "b",
            (
                F.log(
                    (F.col("tgt_cnt") + F.lit(float(smooth)))
                    / (F.col("tgt_tot") + sb)
                )
                - F.log(
                    (F.col("raw_cnt") + F.lit(float(smooth)))
                    / (F.col("raw_tot") + sb)
                )
            ).alias("lr"),
        )
    )

    return (
        exb.join(F.broadcast(ratio), "b", "left")
        .groupBy("doc_id")
        .agg(
            F.count("b").alias("n_grams"),
            F.coalesce(F.sum("lr"), F.lit(0.0)).alias("logw"),
        )
    )


def corpus_dsir_select(
    spark: SparkSession,
    sf_dir: str,
    target_source: str = "src1",
    n_select: int = DSIR_TOP_N,
    buckets: int = DSIR_BUCKETS,
    smooth: float = DSIR_SMOOTH,
    hash_method: str = "md5",
    share_scan: bool | None = None,
    weights: DataFrame | None = None,
) -> DataFrame:
    """DSIR selection: the ``n_select`` documents with the highest
    Gumbel-perturbed log importance weight — a deterministic sample
    without replacement from the raw corpus, reweighted toward the
    target distribution.

    ``score = round(logw + gumbel(doc_id), 6)``; ties (and cross-
    engine float-summation jitter, killed by the rounding) break on
    doc_id. ORDER BY + LIMIT plans as TakeOrderedAndProject — no
    global sort Exchange on top of ``dsir_logweights``' two.

    ``weights``: a precomputed ``dsir_logweights`` frame (doc_id,
    n_grams, logw) to select from. A caller that keeps the weights —
    diagnostics, several ``n_select`` cuts, a score-threshold variant
    — should compute them ONCE and pass the frame (or its persisted/
    written-out form): self-contained select re-derives the weights
    from the corpus, which at 10M docs repaid the full two-scan cost
    on top of the logweights pass (78.9 s + 71.0 s, BASELINE.md
    §Round 9)."""
    if weights is not None:
        missing = {"doc_id", "n_grams", "logw"} - set(weights.columns)
        if missing:
            raise ValueError(
                f"weights frame lacks column(s) {sorted(missing)}"
            )
        w = weights
    else:
        w = dsir_logweights(
            spark, sf_dir, target_source, buckets, smooth, hash_method,
            share_scan,
        )
    score = F.round(F.col("logw") + _gumbel(F.col("doc_id")), 6)
    return (
        w.select(
            "doc_id",
            "n_grams",
            F.round("logw", 6).alias("logw"),
            score.alias("score"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(n_select)
    )


def corpus_dsir_select_registered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The driver-registered DSIR entry: ``share_scan=False`` pinned.

    Registered plans are the 100×-scale plans (COVERAGE.md rule): the
    two-declarative-scan shape is the one that survives the 10M-doc
    probe, and it keeps the plan free of the ``localCheckpoint``'s
    ``Scan ExistingRDD`` node that the global plan-hygiene pin
    (tests/test_plans.py) forbids. The checkpoint stays available as
    ``corpus_dsir_select(..., share_scan=True)`` — an opt-in
    small-corpus knob, auto-enabled only via the public function's
    size gate."""
    return corpus_dsir_select(spark, sf_dir, share_scan=False)


def _dsir_sql(
    target_source: str = "src1",
    n_select: int = DSIR_TOP_N,
    buckets: int = DSIR_BUCKETS,
    smooth: float = DSIR_SMOOTH,
) -> str:
    s = float(smooth)
    sb = s * buckets
    return f"""
WITH tok AS (
    SELECT doc_id, source = '{target_source}' AS is_t,
           CASE WHEN {_NORM_SQL} = '' THEN []
                ELSE string_split({_NORM_SQL}, ' ') END AS w
    FROM documents
),
ex AS (
    SELECT doc_id, is_t,
           unnest(w || list_transform(
               range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) AS g
    FROM tok
),
counts AS (
    SELECT {_gram_bucket_sql('g', buckets)} AS b,
           COUNT(*) AS raw_cnt,
           SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS tgt_cnt
    FROM ex GROUP BY 1
),
ratio AS (
    SELECT b,
           ln((tgt_cnt + {s}) / (SUM(tgt_cnt) OVER () + {sb}))
         - ln((raw_cnt + {s}) / (SUM(raw_cnt) OVER () + {sb})) AS lr
    FROM counts
),
scored AS (
    SELECT ex.doc_id, COUNT(*) AS n_grams, SUM(ratio.lr) AS logw
    FROM ex JOIN ratio ON {_gram_bucket_sql('ex.g', buckets)} = ratio.b
    GROUP BY 1
),
alldocs AS (
    SELECT d.doc_id,
           CAST(COALESCE(s.n_grams, 0) AS BIGINT) AS n_grams,
           COALESCE(s.logw, 0.0) AS logw
    FROM documents d LEFT JOIN scored s USING (doc_id)
)
SELECT doc_id, n_grams, ROUND(logw, 6) AS logw,
       ROUND(logw + {_gumbel_sql('doc_id')}, 6) AS score
FROM alldocs
ORDER BY score DESC, doc_id
LIMIT {n_select}
"""


DSIR_SELECT_SQL = _dsir_sql()


# --- per-source distribution divergence --------------------------------------
def corpus_source_divergence(
    spark: SparkSession,
    sf_dir: str,
    buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Per-source KL divergence from the corpus-wide token
    distribution — the drift/outlier diagnostic a mixture designer
    reads before setting weights: a source whose hashed-unigram
    distribution sits far from the corpus (mojibake, boilerplate
    farms, a different language than labeled) shows a large
    ``kl_nats`` and warrants inspection before it is up-sampled.

    KL(p_source ‖ p_corpus) needs no smoothing: every source token IS
    a corpus token, so q(b) > 0 wherever p(b) > 0 (absolute
    continuity by construction) and the sum runs over the source's
    own observed buckets only.

    Plan: one corpus scan exploding hashed unigram buckets into ONE
    (source, bucket)-keyed aggregate Exchange (map-side combine: each
    task emits ≤ |sources|·B rows). Everything after operates on that
    aggregate — ≤ |sources|·B rows — never the corpus: bucket totals
    via a window over the aggregate, per-source reduction via one more
    tiny Exchange. Output: (source, n_grams, kl_nats) rounded to 6."""
    docs = _docs(spark, sf_dir)
    t = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    uni = F.when(
        F.length(t) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(t, " "))
    ex = docs.select(
        "source", F.explode(uni).alias("g")
    ).select("source", _gram_bucket(F.col("g"), buckets, "md5").alias("b"))

    sb = ex.groupBy("source", "b").agg(F.count(F.lit(1)).alias("cnt"))
    by_bucket = Window.partitionBy("b")
    by_source = Window.partitionBy("source")
    whole = Window.partitionBy()
    enriched = (
        sb.withColumn("bucket_tot", F.sum("cnt").over(by_bucket))
        .withColumn("src_tot", F.sum("cnt").over(by_source))
        .withColumn("corpus_tot", F.sum("cnt").over(whole))
    )
    p = F.col("cnt") / F.col("src_tot")
    q = F.col("bucket_tot") / F.col("corpus_tot")
    return (
        enriched.withColumn("term", p * F.log(p / q))
        .groupBy("source")
        .agg(
            F.max("src_tot").cast("bigint").alias("n_grams"),
            F.round(F.sum("term"), 6).alias("kl_nats"),
        )
    )


def _source_divergence_sql(buckets: int = DSIR_BUCKETS) -> str:
    return f"""
WITH ex AS (
    SELECT source,
           {_gram_bucket_sql('unnest(CASE WHEN ' + _NORM_SQL + " = '' THEN [] "
                             'ELSE string_split(' + _NORM_SQL + ", ' ') END)",
                             buckets)} AS b
    FROM documents
),
sb AS (SELECT source, b, COUNT(*) AS cnt FROM ex GROUP BY 1, 2),
enr AS (
    SELECT source, b, cnt,
           SUM(cnt) OVER (PARTITION BY b) AS bucket_tot,
           SUM(cnt) OVER (PARTITION BY source) AS src_tot,
           SUM(cnt) OVER () AS corpus_tot
    FROM sb
)
SELECT source, CAST(MAX(src_tot) AS BIGINT) AS n_grams,
       ROUND(SUM((cnt / src_tot::DOUBLE)
                 * ln((cnt / src_tot::DOUBLE)
                      / (bucket_tot / corpus_tot::DOUBLE))), 6) AS kl_nats
FROM enr
GROUP BY 1
"""


CORPUS_SOURCE_DIVERGENCE_SQL = _source_divergence_sql()
