"""Text-analysis operators over the ``documents`` table.

Training-data-pipeline text ops, all built-in expressions (no Python
UDFs — every formula is a Catalyst expression that survives
whole-stage codegen and scales embarrassingly):

- **text_stats / quality**: char/token counts, distinct-token ratio,
  stopword ratio, mean token length, and a deterministic composite
  quality score.
- **lang_id**: marker-word n-gram heuristic (argmax of per-language
  stopword hits with a deterministic tie order).
- **token classes**: BPE-ish regex token counting (word / number /
  other classes).
- **fingerprint**: md5 over normalized text — the canonical
  content-defined document fingerprint used by exact dedup.
- **corpus-level**: unigram log-prob scoring, top-k n-grams, BM25
  keyword search, Gopher repetition signals, repeated-line and
  repeated-span scrubs, BPE tokenization, normalization and HTML
  extraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fledge_south_csvplayback_spark.operators import compaction, fanout

STOPWORDS = ("the", "a", "of", "and", "in")

# marker sets per language; scored in this fixed order, first max wins
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "in"),
    "es": ("el", "la", "los", "de", "y"),
    "fr": ("le", "la", "les", "et", "un"),
    "de": ("der", "die", "das", "und", "ein"),
}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _in_set(arr, values: tuple[str, ...]):
    lit_arr = F.array(*[F.lit(v) for v in values])
    return F.size(F.filter(arr, lambda t: F.array_contains(lit_arr, t)))


# --- stats + quality score ---------------------------------------------------
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    stop_hits = _in_set(toks, STOPWORDS)
    tok_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda acc, x: acc + x
    )
    ttr = n_distinct / n_tokens
    stop_ratio = stop_hits / n_tokens
    mean_len = tok_chars / n_tokens
    quality = F.round(
        F.least(F.lit(1.0), n_tokens / F.lit(100.0)) * 0.4
        + ttr * 0.4
        + F.least(F.lit(1.0), stop_ratio * 10) * 0.2,
        6,
    )
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct"),
        F.round(ttr, 6).alias("ttr"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(mean_len, 6).alias("mean_token_len"),
        quality.alias("quality"),
    )


def _duck_inset(values: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{v}'" for v in values)
    return f"len(list_filter(t, x -> x IN ({lst})))"


TEXT_STATS_SQL = f"""
WITH s AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)
SELECT doc_id,
       CAST(len(text) AS INTEGER) AS n_chars,
       CAST(len(t) AS INTEGER) AS n_tokens,
       CAST(len(list_distinct(t)) AS INTEGER) AS n_distinct,
       ROUND(len(list_distinct(t))::DOUBLE / len(t), 6) AS ttr,
       ROUND({_duck_inset(STOPWORDS)}::DOUBLE / len(t), 6) AS stop_ratio,
       ROUND(list_sum(list_transform(t, x -> len(x)))::DOUBLE / len(t), 6)
           AS mean_token_len,
       ROUND(LEAST(1.0, len(t) / 100.0) * 0.4
             + (len(list_distinct(t))::DOUBLE / len(t)) * 0.4
             + LEAST(1.0, ({_duck_inset(STOPWORDS)}::DOUBLE / len(t)) * 10) * 0.2,
             6) AS quality
FROM s
"""


# --- language-id heuristic ---------------------------------------------------
def _lang_id_cols() -> list:
    """The lang-ID projection columns (over a frame holding ``text``)
    — shared by ``text_lang_id`` and ``text_profile_suite`` so the
    fold cannot drift from the standalone operator."""
    toks = F.split(F.col("text"), " ")
    scores = {lang: _in_set(toks, m) for lang, m in LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    # reversed so the first language in LANG_MARKERS order wins ties
    for lang in reversed(list(LANG_MARKERS)):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best == 0, F.lit("und")).otherwise(pred)
    return [
        pred.alias("lang_pred"),
        *[s.alias(f"score_{lang}") for lang, s in scores.items()],
    ]


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select("doc_id", "lang", *_lang_id_cols())


def _lang_case() -> tuple[str, dict[str, str]]:
    hits = {lang: _duck_inset(m) for lang, m in LANG_MARKERS.items()}
    best = "GREATEST(" + ", ".join(hits.values()) + ")"
    branches = " ".join(
        f"WHEN {hits[lang]} = {best} THEN '{lang}'" for lang in LANG_MARKERS
    )
    return (
        f"CASE WHEN {best} = 0 THEN 'und' {branches} ELSE 'und' END",
        hits,
    )


_CASE, _HITS = _lang_case()
TEXT_LANG_ID_SQL = f"""
WITH s AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents)
SELECT doc_id, lang,
       {_CASE} AS lang_pred,
       CAST({_HITS['en']} AS INTEGER) AS score_en,
       CAST({_HITS['es']} AS INTEGER) AS score_es,
       CAST({_HITS['fr']} AS INTEGER) AS score_fr,
       CAST({_HITS['de']} AS INTEGER) AS score_de
FROM s
"""


# --- BPE-ish token-class counting --------------------------------------------
WORD_RE = "[a-z]+"
NUM_RE = "[0-9]+"


def _token_class_cols() -> list:
    """Token-class counting columns — shared with the profile suite."""
    return [
        F.regexp_count(F.col("text"), F.lit(r"\S+")).alias("n_ws_tokens"),
        F.regexp_count(F.col("text"), F.lit(WORD_RE)).alias("n_word_tokens"),
        F.regexp_count(F.col("text"), F.lit(NUM_RE)).alias("n_num_tokens"),
    ]


def text_token_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select("doc_id", *_token_class_cols())


TEXT_TOKEN_CLASSES_SQL = rf"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '\S+')) AS INTEGER) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{WORD_RE}')) AS INTEGER) AS n_word_tokens,
       CAST(len(regexp_extract_all(text, '{NUM_RE}')) AS INTEGER) AS n_num_tokens
FROM documents
"""


# --- content fingerprint -----------------------------------------------------
def _fingerprint_col():
    """md5 over case-folded-then-stripped text — case-fold BEFORE
    stripping so uppercase letters are lowered, not deleted ('The Cat'
    normalizes to 'the cat', not 'he at'). Shared with the profile
    suite."""
    norm = F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", "")
    return F.md5(norm.cast("binary")).alias("fingerprint")


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select("doc_id", _fingerprint_col())


TEXT_FINGERPRINT_SQL = """
SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fingerprint
FROM documents
"""


# --- folded profile suite (round-14 registry rotation) ------------------------
def text_profile_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``text_lang_id`` + ``text_token_classes`` + ``text_fingerprint``
    folded into ONE registered entry (round-14 rotation, COVERAGE.md:
    the driver caps CORRECTNESS at 50 rows and the three are one-scan
    projections over the same documents fixture with disjoint output
    columns, so the fold is a WIDE single-scan projection — no union
    tag, no join, zero shuffle both engines). The constituent columns
    come from the same ``_lang_id_cols``/``_token_class_cols``/
    ``_fingerprint_col`` builders the standalone operators select, so
    suite-vs-operator drift is impossible by construction; the
    unmerged callables stay public and pytest-oracle-covered. The two
    freed slots register ``text_normalize`` and
    ``ann_cosine_topk_sq8``."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        *_lang_id_cols(),
        *_token_class_cols(),
        _fingerprint_col(),
    )


TEXT_PROFILE_SUITE_SQL = rf"""
WITH s AS (SELECT doc_id, lang, text, string_split(text, ' ') AS t FROM documents)
SELECT doc_id, lang,
       {_CASE} AS lang_pred,
       CAST({_HITS['en']} AS INTEGER) AS score_en,
       CAST({_HITS['es']} AS INTEGER) AS score_es,
       CAST({_HITS['fr']} AS INTEGER) AS score_fr,
       CAST({_HITS['de']} AS INTEGER) AS score_de,
       CAST(len(regexp_extract_all(text, '\S+')) AS INTEGER) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{WORD_RE}')) AS INTEGER) AS n_word_tokens,
       CAST(len(regexp_extract_all(text, '{NUM_RE}')) AS INTEGER) AS n_num_tokens,
       md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fingerprint
FROM s
"""


# --- corpus-level unigram log-probability (perplexity proxy) -----------------
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram distribution — the classic LM-lite quality signal (CCNet
    filters on a KenLM score; the unigram version is its
    SQL-expressible core): documents made of globally rare tokens score
    low, formulaic boilerplate scores high.

    This is the repo's one corpus-global text op: the score of a doc
    depends on every OTHER doc's tokens. Plan (read from ``explain``,
    pinned in tests): explode tokens → count per token (map-side
    partial agg soaks the hot stopword keys) → join the exploded
    tokens back to their counts → per-doc average. The vocabulary
    aggregate's Exchange is computed once and REUSED for the corpus
    total (``ReusedExchange`` in the plan — the total is a second
    consumer of the same shuffle, not a second scan), and the 1-row
    total rides a broadcast nested-loop join. The vocabulary is NOT
    broadcast-hinted for the token join: vocabularies grow with the
    corpus (Heaps' law, unbounded at 100 TB), so AQE decides — at
    small scale it broadcasts (observed), at large scale it falls back
    to a shuffle join whose hot stopword keys AQE's skew handling
    splits, costing a second shuffle of the token stream (the
    unavoidable price of exact counts at unbounded vocabulary).

    Output: (doc_id, n_tokens, mean_logprob), average over token
    OCCURRENCES (repeats count), rounded to 6 like every float oracle
    in this repo so cross-engine summation order cannot flip a value.
    """
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").cast("double").alias("n"))
    return (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(F.log(F.col("c") / F.col("n"))), 6).alias(
                "mean_logprob"
            ),
        )
    )


TEXT_UNIGRAM_LOGPROB_SQL = """
WITH t AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
v AS (SELECT tok, COUNT(*) AS c FROM t GROUP BY 1),
n AS (SELECT SUM(c)::DOUBLE AS n FROM v)
SELECT t.doc_id, COUNT(*) AS n_tokens,
       ROUND(AVG(LN(v.c / n.n)), 6) AS mean_logprob
FROM t JOIN v USING (tok) CROSS JOIN n
GROUP BY t.doc_id
"""


# --- corpus-wide top-k n-grams -----------------------------------------------
TOP_NGRAMS_N = 2
TOP_NGRAMS_K = 20


def text_top_ngrams(
    spark: SparkSession,
    sf_dir: str,
    n: int = TOP_NGRAMS_N,
    k: int = TOP_NGRAMS_K,
) -> DataFrame:
    """Corpus-wide heavy hitters: the k most frequent token n-grams —
    the profiling pass behind stop-gram lists, boilerplate detection,
    and tokenizer-merge seeding. Plan: per-doc n-gram arrays (pure
    Catalyst, let-bound token array like ``dedup.shingles``), explode,
    one count aggregate (map-side partials absorb the hot grams — the
    aggregate IS the skew handling), then a global ``TakeOrdered(k)``
    — no full sort, each partition ships only its own top k.
    Deterministic tie order: count DESC, gram ASC, in both engines.

    A ``hashed`` knob (xxhash64 keys through the count exchange +
    threshold string recovery, the boilerplate-scrub pattern) was
    built and REVERTED on measurement (round 11, BASELINE.md): on the
    near-unique 10M probe vocabulary the honest interleaved A/B read
    54.9 s / 2.73 GB vs the string path's 30.5 s / 3.77 GB — random
    64-bit keys compress WORSE through the lz4 exchange than
    prefix-sharing gram strings, and the recovery pass pays a second
    gram build; on Zipfian real corpora map-side combine shrinks the
    string exchange anyway. The string path IS the production plan."""
    toks = F.split(F.col("text"), " ")

    def build(t: Column) -> Column:
        def gram(i: Column) -> Column:
            parts = [F.element_at(t, i + j) for j in range(n)]
            return F.concat_ws(" ", *parts)

        # in-expression totality guard (dedup.shingles
        # docstring): the .filter below does not protect against CSE
        return F.when(
            F.size(t) >= n,
            F.transform(F.sequence(F.lit(1), F.size(t) - (n - 1)), gram),
        ).otherwise(F.array().cast("array<string>"))

    grams = F.element_at(F.transform(F.array(toks), build), 1)
    docs = _docs(spark, sf_dir).filter(F.size(F.split(F.col("text"), " ")) >= n)
    return (
        docs.select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("gram"))
        .limit(k)
    )


TEXT_TOP_NGRAMS_SQL = f"""
WITH t AS (
    SELECT string_split(text, ' ') AS toks FROM documents
    WHERE len(string_split(text, ' ')) >= {TOP_NGRAMS_N}
),
g AS (
    SELECT unnest(list_transform(
        generate_series(1, len(toks) - {TOP_NGRAMS_N - 1}),
        i -> list_aggregate(toks[i:i+{TOP_NGRAMS_N - 1}], 'string_agg', ' ')
    )) AS gram
    FROM t
)
SELECT gram, COUNT(*) AS cnt
FROM g GROUP BY gram
ORDER BY cnt DESC, gram
LIMIT {TOP_NGRAMS_K}
"""


# --- intra-document repetition signals ---------------------------------------
REPETITION_N = 2  # token n-gram width for the gram-repetition metrics


def text_repetition(
    spark: SparkSession,
    sf_dir: str,
    n: int = REPETITION_N,
    hashed: bool = False,
) -> DataFrame:
    """Gopher-style intra-document repetition signals (Rae et al. 2021,
    "Scaling Language Models", App. A1.1): machine-generated and
    boilerplate pages repeat themselves; natural text mostly doesn't.
    Per document:

    - ``dup_line_frac``: fraction of line instances whose exact line
      value occurs ≥2 times in the document (ALL instances of a
      repeated line count, matching the Gopher definition);
    - ``dup_line_char_frac``: same, weighted by line length in chars;
    - ``top_gram_char_frac``: char mass (count × gram length) of the
      most-covering token n-gram over total chars;
    - ``dup_gram_char_frac``: summed char mass of every n-gram seen
      ≥2 times over total chars, clipped to 1.0 — overlapping
      occurrences double-count chars, so this is the cheap upper
      bound of Gopher's overlap-exact metric (deterministic and
      identical in both engines, which exactness would not be).

    Plan, built for long documents: lines and n-grams are tagged and
    exploded in ONE pass (no per-doc quadratic array scans — a
    ``filter(arr, x -> count-in-arr)`` nested-lambda version is
    O(distinct·len) per row and dies on 100k-token docs), then two
    hash aggregates: (doc_id, kind, item) occurrence counts, then the
    per-doc rollup. Both keys are fine-grained (no skew: the hottest
    key is one gram in one doc), partial aggregation soaks repeats
    map-side, and everything between scan and result is codegen'd —
    exactly two Exchanges at any corpus size (pinned in tests).

    ``hashed=True`` is the production shuffle-size knob (the
    ``dedup_simhash`` ``reproducible`` precedent): the first Exchange
    carries ``xxhash64(item)`` + precomputed length instead of the
    gram string, cutting the 10M probe's 9.1 GB string-keyed shuffle
    to fixed-width keys. Identical results unless xxhash64 collides
    WITHIN one document (merging two of its distinct grams — ~1e-9
    per doc at 100k grams); the oracle keeps the default string path,
    and pytest pins hashed == unhashed on fixtures.
    """
    toks = F.split(F.col("text"), " ")

    def build(t: Column) -> Column:
        def gram(i: Column) -> Column:
            return F.concat_ws(
                " ", *[F.element_at(t, i + j) for j in range(n)]
            )

        return F.transform(F.sequence(F.lit(1), F.size(t) - (n - 1)), gram)

    grams = F.when(
        F.size(toks) >= n, F.element_at(F.transform(F.array(toks), build), 1)
    ).otherwise(F.array().cast("array<string>"))
    tag = lambda kind, it: F.struct(  # noqa: E731
        F.lit(kind).alias("kind"), it.alias("item")
    )
    # the tagged line+gram explode is the most expensive projection in
    # this module and otherwise runs on ONE task when the corpus is a
    # single parquet split (guide §2.2); spread is a no-op at scale
    docs = fanout.spread(
        _docs(spark, sf_dir), spark, f"{sf_dir}/documents.parquet"
    )
    exploded = docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.explode(
            F.concat(
                F.transform(F.split(F.col("text"), "\n"), lambda l: tag("line", l)),
                F.transform(grams, lambda g: tag("gram", g)),
            )
        ).alias("e"),
    )
    # project BEFORE the aggregate: with hashed=True the string item
    # never reaches the Exchange, only its 8-byte hash + length
    keyed = exploded.select(
        "doc_id",
        "n_chars",
        F.col("e.kind").alias("kind"),
        (F.xxhash64("e.item") if hashed else F.col("e.item")).alias("item_key"),
        F.length("e.item").alias("item_len"),
    )
    per_item = keyed.groupBy("doc_id", "kind", "item_key").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.first("item_len").alias("item_len"),
        F.first("n_chars").alias("n_chars"),
    )

    mass = (F.col("cnt") * F.col("item_len")).cast("double")
    line, dup = F.col("kind") == "line", F.col("cnt") >= 2
    gram_ = F.col("kind") == "gram"
    rolled = per_item.groupBy("doc_id").agg(
        F.first("n_chars").cast("double").alias("n_chars"),
        F.sum(F.when(line, F.col("cnt"))).alias("n_lines"),
        F.sum(F.when(line & dup, F.col("cnt")).otherwise(F.lit(0))).alias("dup_lines"),
        F.sum(F.when(line, mass)).alias("line_mass"),
        F.sum(F.when(line & dup, mass).otherwise(F.lit(0.0))).alias("dup_line_mass"),
        F.max(F.when(gram_, mass)).alias("top_gram_mass"),
        F.sum(F.when(gram_ & dup, mass).otherwise(F.lit(0.0))).alias("dup_gram_mass"),
    )

    def frac(num: Column, den: Column) -> Column:
        # guard with an outer when, not coalesce-around-least: least()
        # IGNORES nulls in both engines, so least(1.0, null-ratio)
        # silently yields 1.0 instead of falling through to the default
        return F.round(
            F.when(
                den > 0,
                F.least(F.lit(1.0), F.coalesce(num, F.lit(0.0)) / den),
            ).otherwise(F.lit(0.0)),
            6,
        )

    return rolled.select(
        "doc_id",
        F.col("n_lines").cast("bigint").alias("n_lines"),
        frac(F.col("dup_lines").cast("double"), F.col("n_lines").cast("double")).alias(
            "dup_line_frac"
        ),
        frac(F.col("dup_line_mass"), F.col("line_mass")).alias("dup_line_char_frac"),
        frac(F.col("top_gram_mass"), F.col("n_chars")).alias("top_gram_char_frac"),
        frac(F.col("dup_gram_mass"), F.col("n_chars")).alias("dup_gram_char_frac"),
    )


TEXT_REPETITION_SQL = f"""
WITH d AS (
    SELECT doc_id, len(text) AS n_chars,
           string_split(text, chr(10)) AS lines,
           string_split(text, ' ') AS toks
    FROM documents
),
e AS (
    SELECT doc_id, n_chars, 'line' AS kind, unnest(lines) AS item FROM d
    UNION ALL
    SELECT doc_id, n_chars, 'gram' AS kind,
           unnest(list_transform(
               generate_series(1, len(toks) - {REPETITION_N - 1}),
               i -> list_aggregate(toks[i:i+{REPETITION_N - 1}], 'string_agg', ' ')
           )) AS item
    FROM d WHERE len(toks) >= {REPETITION_N}
),
c AS (
    SELECT doc_id, kind, item, COUNT(*) AS cnt, ANY_VALUE(n_chars) AS n_chars
    FROM e GROUP BY 1, 2, 3
),
a AS (
    SELECT doc_id,
           ANY_VALUE(n_chars)::DOUBLE AS n_chars,
           SUM(CASE WHEN kind = 'line' THEN cnt END) AS n_lines,
           SUM(CASE WHEN kind = 'line' AND cnt >= 2 THEN cnt ELSE 0 END) AS dup_lines,
           SUM(CASE WHEN kind = 'line' THEN cnt * len(item) END)::DOUBLE AS line_mass,
           SUM(CASE WHEN kind = 'line' AND cnt >= 2 THEN cnt * len(item)
                    ELSE 0 END)::DOUBLE AS dup_line_mass,
           MAX(CASE WHEN kind = 'gram' THEN cnt * len(item) END)::DOUBLE
               AS top_gram_mass,
           SUM(CASE WHEN kind = 'gram' AND cnt >= 2 THEN cnt * len(item) END)::DOUBLE
               AS dup_gram_mass
    FROM c GROUP BY 1
)
SELECT doc_id,
       CAST(n_lines AS BIGINT) AS n_lines,
       ROUND(CASE WHEN n_lines > 0
                  THEN LEAST(1.0, dup_lines::DOUBLE / n_lines)
                  ELSE 0.0 END, 6) AS dup_line_frac,
       ROUND(CASE WHEN line_mass > 0
                  THEN LEAST(1.0, dup_line_mass / line_mass)
                  ELSE 0.0 END, 6) AS dup_line_char_frac,
       ROUND(CASE WHEN n_chars > 0
                  THEN LEAST(1.0, COALESCE(top_gram_mass, 0) / n_chars)
                  ELSE 0.0 END, 6) AS top_gram_char_frac,
       ROUND(CASE WHEN n_chars > 0
                  THEN LEAST(1.0, COALESCE(dup_gram_mass, 0) / n_chars)
                  ELSE 0.0 END, 6) AS dup_gram_char_frac
FROM a
"""


# --- BM25 keyword search -----------------------------------------------------
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("spark", "join", "window")
BM25_TOPK = 10


def text_bm25_topk(
    spark: SparkSession,
    sf_dir: str,
    query: tuple[str, ...] = BM25_QUERY,
    k: int = BM25_TOPK,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """BM25 top-k keyword search (Robertson/Sparck Jones idf, k1/b
    length normalization) — the retrieval primitive of a corpus
    engine, shaped around the fact that a keyword query is a SMALL
    LITERAL term set: per-document term frequencies are |Q| codegen'd
    ``size(filter(tokens, = term))`` projections, never an explode.

    Plan (read from ``explain`` after execution, pinned in tests):
    scan 1 aggregates the corpus statistics — N, avgdl, and each
    term's document frequency — into ONE row (map-side partials, a
    SinglePartition exchange of one row per task); scan 2 broadcasts
    that row back, filters to docs with ≥1 query hit, computes the
    full BM25 sum as a projection, and ships per-partition top-k
    through a ``TakeOrderedAndProject``. Two scans, zero wide
    shuffle, no join of posting lists. (The classic explode →
    tf/df-aggregate → join formulation was measured at THREE full
    scans here: column pruning specializes each branch's subtree, so
    Spark cannot reuse the tf exchange the way ``text_unigram_logprob``
    does — and its df join shuffles |hits| rows besides.)

    Ranking ties: ROUND(score, 6) DESC then doc_id ASC in both
    engines. Docs with no query term are filtered out (they score 0).

    Output: (doc_id, score) — the k best-matching documents.
    """
    if not query:
        raise ValueError("text_bm25_topk: need at least one query term")
    toks = F.split(F.col("text"), " ")

    def tf_col(term: str, j: int) -> Column:
        # a separate function, not a default-arg lambda: F.filter treats
        # a two-parameter lambda as (element, index) and would bind the
        # index column over the captured term
        return (
            F.size(F.filter(toks, lambda t: t == F.lit(term)))
            .cast("double")
            .alias(f"tf_{j}")
        )

    tf_cols = [tf_col(term, j) for j, term in enumerate(query)]
    base = _docs(spark, sf_dir).select(
        "doc_id", F.size(toks).cast("double").alias("dl"), *tf_cols
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{j}") > 0).cast("double")).alias(f"df_{j}")
            for j in range(len(query))
        ],
    )
    contribs = []
    for j in range(len(query)):
        tf, df = F.col(f"tf_{j}"), F.col(f"df_{j}")
        idf = F.log(F.lit(1.0) + (F.col("n") - df + 0.5) / (df + 0.5))
        contribs.append(
            F.when(
                tf > 0,
                idf
                * tf
                * (k1 + 1)
                / (tf + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
            ).otherwise(F.lit(0.0))
        )
    any_hit = None
    for j in range(len(query)):
        cond = F.col(f"tf_{j}") > 0
        any_hit = cond if any_hit is None else (any_hit | cond)
    score = F.round(sum(contribs[1:], contribs[0]), 6)
    return (
        base.crossJoin(F.broadcast(stats))
        .filter(any_hit)
        .select("doc_id", score.alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(k)
    )


def _bm25_sql(
    query: tuple[str, ...] = BM25_QUERY,
    k: int = BM25_TOPK,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    if not query:
        raise ValueError("_bm25_sql: need at least one query term")
    tf_exprs = ",\n           ".join(
        "len(list_filter(t, x -> x = '{w}'))::DOUBLE AS tf_{j}".format(
            w=w.replace("'", "''"), j=j  # escape quotes for the SQL literal
        )
        for j, w in enumerate(query)
    )
    df_exprs = ", ".join(
        f"SUM((tf_{j} > 0)::INT)::DOUBLE AS df_{j}" for j in range(len(query))
    )
    contribs = " + ".join(
        f"(CASE WHEN tf_{j} > 0 THEN LN(1 + (s.n - s.df_{j} + 0.5) / (s.df_{j} + 0.5))"
        f" * tf_{j} * ({k1} + 1)"
        f" / (tf_{j} + {k1} * (1 - {b} + {b} * dl / s.avgdl)) ELSE 0.0 END)"
        for j in range(len(query))
    )
    any_hit = " OR ".join(f"tf_{j} > 0" for j in range(len(query)))
    return f"""
WITH base AS (
    SELECT doc_id, len(t)::DOUBLE AS dl,
           {tf_exprs}
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
),
s AS (SELECT COUNT(*)::DOUBLE AS n, AVG(dl) AS avgdl, {df_exprs} FROM base)
SELECT doc_id, ROUND({contribs}, 6) AS score
FROM base CROSS JOIN s
WHERE {any_hit}
ORDER BY score DESC, doc_id
LIMIT {k}
"""


TEXT_BM25_SQL = _bm25_sql()

# term-hash partition count for the persisted inverted index: small
# enough that a handful of buckets still make real parquet files at
# fixture scale, large enough that a |Q|-term query prunes ~15/16 of a
# big index's files (64 directories of a 100 TB index ≈ 1.6 TB read
# for a 1-term query instead of 100 TB)
BM25_INDEX_BUCKETS = 64


def build_bm25_index(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    n_buckets: int = BM25_INDEX_BUCKETS,
    docs: DataFrame | None = None,
) -> None:
    """Ingest-time inverted index for BM25 — the sparse-arm analogue
    of ``similarity.build_ivf_index`` (round-13 verdict item 6): one
    tokenize+explode pass persists per-term posting rows
    ``(doc_id, dl, term, tf)`` as parquet partitioned by
    ``bucket = pmod(xxhash64(term), n_buckets)``, so a query's term
    set becomes PARTITION PRUNING — the reader opens only the
    buckets its terms hash to, never the rest of the index. ``dl``
    (whitespace token count, the inline operator's ``size(split())``)
    rides denormalized in every posting row so scoring needs no join
    back to a lengths table. Corpus stats (N, avgdl) go to a one-row
    ``_stats`` sidecar (underscore-prefixed: invisible to plain reads
    of the data directory, the ``_centroids``/``_quantizer``
    convention): dl values are integers, so their double sum — and
    hence avgdl — is EXACT regardless of partition order, which is
    what makes the indexed scorer bit-identical to the inline
    two-scan operator (pinned in tests/test_text_scoring.py).

    At 100 TB the layout holds: buckets are directories across the
    cluster store, new documents append posting rows to their terms'
    buckets (``append_bm25_index`` — bit-identical to a rebuild
    because counts and exact integer sums compose), and ``docs=``
    overrides the corpus frame for seed/batch builds.
    """
    from pyspark.sql.observation import Observation

    from fledge_south_csvplayback_spark.operators.inline import (
        literal_cols_df,
    )

    base = _bm25_base(docs if docs is not None else _docs(spark, sf_dir))
    # corpus stats ride the postings write as observe() metrics — the
    # same four aggregates _bm25_stats computed, collected DURING the
    # write job instead of by a second full tokenize scan (round 15;
    # one corpus pass per build instead of two at any scale). dl values
    # are integers, so the double sum — and avg = sum/count, divided
    # once — is exact under ANY partition/accumulator merge order: the
    # written values are bit-identical to the dedicated scan's
    # (test_text_scoring pins indexed == inline bit-exact on top).
    obs = Observation()
    base = base.observe(
        obs,
        F.count(F.lit(1)).cast("double").alias("n"),
        F.count("dl").cast("double").alias("n_dl"),
        F.sum("dl").alias("sum_dl"),
        F.avg("dl").alias("avgdl"),
    )
    # repartition on the partition column before the write — the same
    # trade append_bm25_index documents: without it every aggregate
    # output task writes into every bucket dir it touches (tasks ×
    # buckets files per build) and at sf scale AQE coalesces the whole
    # write onto ONE task (measured 0.94 s single-task write, round
    # 15); keyed on "bucket" at the session's configured shuffle
    # parallelism, each bucket lands in one task → ≤1 file per bucket
    # and the write parallelizes across buckets. The exchange carries
    # the already-aggregated posting rows, not raw text.
    p = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    _bm25_postings(base, n_buckets).repartition(p, "bucket").write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(index_dir)
    # AFTER the data write: overwriting index_dir would wipe the sidecar
    m = obs.get
    literal_cols_df(
        spark,
        {k: [m[k]] for k in ("n", "n_dl", "sum_dl", "avgdl")},
        "n double, n_dl double, sum_dl double, avgdl double",
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/_stats")


def _bm25_base(docs: DataFrame) -> DataFrame:
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id", toks.alias("t"), F.size(toks).cast("double").alias("dl")
    )


def _bm25_postings(base: DataFrame, n_buckets: int) -> DataFrame:
    return (
        base.select("doc_id", "dl", F.explode("t").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
        .withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)))
    )


def _bm25_stats(base: DataFrame) -> DataFrame:
    """One-row corpus stats. ``n_dl``/``sum_dl`` are carried alongside
    ``avgdl`` so stats COMPOSE exactly under append ingest: dl values
    are integers, so sums are exact doubles and
    ``(sum_a + sum_b) / (n_a + n_b)`` is bit-identical to a full
    rebuild's average (a stored avgdl alone cannot be unaveraged
    exactly). ``n`` counts every doc (NULL-text rows included — the
    inline operator's corpus count); ``n_dl``/``sum_dl`` cover the
    docs with a token list, mirroring ``F.avg``'s NULL skipping."""
    return base.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.count("dl").cast("double").alias("n_dl"),
        F.sum("dl").alias("sum_dl"),
        F.avg("dl").alias("avgdl"),
    )


# versioned-sidecar manifests (the shared compaction-module pointer
# pattern — see operators/compaction.py manifest_* helpers: readers
# resolve one small pointer file whose replacement is an atomic POSIX
# rename; they never depend on a directory overwrite being atomic).
# All names are underscore-prefixed so a plain parquet read of the
# index root cannot see them as data.
_BM25_STATS_MANIFEST = compaction.manifest_name("_stats")
_BM25_POSTINGS_MANIFEST = compaction.manifest_name("_postings")


def bm25_stats_dir(index_dir: str) -> str:
    return compaction.table_dir(index_dir, "_stats")


def bm25_postings_dir(index_dir: str) -> str:
    return compaction.manifest_resolve(index_dir, _BM25_POSTINGS_MANIFEST, "")


def _promote_bm25_stats(spark: SparkSession, row, index_dir: str) -> None:
    """Stage the recomposed one-row stats as ``_stats.v<N+1>``, then
    promote via the manifest — replacing the round-13
    ``mode("overwrite")`` of the live ``_stats`` dir, whose
    delete-then-write window could show a racing reader a missing or
    partial sidecar (round-13 verdict item 3)."""
    import os

    cur = bm25_stats_dir(index_dir)
    compaction.sweep_stale_versions(index_dir, "_stats", cur)
    nxt = compaction.next_version(os.path.basename(cur), "_stats")
    from fledge_south_csvplayback_spark.operators.inline import (
        literal_rows_df,
    )

    # literal inline row, not createDataFrame: the Python-list path
    # spins up a worker per write (measured multi-second, round 15)
    literal_rows_df(
        spark, [tuple(row)], "n double, n_dl double, sum_dl double, avgdl double"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(index_dir, nxt))
    compaction.manifest_promote(index_dir, _BM25_STATS_MANIFEST, nxt)


def append_bm25_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    n_buckets: int = BM25_INDEX_BUCKETS,
) -> None:
    """Incremental ingest for a ``build_bm25_index`` — the sparse-arm
    analogue of ``dedup.neardup_ingest``'s persisted-index batch path:
    the batch's posting rows APPEND to their term-hash bucket
    partitions (batch-sized work — nothing existing is rewritten) and
    the one-row ``_stats`` sidecar is recomposed from exact integer
    sums (``_bm25_stats``), so a query over the appended index is
    BIT-identical to one over a full rebuild of seed+batch (pinned in
    tests/test_text_scoring.py). ``docs`` must carry (doc_id, text)
    with doc_ids disjoint from the seed corpus — the same caller
    contract as the near-dup ingest.

    Appends serialize with each other and with ``compact_bm25_index``
    (the run-between-batches contract), but a QUERY may race an append
    freely: the posting write is append-only and the stats cutover is
    an atomic manifest promote (``_promote_bm25_stats``) — a racing
    reader sees the old complete sidecar or the new complete one,
    never a torn or missing ``_stats``. (It can pair new postings
    with old stats mid-append — the same read-committed-not-snapshot
    semantics every non-transactional append layout has; the
    bit-exactness pin applies to serialized runs.)
    """
    base = _bm25_base(docs)
    # repartition on bucket before the write: without it every one of
    # the groupBy's output partitions writes into every bucket dir it
    # touches (tasks × buckets files PER APPEND — the small-file
    # growth compact_bm25_index exists to fold); keyed on the
    # partition column, each bucket's rows land in one task → ≤1 file
    # per touched bucket per batch. The exchange is BATCH-sized
    # posting rows, not corpus-sized.
    _bm25_postings(base, n_buckets).repartition("bucket").write.mode(
        "append"
    ).partitionBy("bucket").parquet(bm25_postings_dir(index_dir))
    old = spark.read.parquet(bm25_stats_dir(index_dir)).collect()[0]
    new = _bm25_stats(base).collect()[0]
    n = old["n"] + new["n"]
    n_dl = old["n_dl"] + new["n_dl"]
    sum_dl = (old["sum_dl"] or 0.0) + (new["sum_dl"] or 0.0)
    avgdl = (sum_dl / n_dl) if n_dl else None
    _promote_bm25_stats(
        spark, (n, n_dl, sum_dl if n_dl else None, avgdl), index_dir
    )


# compaction target for the BM25 posting table. NOT the generic 128 MB:
# a pruned query reads only its |Q| term buckets, and repartition(n,
# "bucket") lands each bucket in ONE write task, so files-per-bucket =
# bucket_bytes / target — at 128 MB that is ONE ~27 MB file per bucket
# at 10M docs, collapsing a 3-term query to 3 scan tasks (measured
# 2.3 s vs 1.2 s over the 3.3k-file fragmented layout at local[32]).
# 16 MB keeps ~2-8 files per bucket: file count still bounded (64-512
# total vs unbounded append growth) while a pruned query keeps
# intra-bucket parallelism (8 MB target measured 1.94 s). Callers on
# object stores with expensive per-file listing can raise it.
BM25_COMPACT_TARGET_BYTES = 16 * 1024 * 1024


def compact_bm25_index(
    spark: SparkSession, index_dir: str, target_bytes: int | None = None
) -> int:
    """Maintenance: rewrite the posting table into ~target-sized files
    per bucket partition, staged as ``_postings.v<N+1>`` and promoted
    by one atomic manifest rename (round-13 verdict item 4). Every
    ``append_bm25_index`` adds ≥1 parquet file to each bucket its
    batch's terms hash to; after enough micro-batches a query's
    pruned-bucket scan pays per-file listing/footer/task overhead that
    dwarfs the data. The rewrite is ``compaction.compact_parquet``'s
    partition-preserving path, so the ``bucket=`` layout — and with it
    the query's PartitionFilters pruning — survives verbatim (pinned
    in tests). Returns the compacted file count.

    Measured honestly at 10M/local[32] (BASELINE.md round 14): after
    20 micro-batch appends (3.3k files) the fragmented layout had NOT
    yet degraded — 156 small files across a 3-term query's buckets
    give 32-way scan parallelism that beats the compacted layout's
    files-per-bucket tasks (1.2 s vs 1.9-2.3 s) — so compaction's
    payoff is the CLUSTER-store regime (per-file listing RPCs, open
    latency, driver listing memory at thousands of appends), not the
    local 20-batch one; ``BM25_COMPACT_TARGET_BYTES`` (16 MB, not the
    generic 128 MB) keeps intra-bucket parallelism for pruned queries
    either way.

    Read stability: the superseded posting dir is swept by the NEXT
    compaction, never by the promote itself, so a query that resolved
    the old dir keeps a complete table for as long as it runs. Appends
    and compactions serialize with each other (caller contract, as for
    the near-dup index); queries race either freely.
    """
    import os

    cur = bm25_postings_dir(index_dir)
    compaction.sweep_stale_versions(index_dir, "_postings", cur)
    if cur == index_dir:
        # first compaction: the live table is the index ROOT's bucket
        # dirs (the build layout). They cannot be swept now (read
        # stability) nor later by the version sweep (the root is never
        # a version dir) — sweep them here ONLY once a manifest from a
        # prior compaction exists, which it does not on this branch;
        # the root's bucket dirs are instead removed by the NEXT
        # compaction via the branch below.
        pass
    else:
        # the build-layout bucket dirs under the root were superseded
        # when the FIRST compaction promoted; remove them now (deferred
        # one full cycle, same as the version sweep)
        import shutil

        for name in sorted(os.listdir(index_dir)):
            if name.startswith("bucket="):
                shutil.rmtree(os.path.join(index_dir, name))
    nxt = compaction.next_version(
        os.path.basename(cur) if cur != index_dir else "", "_postings"
    )
    staged = os.path.join(index_dir, nxt)
    n_files = compaction.compact_parquet(
        spark,
        cur,
        staged,
        target_bytes or BM25_COMPACT_TARGET_BYTES,
    )
    compaction.manifest_promote(index_dir, _BM25_POSTINGS_MANIFEST, nxt)
    return n_files


def text_bm25_topk_indexed(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    query: tuple[str, ...] = BM25_QUERY,
    k: int = BM25_TOPK,
    k1: float = BM25_K1,
    b: float = BM25_B,
    n_buckets: int = BM25_INDEX_BUCKETS,
) -> DataFrame:
    """BM25 top-k over a ``build_bm25_index`` — amortized deployment:
    where the inline operator pays two full corpus scans per query,
    this reads ONLY the ≤|Q| term-hash buckets of the index (partition
    pruning: the scan's PartitionFilters carry ``bucket IN (...)``,
    pinned in tests) plus the one-row ``_stats`` sidecar. Not
    registered with the driver (needs a side index and the 50-entry
    cap is full); pytest asserts EXACT agreement with
    ``text_bm25_topk`` — achievable because every ingredient is
    bit-reproducible: tf/df/N are integers, avgdl is an exact
    integer-sum average (builder docstring), the per-term df literals
    collect exactly, and the score re-assembles per-term tf COLUMNS
    (max-pivot over the ≤|Q| posting rows per doc) so the floating
    additions run in the inline operator's exact order — a SUM over
    posting rows would add in partition order and drift last-ulp.

    Scale: a query touches |Q| buckets — posting rows for its terms
    only (df ≪ N rows each), one narrow groupBy on doc_id, and a
    TakeOrdered k. Nothing else of the index is read.
    """
    if not query:
        raise ValueError("text_bm25_topk_indexed: need at least one query term")
    from concurrent.futures import ThreadPoolExecutor

    # resolve both tables through their manifests ONCE up front (the
    # corpus_ingest rule: one version per query) — readers never race
    # a promote into a half-resolved mix.
    stats_path = bm25_stats_dir(index_dir)
    postings_path = bm25_postings_dir(index_dir)

    # the two driver-side collects are independent, so they run as
    # concurrent jobs from two driver threads (guide §2.6 overlap):
    # thread A reads the one-row stats sidecar; thread B hashes the
    # query terms to buckets (a constant-folded one-row SELECT — still
    # the builder's JVM xxhash64, no driver-side reimplementation to
    # drift) and collects the per-term document frequencies off the
    # pruned postings. (A broadcast-join fold of the dfs into the
    # scoring job was A/B'd round 15 and measured SLOWER — the
    # broadcast build is its own job reading the pruned postings a
    # second time — so the literal collect stays.)
    def _stats_row():
        return spark.read.parquet(stats_path).collect()[0]

    def _prune_and_dfs():
        hx = ", ".join(
            f"pmod(xxhash64(:t{j}), {int(n_buckets)}) AS _b{j}"
            for j in range(len(query))
        )
        hrow = spark.sql(
            f"SELECT {hx}", args={f"t{j}": t for j, t in enumerate(query)}
        ).collect()[0]
        buckets = sorted({hrow[f"_b{j}"] for j in range(len(query))})
        pruned = spark.read.parquet(postings_path).filter(
            F.col("bucket").isin(buckets) & F.col("term").isin(*query)
        )
        dfs = {
            r["term"]: r["df"]
            for r in pruned.groupBy("term")
            .agg(F.count(F.lit(1)).cast("double").alias("df"))
            .collect()
        }
        return pruned, dfs

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_stats = pool.submit(_stats_row)
        f_pd = pool.submit(_prune_and_dfs)
        stats = f_stats.result()
        p, dfs = f_pd.result()
    n, avgdl = stats["n"], stats["avgdl"]
    # pivot the ≤|Q| posting rows per doc back into tf_j columns so the
    # score expression is the INLINE operator's, additions in the same
    # order over the same doubles
    tf_aggs = [
        F.max(
            F.when(F.col("term") == F.lit(term), F.col("tf")).otherwise(F.lit(0.0))
        ).alias(f"tf_{j}")
        for j, term in enumerate(query)
    ]
    per_doc = p.groupBy("doc_id").agg(F.first("dl").alias("dl"), *tf_aggs)
    contribs = []
    for j, term in enumerate(query):
        tf = F.col(f"tf_{j}")
        df = float(dfs.get(term, 0.0))
        idf = F.log(F.lit(1.0) + (F.lit(n) - F.lit(df) + 0.5) / (F.lit(df) + 0.5))
        contribs.append(
            F.when(
                tf > 0,
                idf
                * tf
                * (k1 + 1)
                / (tf + k1 * (1 - b + b * F.col("dl") / F.lit(avgdl))),
            ).otherwise(F.lit(0.0))
        )
    score = F.round(sum(contribs[1:], contribs[0]), 6)
    return (
        per_doc.select("doc_id", score.alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(k)
    )


def text_bm25_topk_via_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered entry for the persisted-index BM25 path (round-15
    rotation: registered as ``text_bm25_topk_indexed``, slot freed by
    the events_activity_suite fold — COVERAGE.md). Builds the inverted
    index from the sf_dir corpus into a per-process scratch dir, then
    answers the standard query THROUGH the index, so the driver's
    DuckDB compare gates the whole deployment path — build, partition
    pruning, stats sidecar, pivot-back scoring — against the INLINE
    operator's SQL (``TEXT_BM25_SQL``): the bit-exact
    indexed-equals-inline claim, previously pytest-only
    (test_text_scoring), now under the driver's own hash. Like
    ``ann_cosine_topk_sq8``, the registered call includes the build
    (the honest self-contained shape); the scratch dir is fixed per
    (process, sf) and rebuilt with overwrite, so repeated bench reps
    don't accumulate directories."""
    import os
    import tempfile

    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    idx = os.path.join(
        tempfile.gettempdir(), f"bm25_index_{tag}_{os.getpid()}"
    )
    build_bm25_index(spark, sf_dir, idx)
    return text_bm25_topk_indexed(spark, sf_dir, idx)


# --- corpus-wide repeated-line removal (boilerplate scrub) -------------------
# A line repeated across this many DISTINCT documents is boilerplate.
# 2 is the CCNet/"deduplicate paragraphs" setting (drop anything shared
# verbatim by another doc) and the most oracle-interesting default on
# the fixture corpora; production web pipelines raise it (RefinedWeb
# drops only lines shared by a large doc fraction) via the min_df arg.
BOILERPLATE_MIN_DF = 2
# The boilerplate line set (df >= min_df) is usually tiny — natural
# corpora share few verbatim lines, and each key is one line string —
# but the bound is corpus-dependent, so the broadcast is GUARDED like
# dedup.HOT_BROADCAST_MAX: cache + count (the df aggregation runs once
# either way), broadcast under the cap, shuffled left join above it.
BOILERPLATE_BROADCAST_MAX = 2_000_000


def text_boilerplate_scrub(
    spark: SparkSession,
    sf_dir: str,
    min_df: int = BOILERPLATE_MIN_DF,
    hashed: bool = False,
) -> DataFrame:
    """Corpus-wide repeated-LINE removal — the CCNet §4.1 / RefinedWeb
    line-dedup boilerplate scrub (Wenzek et al. 2020, "CCNet";
    Penedo et al. 2023, "The RefinedWeb Dataset"): nav bars, cookie
    banners and footers repeat VERBATIM across documents, so any line
    whose corpus-wide document frequency reaches ``min_df`` is dropped
    from every document. Complements ``text_repetition``, which only
    measures repetition WITHIN a document.

    Returns one row per document: (doc_id, n_lines, removed_lines,
    removed_chars, text_cleaned) — text_cleaned is the document with
    boilerplate lines deleted, remaining lines rejoined in original
    order ('' when everything was boilerplate), and the removed_*
    columns are the per-doc audit trail a curation pipeline logs.

    Plan, built to never join the corpus to itself (pinned in
    tests/test_text_scoring.py::
    test_boilerplate_plan_two_exchanges_no_self_join):

    - **df pass**: ``array_distinct`` collapses within-doc repeats
      INSIDE the row (a doc repeating its own nav bar 50x is intra-doc
      repetition, not corpus boilerplate — and the collapse also means
      the explode ships each distinct line once), then one
      fine-grained groupBy(line) count — Exchange #1, map-side partial
      aggregation soaking cross-doc repeats per task;
    - **scrub pass**: the df >= min_df line set — small by
      construction, it holds only lines ALREADY shared across docs —
      is broadcast (guarded by BOILERPLATE_BROADCAST_MAX, shuffled
      left join fallback) against the posexploded line instances; the
      per-doc reassembly sorts (pos, line) structs inside
      ``collect_list`` output and rejoins — Exchange #2 on doc_id.

    Two shuffle Exchanges at any corpus size, both on fine-grained
    keys (a line value / a doc_id — no skew beyond a pathological
    one-line corpus, which min_df-removal then empties anyway).

    ``hashed=True`` is the production shuffle-size knob (the
    ``text_repetition`` precedent): both the df aggregation and the
    broadcast membership set carry ``xxhash64(line)`` 8-byte keys
    instead of line strings. A cross-doc collision could then scrub an
    innocent line (~1e-19·pairs; the oracle keeps the string path, and
    pytest pins hashed == unhashed on the fixtures).
    """
    docs = _docs(spark, sf_dir)
    # NULL text normalizes to '' = one empty line, so every document
    # appears in the output (posexplode of a NULL array would silently
    # drop the doc — review finding); empty lines participate in df
    # like any line value (blank separators shared corpus-wide ARE
    # boilerplate under this definition, mirrored in the oracle)
    lines = F.split(F.coalesce(F.col("text"), F.lit("")), "\n")

    def key(c):
        return F.xxhash64(c) if hashed else c

    boiler = (
        docs.select(F.explode(F.array_distinct(lines)).alias("line"))
        .groupBy(key(F.col("line")).alias("line_key"))
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
        .select("line_key")
        .cache()
    )
    small = boiler.count() <= BOILERPLATE_BROADCAST_MAX
    marked = boiler.withColumn("is_boiler", F.lit(True))
    inst = docs.select("doc_id", F.posexplode(lines).alias("pos", "line"))
    joined = inst.join(
        F.broadcast(marked) if small else marked,
        key(F.col("line")) == F.col("line_key"),
        "left",
    )
    is_b = F.coalesce(F.col("is_boiler"), F.lit(False))
    kept = F.when(~is_b, F.struct("pos", "line"))  # null (skipped) when boiler
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(is_b.cast("bigint")).alias("removed_lines"),
        F.sum(F.when(is_b, F.length("line")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("removed_chars"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept)), lambda s: s["line"]
            ),
            "\n",
        ).alias("text_cleaned"),
    )


def _boilerplate_sql(min_df: int = BOILERPLATE_MIN_DF) -> str:
    return f"""
WITH d AS (
    SELECT doc_id, string_split(COALESCE(text, ''), chr(10)) AS lines
    FROM documents
),
boiler AS (
    SELECT line FROM (
        SELECT unnest(list_distinct(lines)) AS line FROM d
    ) GROUP BY 1 HAVING COUNT(*) >= {min_df}
),
inst AS (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(lines)),
                  i -> struct_pack(pos := i, line := lines[i])),
                  recursive := true)
    FROM d
),
m AS (
    SELECT i.doc_id, i.pos, i.line, b.line IS NOT NULL AS is_b
    FROM inst i LEFT JOIN boiler b ON i.line = b.line
)
SELECT doc_id,
       COUNT(*)::BIGINT AS n_lines,
       SUM(CASE WHEN is_b THEN 1 ELSE 0 END)::BIGINT AS removed_lines,
       SUM(CASE WHEN is_b THEN len(line) ELSE 0 END)::BIGINT AS removed_chars,
       COALESCE(string_agg(CASE WHEN NOT is_b THEN line END, chr(10)
                           ORDER BY pos), '') AS text_cleaned
FROM m GROUP BY doc_id
"""


TEXT_BOILERPLATE_SQL = _boilerplate_sql()


# --- corpus-wide repeated-span removal (ExactSubstr dedup) -------------------
# Window width in tokens: a span of this many consecutive tokens that
# occurs >= SPAN_MIN_COUNT times ANYWHERE in the corpus (across docs or
# within one) is removed from every document. Lee et al. 2022 use
# 50-token windows on web corpora; the default here is sized for the
# fixture corpora (25-60-token docs) and is a parameter everywhere.
SPAN_TOKENS = 10
SPAN_MIN_COUNT = 2
SPAN_BROADCAST_MAX = 2_000_000


def text_repeated_span_scrub(
    spark: SparkSession,
    sf_dir: str,
    w: int = SPAN_TOKENS,
    min_count: int = SPAN_MIN_COUNT,
    hashed: bool = False,
) -> DataFrame:
    """Corpus-wide repeated-SPAN removal — the ExactSubstr deduplication
    of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better"): any window of ``w`` consecutive tokens occurring
    ``min_count``+ times in the whole corpus (across documents OR
    within one) marks its token positions for removal in every
    occurrence. Catches what line- and document-level dedup both miss:
    quoted paragraphs, templated passages, and licence blocks embedded
    mid-document. Complements ``text_boilerplate_scrub`` (verbatim
    LINES shared across docs) the way ExactSubstr complements CCNet
    line dedup in real pipelines.

    Returns (doc_id, n_tokens, removed_tokens, text_cleaned):
    text_cleaned is the document with covered tokens deleted (kept
    tokens rejoined with single spaces — whitespace runs are not
    preserved through token-level surgery), plus the audit counts a
    curation pipeline logs. Docs shorter than ``w`` tokens pass
    through untouched.

    Plan (the reference implementation builds a corpus-wide suffix
    array — a batch-job shape; this is the Spark-native windowed-hash
    equivalent):

    1. posexplode each doc's w-gram windows → (doc_id, pos, gram) —
       one pass, grams built by index slicing (no quadratic re-split);
    2. one fine-grained groupBy(gram) occurrence count — Exchange #1 —
       keeping keys with count >= min_count (the repeated-span
       vocabulary, small on mostly-unique corpora);
    3. instance hits: the window rows re-joined to the repeated
       vocabulary (shuffle equi-join on the gram key — Exchange #2/#3,
       both sides fine-grained) → per-doc sorted start positions —
       Exchange #4 on doc_id, hit docs only;
    4. reassembly: the documents table LEFT-joins the per-doc starts —
       via a GUARDED broadcast (``SPAN_BROADCAST_MAX``, shuffle
       fallback) since only docs CONTAINING repeated spans appear —
       and a per-row expression drops token i iff some start s has
       s <= i < s+w. That membership test is O(len·|starts|) per doc
       (|starts| ≤ len, so worst-case quadratic per DOC on a fully
       duplicated long doc — bounded, local, and linear in the common
       case; a merged-interval pass would need per-row sorted-scan
       state Catalyst HOFs cannot express without a UDF).

    The corpus text itself crosses an Exchange ONLY in the shuffle
    fallback; in the guarded common case the wide exchanges carry gram
    keys and (doc_id, pos) longs. ``hashed=True`` is the production
    knob (``text_boilerplate_scrub`` precedent): window keys become
    ``xxhash64(gram)`` 8-byte longs in Exchanges #1-#3; a collision
    can only ADD a false repeated span (~1e-19·pairs); the oracle
    keeps the string path, pytest pins hashed == default.
    """
    # w-gram window build and reassembly surgery are CPU-dense and
    # otherwise run on ONE task over a single-split corpus (guide
    # §2.2); spread round-robins only in that starved regime — the
    # wide (hash-partitioned) exchanges still never carry text
    docs = fanout.spread(
        _docs(spark, sf_dir), spark, f"{sf_dir}/documents.parquet"
    )
    toks = F.split(F.col("text"), " ")

    def key(c):
        return F.xxhash64(c) if hashed else c

    def build_grams(t):
        return F.transform(
            F.sequence(F.lit(1), F.size(t) - (w - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(t, i + j) for j in range(w)]
            ),
        )

    # let-bind the token array so split runs once per row; the length
    # guard matters: sequence(1, non-positive) DESCENDS in Spark, so an
    # unguarded short doc would build grams at negative indices
    grams = F.when(
        F.size(toks) >= w,
        F.element_at(F.transform(F.array(toks), lambda t: build_grams(t)), 1),
    ).otherwise(F.array().cast("array<string>"))
    windows = docs.select(
        "doc_id", F.posexplode(grams).alias("pos", "gram")
    ).select("doc_id", "pos", key(F.col("gram")).alias("gram_key"))

    # The repeated-span vocabulary is SMALL on mostly-unique corpora
    # (only keys with cnt >= min_count survive), so it gets the same
    # guarded-broadcast treatment as the reassembly: broadcasting it
    # into the hit join removes the WINDOWS side's exchange — the big
    # one, 160M gram-keyed rows at the 10M probe (measured A/B in
    # BASELINE.md). The cache is the dedup-module policy: the returned
    # frame is lazy, the safe release point unknowable, the table tiny.
    repeated = (
        windows.groupBy("gram_key")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("gram_key")
        .cache()
    )
    rep_small = repeated.count() <= SPAN_BROADCAST_MAX
    starts = (
        windows.join(
            F.broadcast(repeated) if rep_small else repeated, "gram_key"
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("starts"))
        .cache()
    )
    small = starts.count() <= SPAN_BROADCAST_MAX
    joined = docs.join(
        F.broadcast(starts) if small else starts, "doc_id", "left"
    )

    # NULL text normalizes to an empty token list in BOTH engines
    # (n_tokens 0, text_cleaned '') — and the empty guard matters
    # twice over: sequence(1, 0) DESCENDS in Spark
    t = F.coalesce(F.split(F.col("text"), " "), F.array().cast("array<string>"))
    s_arr = F.coalesce(F.col("starts"), F.array().cast("array<integer>"))
    idx_all = F.when(
        F.size(t) > 0, F.sequence(F.lit(1), F.size(t))
    ).otherwise(F.array().cast("array<integer>"))
    # token index i (1-based to match posexplode's 0-based pos + 1) is
    # covered iff some start s (0-based) satisfies s < i <= s + w
    kept_idx = F.filter(
        idx_all,
        lambda i: ~F.exists(s_arr, lambda s: (i > s) & (i <= s + w)),
    )
    kept = F.transform(kept_idx, lambda i: F.element_at(t, i))
    return joined.select(
        "doc_id",
        F.size(t).cast("bigint").alias("n_tokens"),
        (F.size(t) - F.size(kept_idx)).cast("bigint").alias("removed_tokens"),
        F.array_join(kept, " ").alias("text_cleaned"),
    )


def _span_scrub_sql(
    w: int = SPAN_TOKENS, min_count: int = SPAN_MIN_COUNT
) -> str:
    gram = f"list_aggregate(t[i:i+{w - 1}], 'string_agg', ' ')"
    # starts are emitted 0-BASED (pos := i - 1) to match Spark's
    # posexplode; the cover test below is then identical in both
    # engines: token index i (1-based) is covered iff i > s AND
    # i <= s + w. The test is nested list lambdas, not a correlated
    # subquery — DuckDB lambdas cannot contain subqueries.
    return f"""
WITH d AS (
    SELECT doc_id, COALESCE(string_split(text, ' '), []) AS t FROM documents
),
win AS (
    SELECT doc_id,
           unnest(list_transform(
               generate_series(1, len(t) - {w - 1}),
               i -> struct_pack(pos := i - 1, gram := {gram})),
               recursive := true)
    FROM d WHERE len(t) >= {w}
),
rep AS (SELECT gram FROM win GROUP BY gram HAVING COUNT(*) >= {min_count}),
hits AS (
    SELECT w.doc_id, list_sort(list(w.pos)) AS starts
    FROM win w JOIN rep r ON w.gram = r.gram
    GROUP BY w.doc_id
),
k AS (
    SELECT d.doc_id, d.t,
           list_filter(generate_series(1, len(d.t)),
               i -> len(list_filter(COALESCE(h.starts, []),
                        s -> i > s AND i <= s + {w})) = 0) AS kept
    FROM d LEFT JOIN hits h ON d.doc_id = h.doc_id
)
SELECT doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(len(t) - len(kept) AS BIGINT) AS removed_tokens,
       -- array_to_string([]) is NULL in DuckDB; Spark's array_join is ''
       COALESCE(array_to_string(list_transform(kept, i -> t[i]), ' '), '')
           AS text_cleaned
FROM k
"""


TEXT_SPAN_SCRUB_SQL = _span_scrub_sql()


# --- BPE tokenization (driver-trained merges, distributed apply) -------------
BPE_MERGES = 200  # merge steps for the default corpus-trained table
BPE_TRAIN_DOCS = 500  # deterministic training sample: first docs by id


def bpe_train(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = BPE_MERGES,
    train_docs: int = BPE_TRAIN_DOCS,
) -> list[tuple[str, str]]:
    """Train a byte-pair-encoding merge table (Sennrich et al. 2016)
    on a DETERMINISTIC sample: the first ``train_docs`` documents by
    doc_id, collected to the driver. BPE training is inherently
    sequential — each merge step depends on the pair counts AFTER the
    previous merge, so a distributed trainer would need one corpus
    pass per merge (n_merges scans); every production tokenizer
    (GPT-2, SentencePiece) trains on a driver-sized sample and applies
    everywhere, which is exactly the split here. No RNG, ties broken
    by lexicographic pair order: two runs give byte-identical merges.

    Returns the ordered merge list [(left, right), ...] — feed it to
    ``text_bpe_tokenize``.
    """
    rows = (
        _docs(spark, sf_dir)
        .orderBy("doc_id")
        .limit(train_docs)
        .select("text")
        .collect()
    )
    return bpe_train_texts([r["text"] for r in rows], n_merges)


def bpe_train_texts(
    texts: list[str], n_merges: int = BPE_MERGES
) -> list[tuple[str, str]]:
    """The driver-side BPE merge loop over already-collected texts —
    the single source of the merge rule, shared by ``bpe_train`` and
    the BPE-geometry chunker in ``curation``."""
    # word frequencies over the sample; words as character tuples with
    # a </w> end marker (the classic formulation)
    wfreq: dict[tuple[str, ...], int] = {}
    for text in texts:
        # split on ANY whitespace run (newlines included): merges must
        # never be learned across line boundaries, and the emitted
        # word counts must agree with text_stats' \S+ counting
        for w in (text or "").split():
            key = tuple(w) + ("</w>",)
            wfreq[key] = wfreq.get(key, 0) + 1
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for word, f in wfreq.items():
            for i in range(len(word) - 1):
                p = (word[i], word[i + 1])
                pairs[p] = pairs.get(p, 0) + f
        if not pairs:
            break
        # max count, ties to the lexicographically SMALLEST pair
        best = min(pairs, key=lambda p: (-pairs[p], p))
        if pairs[best] < 2:
            break
        merges.append(best)
        merged = best[0] + best[1]
        new_wfreq: dict[tuple[str, ...], int] = {}
        for word, f in wfreq.items():
            out = []
            i = 0
            while i < len(word):
                if (
                    i < len(word) - 1
                    and word[i] == best[0]
                    and word[i + 1] == best[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(word[i])
                    i += 1
            key = tuple(out)
            new_wfreq[key] = new_wfreq.get(key, 0) + f
        wfreq = new_wfreq
    return merges


def text_bpe_tokenize(
    spark: SparkSession,
    sf_dir: str,
    merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Apply a BPE merge table to every document, distributed: one
    ``mapInPandas`` pass, merges riding in the closure as a rank dict
    (the GPT-2 apply algorithm — repeatedly merge the lowest-rank
    adjacent pair). Output: (doc_id, n_ws_tokens, n_bpe_tokens) — the
    tokenizer-REAL token counts the ``token_count`` proxies
    approximate; join them onto budget selection when the
    training tokenizer's counts are what the budget means.

    This is the one text op where Python-per-token is unavoidable (BPE
    apply is an inherently sequential per-word loop — no Catalyst
    expression computes it), so it lives in an Arrow batch like the
    multimodal decoders, with a per-word memo dict amortizing repeated
    vocabulary across each batch. The whitespace count rides along for
    free and lets tests sanity-pin n_bpe >= n_ws (a word is >= 1
    token) without a second scan.
    """
    if merges is None:
        merges = bpe_train(spark, sf_dir)
    ranks = {tuple(p): i for i, p in enumerate(merges)}

    def _apply(batches, ranks=ranks):
        import pandas as pd

        memo: dict[str, int] = {}

        def n_tokens_of(word: str) -> int:
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
            # the </w> marker either fused into the last token or
            # stands alone; standalone markers don't count
            n = sum(1 for p in parts if p != "</w>")
            memo[word] = n
            return n

        for pdf in batches:
            if not len(pdf):
                continue
            n_ws, n_bpe = [], []
            for text in pdf["text"]:
                # any-whitespace split, matching bpe_train and the
                # \S+ counting of text_stats (a single-space split
                # would fuse newline-separated words into one "word")
                words = (text or "").split()
                n_ws.append(len(words))
                n_bpe.append(sum(n_tokens_of(w) for w in words))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "n_ws_tokens": n_ws, "n_bpe_tokens": n_bpe}
            )

    return _docs(spark, sf_dir).select("doc_id", "text").mapInPandas(
        _apply, "doc_id long, n_ws_tokens long, n_bpe_tokens long"
    )


# --- standalone text normalization (the preprocessing every text op assumes) --
# The CCNet/Dolma cleanup pass as ONE codegen'd projection: every
# downstream text operator in this repo (fingerprints, DSIR grams,
# boilerplate lines, quality features) normalizes implicitly; this op
# makes the pass standalone and reusable so a pipeline can materialize
# normalized text ONCE instead of re-normalizing in every stage. Fixed
# rule order; patterns stay in the Java-regex/RE2 shared subset (spelled
# with \\x{....} escapes both engines parse the same way) so Spark and
# DuckDB transform identically. The pipeline is
# IDEMPOTENT -- normalize(normalize(x)) == normalize(x) -- which is
# what lets stages compose without double-transform drift
# (property-pinned corpus-wide).
_NORM_RULES: list[tuple[str, str]] = [
    # \x{....} escapes: the one Unicode-escape syntax BOTH Java regex
    # and RE2 parse (RE2 rejects \uXXXX)
    ("[\\x{2018}\\x{2019}\\x{201A}\\x{201B}]", "'"),  # curly single quotes
    ('[\\x{201C}\\x{201D}\\x{201E}\\x{201F}]', '"'),  # curly double quotes
    ("[\\x{2012}\\x{2013}\\x{2014}\\x{2015}]", "-"),  # figure/en/em dashes
    ("[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]", ""),  # zero-width + BOM
    ("[\\x{00}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}\\x{7F}]", ""),  # control chars
    ("\\s+", " "),  # collapse runs (incl. newline/tab) to one space
]


def normalize_expr(col: Column) -> Column:
    """The normalization chain as a composable Column expression:
    unify quotes/dashes, strip zero-width + control characters,
    collapse whitespace, trim, lowercase. Null text -> null."""
    out = col
    for pat, rep in _NORM_RULES:
        out = F.regexp_replace(out, pat, rep)
    return F.lower(F.trim(out))


def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, norm_text, changed): one narrow codegen'd scan -- no
    shuffle, no Python; at 100 TB this runs at read speed and the
    materialized output feeds every downstream stage."""
    t = F.col("text")
    norm = normalize_expr(t)
    return _docs(spark, sf_dir).select(
        "doc_id",
        norm.alias("norm_text"),
        (~norm.eqNullSafe(t)).alias("changed"),
    )


def _normalize_sql_chain(expr: str) -> str:
    out = expr
    for pat, rep in _NORM_RULES:
        esc = rep.replace("'", "''")
        out = f"regexp_replace({out}, '{pat}', '{esc}', 'g')"
    return f"lower(trim({out}))"


TEXT_NORMALIZE_SQL = f"""
SELECT doc_id,
       {_normalize_sql_chain('text')} AS norm_text,
       NOT ({_normalize_sql_chain('text')} IS NOT DISTINCT FROM text)
           AS changed
FROM documents
"""


# --- markup extraction (the stage BEFORE normalization on a web corpus) -------
# Real corpora arrive as HTML; every downstream op here assumes plain
# text. This pass is the minimal deterministic extractor: drop
# script/style/comment subtrees, turn block-level tags into newlines
# (so "<p>a</p><p>b</p>" keeps its paragraph boundary instead of
# fusing into "ab"), strip remaining tags, decode the named-entity
# subset, and tidy whitespace. Rule ORDER is load-bearing: tags are
# stripped before entities decode so a literal "&lt;b&gt;" in the
# source renders as text "<b>" instead of being re-parsed as a tag,
# and "&amp;" decodes LAST so double-escaped text un-escapes exactly
# one level. Patterns stay in the Java-regex/RE2 shared subset (no
# backreferences — script and style get separate rules — no lookarounds)
# so Spark and the DuckDB twin transform identically; like
# text_normalize this is ONE codegen'd projection: no shuffle, no
# Python, runs at scan speed at 100 TB.
_HTML_BLOCK_TAGS = (
    "p|div|br|hr|h[1-6]|li|ul|ol|dl|dt|dd|tr|td|th|table|thead|tbody|"
    "blockquote|section|article|aside|nav|header|footer|pre|form|title"
)
_HTML_RULES: list[tuple[str, str]] = [
    # subtree drops: non-greedy spans, (?is) = case-insensitive +
    # dot-matches-newline in BOTH engines
    ("(?is)<script\\b[^>]*>.*?</script\\s*>", " "),
    ("(?is)<style\\b[^>]*>.*?</style\\s*>", " "),
    ("(?s)<!--.*?-->", " "),
    # block-level open/close tags become paragraph breaks
    (f"(?i)</?(?:{_HTML_BLOCK_TAGS})\\b[^>]*>", "\n"),
    # remaining (inline) tags vanish without breaking words apart
    ("<[^>]*>", ""),
    # named-entity subset; &amp; LAST (one un-escape level only)
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", "\""),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
    # whitespace tidy: CR + horizontal runs -> one space, spaces
    # hugging a newline fold into it, 3+ newlines -> a blank line,
    # edge newlines drop (trim() strips spaces only, in BOTH engines)
    ("[ \\t\\x{0D}]+", " "),
    (" ?\\n ?", "\n"),
    ("\\n\\n\\n+", "\n\n"),
    ("^\\n+", ""),
    ("\\n+$", ""),
]


# the entity rules are FIXED strings (no metacharacters): both engines
# run them as plain substring replaces, which a 10M same-session A/B
# measured 28% faster end-to-end than regexp passes (22.3 -> 16.0 s
# warm) with byte-identical output
_HTML_FIXED = {"&lt;", "&gt;", "&quot;", "&#39;", "&apos;", "&nbsp;", "&amp;"}


def html_extract_expr(col) -> "F.Column":
    """The extraction chain as a composable Column expression.
    Null html -> null. Composes with ``normalize_expr`` downstream
    (extract -> normalize is the canonical web-corpus prep order)."""
    out = col
    for pat, rep in _HTML_RULES:
        if pat in _HTML_FIXED:
            out = F.replace(out, F.lit(pat), F.lit(rep))
        else:
            out = F.regexp_replace(out, pat, rep)
    return F.trim(out)


def _html_sql_chain(expr: str) -> str:
    out = expr
    for pat, rep in _HTML_RULES:
        esc = rep.replace("'", "''")
        if pat in _HTML_FIXED:
            out = f"replace({out}, '{pat}', '{esc}')"
        else:
            out = f"regexp_replace({out}, '{pat}', '{esc}', 'g')"
    return f"trim({out})"


def html_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, html): each doc's text wrapped in a
    deterministic HTML page exercising every extraction rule — head
    with title/style/script subtrees, a comment, entity-bearing
    heading, the body text in a <p>, and a trailing entity-soup <div>.
    Declarative concat (JVM-side, no Python), mirrored closed-form in
    the oracle so the fixture costs nothing at any scale."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        d,
        F.lit("</title><style>p{color:red}</style>"),
        F.lit("<script>var x=1 &amp;&amp; 2;</script></head>"),
        F.lit("<body><!-- id "),
        d,
        F.lit(" --><h1>Doc &quot;"),
        d,
        F.lit("&quot;</h1>\n<p>"),
        F.col("text"),
        F.lit("</p><div>5 &lt; 6 &nbsp;&amp;&amp; 7 &gt; 4</div>"),
        F.lit("<span>tail</span></body></html>"),
    )
    return docs.select("doc_id", html.alias("html"))


HTML_TABLE_SQL_EXPR = (
    "'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || "
    "'</title><style>p{color:red}</style>"
    "<script>var x=1 &amp;&amp; 2;</script></head>"
    "<body><!-- id ' || CAST(doc_id AS VARCHAR) || "
    "' --><h1>Doc &quot;' || CAST(doc_id AS VARCHAR) || "
    "'&quot;</h1>' || chr(10) || '<p>' || text || "
    "'</p><div>5 &lt; 6 &nbsp;&amp;&amp; 7 &gt; 4</div>"
    "<span>tail</span></body></html>'"
)


def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, extracted, n_chars): one narrow codegen'd scan over
    the planted-HTML fixture — the markup-removal stage a web corpus
    runs before ``text_normalize``."""
    ext = html_extract_expr(F.col("html"))
    return html_table(spark, sf_dir).select(
        "doc_id",
        ext.alias("extracted"),
        F.length(ext).alias("n_chars"),
    )


TEXT_HTML_EXTRACT_SQL = f"""
SELECT doc_id,
       {_html_sql_chain(HTML_TABLE_SQL_EXPR)} AS extracted,
       CAST(length({_html_sql_chain(HTML_TABLE_SQL_EXPR)}) AS INTEGER)
           AS n_chars
FROM documents
"""
