"""Deduplication operators over the ``documents`` table.

The reference has no dedup (it is an IoT playback plugin); these are
the large-scale-training-pipeline operators the engine adds, designed
for the 100 TB case first:

- **exact**: hash-groupBy on a content fingerprint — one shuffle keyed
  by md5(text), never by the full text bytes.
- **ngram_jaccard**: exact n-gram (shingle) Jaccard via posting
  lists: explode distinct shingles, group into per-shingle posting
  lists, emit i<j pairs per list, count shared shingles per pair. No
  document-level cross join anywhere; cost scales with shared-shingle
  pairs, not |docs|², and a document-frequency cap (SHINGLE_DF_CAP)
  drops corpus-wide boilerplate shingles before the |list|² explode so
  the worst case is bounded on adversarial corpora too.
- **minhash_lsh**: 32-perm MinHash signatures (xxhash64 with per-perm
  seeds, array expressions — no Python), banded 8×4 so candidate
  generation is an equi-join on (band, band_key); candidates are then
  *verified* with exact Jaccard, so every emitted pair is a true
  near-dup. Recall is the 8-band/4-row S-curve: miss probability
  (1-j⁴)⁸ ≈ 1.5e-2 right at the 0.8 threshold but < 4e-4 by j=0.9 and
  < 2e-7 by j=0.95. Sharing ngram_jaccard's oracle therefore relies on
  the corpus having no pairs hovering just above the threshold —
  asserted for the fixture corpora in test_lsh_fixture_margin.
- **simhash**: 64-bit SimHash from *shingle* hashes (per-bit vote sums
  → OR of set bits), candidate pairs via 8×8-bit band buckets, verified
  by Hamming distance ≤ 12 (bit_count(xor)). Unigram-token SimHash is
  useless on corpora with heavily shared vocabulary (measured on the
  synthetic corpus: random-pair Hamming median 14, true-dup median 6 —
  no separation, 57% of ALL pairs under the old ≤16 cut, an O(n²)
  output); hashing 3-gram shingles decorrelates unrelated docs
  (random-pair median 32, min 18 vs true-dup max 11) so the ≤12 cut is
  a clean margin. The per-shingle hash is the two 32-bit halves of
  md5 over the gram STRING (the one consumer of ``shingle_strings``) —
  reproducible in DuckDB SQL, so the whole operator (votes →
  fingerprint → band buckets → Hamming verify) is hash-checked
  against an oracle, not just row-counted.
"""

from __future__ import annotations

import itertools

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from fledge_south_csvplayback_spark.operators import fanout

NGRAM = 3
JACCARD_THRESHOLD = 0.8
# Posting-list pair generation fans out |list|² per shingle; a shingle
# shared by more documents than this cap is dropped from intersection
# counting (boilerplate that carries no near-dup signal), bounding the
# worst-case explode at CAP² regardless of corpus skew. Jaccard then
# reads as a lower bound for pairs whose overlap includes capped
# shingles; at threshold 0.8 a pair must share ~90% of shingles, so a
# real near-dup pair cannot be composed mostly of corpus-wide
# boilerplate and survives the cap.
SHINGLE_DF_CAP = 256
# Over-cap ("hot") shingle keys are usually a tiny set (≤ |postings|/CAP
# by pigeonhole), but on adversarial corpora that bound itself reaches
# tens of millions of keys — forcing a broadcast there is driver/executor
# memory pressure. At 8 bytes/key this cap keeps the broadcast build side
# ~32 MB (under the session's 64 MB autoBroadcastJoinThreshold); above
# it the anti-join falls back to a shuffle, which is the correct plan
# when the hot set is genuinely large.
HOT_BROADCAST_MAX = 4_000_000
MINHASH_PERMS = 32
LSH_BANDS = 8  # 4 rows per band
SIMHASH_BANDS = 8  # 8 bits each: any pair within Hamming 7 must share a band
SIMHASH_MAX_HAMMING = 12  # 8..12 found probabilistically (miss needs all 8 bands hit)


# shingling is interpreted higher-order-function work — the most
# expensive per-row compute in this module; a single-file corpus ran it
# 2.6× slower at sf0.1 on one core before the fan-out.
def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fanout.spread(
        spark.read.parquet(f"{sf_dir}/documents.parquet"),
        spark,
        f"{sf_dir}/documents.parquet",
    )


# --- exact dedup -------------------------------------------------------------
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate groups keyed by content hash; keeper = min doc_id."""
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5(F.col("text")).alias("fingerprint"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


DEDUP_EXACT_SQL = """
SELECT md5(text) AS fingerprint,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


# --- shingling ---------------------------------------------------------------
def shingles(text: Column, n: int = NGRAM) -> Column:
    """Distinct word n-gram shingles of a text column, as 64-bit hashes
    (array<long>): xxhash64 per TOKEN, then each gram key is the n
    token hashes combined with shifted xors — gram strings never
    materialize.

    Why this construction (higher-order-function lambdas are
    interpreted, so per-element cost is everything — measured on 2M
    docs / 50M tokens at local[32]): split alone 5.4s; building gram
    strings then hashing them, or md5+conv per token, adds 38-45s
    (conv's string base-conversion is ~15µs/call); xxhash64 per token
    adds ~0 (JVM intrinsic). The token array is let-bound via the
    ``transform(array(...), toks -> ...)`` trick so split+hash run
    exactly ONCE per row: every ``element_at`` in a lambda otherwise
    embeds its own copy of its argument subtree (O(len²)
    re-evaluation; a separate select() doesn't help — Catalyst
    collapses adjacent Projects).

    The Jaccard/MinHash oracles stay on STRING grams (output-level
    parity): a 64-bit collision would be needed to change a distinct
    count, ~1e-11 odds at oracle scale. SimHash, whose oracle must
    rebuild the per-gram hash VALUES bit-for-bit, uses
    ``shingle_strings`` + md5 instead.

    TOTAL by construction: the gram array is guarded by a ``when``
    INSIDE the expression (a short doc yields ``array()``), because a
    separate ``.filter(size >= n)`` node does NOT protect it —
    Catalyst CSE evaluates the shared gram subtree inside the
    generated Filter predicate, so ``sequence(1, size-(n-1))``
    descends to ``[1, 0]`` on a sub-n-token doc and ``element_at``
    throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT. ``when`` branches are
    the one laziness Catalyst guarantees (conditional subexpressions
    are excluded from the common pool). NULL text is also total here:
    ``size(NULL)`` is NULL, the predicate is non-true, empty array."""

    def build(toks: Column) -> Column:
        def gram(i: Column) -> Column:
            out = F.element_at(toks, i)
            for k in range(1, n):
                out = out.bitwiseXOR(
                    F.shiftleft(F.element_at(toks, i + k), 2 * k)
                )
            return out

        return F.when(
            F.size(toks) >= n,
            F.transform(F.sequence(F.lit(1), F.size(toks) - (n - 1)), gram),
        ).otherwise(F.array().cast("array<bigint>"))

    token_hashes = F.transform(F.split(text, " "), lambda t: F.xxhash64(t))
    return F.array_distinct(
        F.element_at(F.transform(F.array(token_hashes), build), 1)
    )


def shingles_multi(text: Column, ne_values: list[int]) -> Column:
    """array<struct<ne, gs>> of the distinct word n-gram shingles at
    EVERY window size in ``ne_values`` — one struct per window class,
    each carrying that class's plain ``array<bigint>`` gram keys —
    from ONE split + per-token xxhash64 pass (round 16). The
    decontamination doc side needs grams at each distinct benchmark
    window class; building them as per-ne frames unioned together
    re-scanned the corpus and re-ran split+hash once PER CLASS — this
    builder shares the let-bound token-hash array across every class,
    so the corpus is scanned and tokenized once per invocation at any
    scale. Per class the gram construction, ``array_distinct`` and the
    in-expression ``when`` totality guard (see ``shingles``)
    are identical to ``shingles(text, ne)``, so the double-exploded
    (ne, g) set is exactly the union of the per-ne builds (pinned by
    ``test_shingles_multi_matches_per_ne_builds``). A struct-per-GRAM
    variant was measured and REJECTED: tagging every gram inside the
    interpreted lambda allocated a struct per element and ran the hits
    join ~40% slower; the per-CLASS struct keeps the inner arrays
    plain longs, exactly the shape ``shingles`` emits."""

    def build(toks: Column) -> Column:
        def grams_at(ne: int) -> Column:
            def gram(i: Column) -> Column:
                out = F.element_at(toks, i)
                for k in range(1, ne):
                    out = out.bitwiseXOR(
                        F.shiftleft(F.element_at(toks, i + k), 2 * k)
                    )
                return out

            return F.when(
                F.size(toks) >= ne,
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size(toks) - (ne - 1)),
                        gram,
                    )
                ),
            ).otherwise(F.array().cast("array<bigint>"))

        return F.array(
            *[
                F.struct(
                    F.lit(ne).alias("ne"), grams_at(ne).alias("gs")
                )
                for ne in ne_values
            ]
        )

    token_hashes = F.transform(F.split(text, " "), lambda t: F.xxhash64(t))
    return F.element_at(F.transform(F.array(token_hashes), build), 1)


def shingle_strings(text: Column, n: int = NGRAM) -> Column:
    """Distinct word n-gram shingles as STRINGS — the slow path, kept
    for operators whose oracle must re-derive per-gram hash values
    (SimHash md5 halves). Same let-binding structure AND the same
    in-expression ``when`` totality guard as ``shingles``
    (see its docstring: a filter node does not protect against CSE)."""

    def build(toks: Column) -> Column:
        return F.when(
            F.size(toks) >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                    lambda i: F.concat_ws(
                        " ", *[F.element_at(toks, i + k) for k in range(n)]
                    ),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(F.split(text, " ")), build), 1)


def _shingled_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, sh) over an arbitrary documents frame — shared by the
    whole-corpus miners and the incremental-ingest corpus/batch sides
    so shingle sets can never drift between them."""
    return docs.filter(
        F.size(F.split(F.col("text"), " ")) >= NGRAM  # cheap predicate
    ).select("doc_id", shingles(F.col("text")).alias("sh"))


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _shingled_docs(_docs(spark, sf_dir))


# oracle used by both the exact-Jaccard and the LSH operator (see module
# docstring for why LSH verification makes the outputs identical)
# shared STRING-gram CTEs: the oracles re-derive shingle sets from the
# gram text itself — Spark's hashed gram keys change distinct counts
# only on a 64-bit collision (~1e-11 at oracle scale), so output-level
# parity holds without the SQL mirroring the hash
_SHINGLE_CTES = f"""
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
    SELECT doc_id, unnest(list_distinct(list_transform(
        generate_series(1, len(t) - {NGRAM - 1}),
        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
    FROM toks WHERE len(t) >= {NGRAM}
)"""

NGRAM_JACCARD_SQL = f"""
WITH {_SHINGLE_CTES},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
kept AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= {SHINGLE_DF_CAP}),
inter AS (
    SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    WHERE a.s IN (SELECT s FROM kept)
    GROUP BY 1, 2
)
SELECT ia AS doc_a, ib AS doc_b,
       ROUND(c::DOUBLE / (na.n + nb.n - c), 6) AS jaccard
FROM inter
JOIN sizes na ON ia = na.doc_id
JOIN sizes nb ON ib = nb.doc_id
WHERE c::DOUBLE / (na.n + nb.n - c) >= {JACCARD_THRESHOLD}
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs via posting lists, single shingle pass.

    Shape: shingle once, carrying each doc's distinct-shingle count
    ``n = size(sh)`` alongside the exploded index rows; group by shingle
    into a sorted posting list of (doc_id, n) structs; emit the i<j
    pairs of each list with both sizes attached; count shared shingles
    per pair. Jaccard = c / (na + nb - c) is then computable from the
    pair-count row alone — no sizes table, no joins, two shuffles total
    (by shingle, by pair). The earlier index self-join re-ran the
    shingling per branch (3 scans) and shuffled the full index twice;
    this is ~2.6× faster at sf0.1 and strictly fewer shuffles at any
    scale. Posting-list pair fan-out is |list|² per shingle — bounded
    by the implemented document-frequency cap (SHINGLE_DF_CAP, applied
    in _pair_counts before the pair explode and mirrored in the
    oracle's ``kept`` CTE), so the worst case is CAP² per shingle even
    on adversarial corpora; the planted-hot-shingle test pins it.
    """
    pairs = _pair_counts(
        _shingled(spark, sf_dir), min_jaccard=JACCARD_THRESHOLD
    )
    j = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return pairs.filter(j >= JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", F.round(j, 6).alias("jaccard")
    )


def _pair_counts(
    sh: DataFrame,
    hot: DataFrame | None = None,
    cached: list | None = None,
    min_jaccard: float | None = None,
    hot_count: int | None = None,
) -> DataFrame:
    """Shared-shingle pair counts (doc_a, na, doc_b, nb, c) from a
    shingled frame — the posting-list core of both the exact-Jaccard
    operator and the MinHash-LSH verifier. Shingles whose FULL-CORPUS
    document frequency exceeds SHINGLE_DF_CAP are dropped before the
    |list|² pair explode (see the constant's comment); sizes na/nb stay
    uncapped.

    When ``sh`` is the whole corpus (exact path) the cap is the local
    posting-list size filter. When ``sh`` is a slice (LSH verification),
    the caller MUST pass ``hot`` = the over-cap shingle keys computed
    over the full corpus: a slice-local size filter would keep a
    shingle whose corpus df exceeds the cap but whose slice df does not,
    inflating c relative to the exact operator and the shared oracle.

    ``min_jaccard`` (round 15): callers that will filter the final
    Jaccard at a threshold T may pass it to prune pairs INSIDE the
    explode by the exact size bound — c <= min(na, nb) always, so
    j = c/(na+nb-c) <= min/max, and IEEE division is monotone, so
    j_double >= T implies (min/max)_double >= T with the same double
    literal: no passing pair is ever pruned. Cuts the emitted pair
    rows ~63% on the sf corpora (measured) before the struct
    construction, the pair exchange and the count aggregate. ``None``
    (default) emits every co-occurring pair — the raw-counts surface
    the tests use."""
    # shingles are already 64-bit hashes (see shingles()), so the
    # posting-list exchange — the widest shuffle in the module —
    # carries 8-byte keys, never shingle strings (~2.5x less shuffle
    # volume at 10M docs, long compares in the sort)
    idx = sh.select("doc_id", F.size("sh").alias("n"), F.explode("sh").alias("s"))
    if hot is not None:
        # anti-join before the posting-list shuffle: hot carries at most
        # |postings| / CAP keys (8 bytes each) — usually tiny, but the
        # bound is corpus-dependent, so the broadcast is GUARDED, not
        # forced: cache + count (the aggregation runs once either way),
        # broadcast under HOT_BROADCAST_MAX keys, shuffled anti-join
        # above it. Slice lists are <= CAP by construction afterwards,
        # so the local size filter below is redundant and skipped.
        # The cache is not unpersist()ed HERE: the returned DataFrame
        # is lazy, so the safe release point is unknowable, and the
        # table is at most |postings|/CAP 8-byte keys — Spark's LRU
        # storage eviction reclaims it under pressure for one-shot
        # callers. Per-micro-batch callers (the streaming gate via
        # _neardup_probe) pass ``cached`` and unpersist after their
        # writes, or this leaks one cached frame per batch.
        # ``hot_count`` = the caller already cached AND counted ``hot``
        # (the minhash path overlaps that count with its candidate
        # materialization on a second driver thread); None = guard here.
        if hot_count is None:
            hot = hot.cache()
            if cached is not None:
                cached.append(hot)
            hot_count = hot.count()
        if hot_count <= HOT_BROADCAST_MAX:
            idx = idx.join(F.broadcast(hot), "s", "anti")
        else:
            idx = idx.join(hot, "s", "anti")
    by_s = idx.groupBy("s").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "n"))).alias("ds")
    )
    # singleton posting lists (the overwhelming majority of shingles)
    # generate zero pairs but would still pay the nested
    # transform/slice/flatten machinery below per row — drop them
    # before the pair projection (measured ~0.9 s of the sf0.1 exact
    # miner's exec; strictly fewer rows into the explode at any scale)
    if hot is None:
        by_s = by_s.filter(F.size("ds").between(2, SHINGLE_DF_CAP))
    else:
        by_s = by_s.filter(F.size("ds") >= 2)
    def pairs_of(x, i):
        sl = F.slice(F.col("ds"), i + 2, F.size(F.col("ds")))
        if min_jaccard is not None:
            sl = F.filter(
                sl,
                lambda y: (F.least(x["n"], y["n"]) / F.greatest(x["n"], y["n"]))
                >= F.lit(min_jaccard),
            )
        return F.transform(
            sl,
            lambda y: F.struct(
                x["doc_id"].alias("doc_a"),
                x["n"].alias("na"),
                y["doc_id"].alias("doc_b"),
                y["n"].alias("nb"),
            ),
        )

    pair_structs = F.flatten(F.transform(F.col("ds"), pairs_of))
    return (
        by_s.select(F.explode(pair_structs).alias("p"))
        .groupBy("p.doc_a", "p.na", "p.doc_b", "p.nb")
        .agg(F.count(F.lit(1)).alias("c"))
    )


# --- MinHash + LSH -----------------------------------------------------------
def minhash_signatures(idx: DataFrame, perms: int = MINHASH_PERMS) -> DataFrame:
    """Per-doc MinHash signature (Broder, "On the resemblance and
    containment of documents", SEQUENCES '97) as one aggregation over
    the inverted index: min of seeded xxhash64 per permutation —
    map-side partial aggregation, one shuffle keyed by doc_id, no
    per-row array passes."""
    return idx.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64("s", F.lit(p))).alias(f"_mh{p}")
            for p in range(perms)
        ]
    )


def _lsh_band_table(sig: DataFrame) -> DataFrame:
    """(doc_id, band, key) rows from a MinHash signature frame — one
    banding definition shared by the inline miner, the persisted
    near-dup index, and the ingest batch side (a per-doc function of
    the signature alone, so corpus membership cannot change it)."""
    rows = MINHASH_PERMS // LSH_BANDS
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.col(f"_mh{b * rows + r}") for r in range(rows)]
                        ).alias("key"),
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, verified with exact Jaccard.

    Candidates come from the banded signature equi-join; each candidate
    pair is then verified by exact Jaccard computed from posting-list
    intersection counts over the index *restricted to candidate docs*
    (a broadcast semi-join — candidate docs are a small fraction of the
    corpus), so no ``array<string>`` payload ever crosses a shuffle.
    Output = the exact operator's pairs minus any whose signature missed
    all bands: the miss probability at Jaccard j is (1-j^4)^8 — ~1.5e-2
    right at the 0.8 threshold, <4e-4 at j>=0.9, <2e-7 at j>=0.95 — so
    the shared oracle (NGRAM_JACCARD_SQL) is valid only when the corpus
    has no pairs hovering just above the threshold.
    tests/test_dedup.py::test_lsh_fixture_margin pins that property for
    the fixture corpora: every exact pair clears j>=0.9 or is found by
    LSH anyway.
    """
    sh = _shingled(spark, sf_dir)
    idx = sh.select("doc_id", F.explode("sh").alias("s"))
    bands = _lsh_band_table(minhash_signatures(idx))
    # candidate pairs by BUCKET GROUPING, not a band-key self-join
    # (round 16; the dedup_simhash round-15 precedent): the self-join's
    # two branches shared the signature exchange via ReusedExchange but
    # each re-ran the 32-aggregate signature finalization and the band
    # explode, and the build side paid a broadcast of the whole band
    # table. Grouping each (band, key) bucket into a sorted doc list
    # and exploding the i<j pairs in-array computes signatures ONCE in
    # one linear chain — no join operator. Same pair set: sort_array ⇒
    # i<j is doc_a < doc_b; band keys are xxhash64 outputs over
    # never-NULL inputs, so the equi-join's NULL-key drop has nothing
    # to drop; a doc appears at most once per bucket. Hot buckets
    # produce |bucket|² pairs in BOTH formulations (banding bounds
    # them) — the explode just stops paying the join machinery on top.
    by_bucket = (
        bands.groupBy("band", "key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    cand_structs = F.flatten(
        F.transform(
            F.col("ds"),
            lambda x, i: F.transform(
                F.slice(F.col("ds"), i + 2, F.size(F.col("ds"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    cands = (
        by_bucket.select(F.explode(cand_structs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    # verify candidates with exact Jaccard from posting-list counts over
    # the candidate-doc slice of the index — narrow long-typed joins
    # only, no shingle arrays in any shuffle payload. cands feeds BOTH
    # the doc-slice semi-join and the final pair intersect; cache alone
    # doesn't help (both branches sit in ONE action's DAG and race the
    # cache fill), so materialize it eagerly with a count() — one small
    # job, and the signature+banding pipeline runs once, not twice.
    # cands is a pair-of-longs table, tiny at any corpus scale.
    #
    # the df cap must be computed over the FULL corpus, exactly like the
    # exact operator and the shared oracle: a boilerplate shingle with
    # corpus df > CAP but candidate-slice df <= CAP would otherwise be
    # counted only here, inflating c on skewed corpora. One narrow
    # count-only aggregation over the already-built index (map-side
    # partial counts, 8-byte keys); the over-cap set is at most
    # |postings| / CAP keys, anti-joined in _pair_counts (broadcast when
    # small — the guarded common case — shuffled when adversarially
    # large; see HOT_BROADCAST_MAX).
    #
    # the two materializations are INDEPENDENT (cands from the banded
    # signature join, hot from the posting-frequency count), so they run
    # as concurrent jobs from two driver threads (guide §2.6 overlap):
    # each fills the tail of the other's stages instead of serializing
    # two sub-second-to-minutes jobs at every corpus size.
    cands = cands.cache()
    hot = (
        idx.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > SHINGLE_DF_CAP)
        .select("s")
        .cache()
    )
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_cands = pool.submit(cands.count)
        f_hot = pool.submit(hot.count)
        f_cands.result()
        hot_count = f_hot.result()
    cand_docs = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .union(cands.select("doc_b"))
        .distinct()
    )
    cand_sh = sh.join(F.broadcast(cand_docs), "doc_id", "semi")
    pairs = _pair_counts(
        cand_sh, hot=hot, min_jaccard=JACCARD_THRESHOLD, hot_count=hot_count
    ).join(F.broadcast(cands), ["doc_a", "doc_b"])
    j = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return pairs.filter(j >= JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", F.round(j, 6).alias("jaccard")
    )


def dedup_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-13 registry fold (COVERAGE.md selection rule): the exact
    n-gram Jaccard miner and the MinHash-LSH banded miner already
    shared ONE oracle (both registered against NGRAM_JACCARD_SQL —
    the LSH fixture-margin test pins that they agree on the fixture
    corpora), so they fold into one method-tagged union: both
    execution paths stay driver-value-checked per row while freeing a
    registry slot (rotating in ``hybrid_topk_rrf``). The unmerged
    callables stay public + pytest-checked (test_dedup)."""
    ex = dedup_ngram_jaccard(spark, sf_dir).select(
        F.lit("ngram").alias("method"), "doc_a", "doc_b", "jaccard"
    )
    mh = dedup_minhash_lsh(spark, sf_dir).select(
        F.lit("minhash").alias("method"), "doc_a", "doc_b", "jaccard"
    )
    return ex.unionByName(mh)


# NOTE (round-13 advice): the 'minhash' arm deliberately reuses the
# EXACT-Jaccard SQL — DuckDB has no MinHash to mirror, and the LSH
# miner's output equals exact Jaccard ONLY under the fixture-margin
# property (every fixture pair sits far from the 0.8 threshold;
# test_dedup's margin test pins this). A future fixture with pairs
# hovering just above the threshold would make the driver compare fail
# SPURIOUSLY (LSH miss probability ~1.5e-2 per pair at the threshold)
# — that is a fixture-contract violation, not an LSH bug: fix the
# fixture margin (or re-split the union), don't loosen the miner.
DEDUP_NEARDUP_PAIRS_SQL = f"""
SELECT 'ngram' AS method, * FROM ({NGRAM_JACCARD_SQL})
UNION ALL
SELECT 'minhash' AS method, * FROM ({NGRAM_JACCARD_SQL})
"""


# --- SimHash -----------------------------------------------------------------
def _simhash_fp(
    spark: SparkSession, sf_dir: str, reproducible: bool
) -> DataFrame:
    """64-bit SimHash fingerprints (Charikar, "Similarity estimation
    techniques from rounding algorithms", STOC '02) as two 32-bit
    halves: (doc_id, fp_lo, fp_hi). Shared by both candidate schemes
    (``dedup_simhash`` 8-band, ``dedup_simhash_blocked`` m-block
    tables); see ``dedup_simhash`` for the reproducible-vs-production
    hash tradeoff."""
    if reproducible:
        # the oracle must rebuild the per-gram hash VALUES, so this path
        # pays for STRING grams hashed with md5, halves rebuilt in SQL
        tok = (
            _docs(spark, sf_dir)
            .filter(F.size(F.split(F.col("text"), " ")) >= NGRAM)
            .select(
                "doc_id", F.explode(shingle_strings(F.col("text"))).alias("s")
            )
            .select(
                "doc_id",
                F.conv(F.substring(F.md5("s"), 1, 8), 16, 10)
                .cast("long")
                .alias("h_hi"),
                F.conv(F.substring(F.md5("s"), 9, 8), 16, 10)
                .cast("long")
                .alias("h_lo"),
            )
        )
    else:
        # production: 64-bit hashed grams straight from shingles() —
        # no gram strings, no md5; halves via unsigned shift / mask
        tok = (
            _shingled(spark, sf_dir)
            .select("doc_id", F.explode("sh").alias("hs"))
            .select(
                "doc_id",
                F.shiftrightunsigned(F.col("hs"), 32).alias("h_hi"),
                F.col("hs").bitwiseAND(F.lit((1 << 32) - 1)).alias("h_lo"),
            )
        )
    # Bit votes via SWAR lanes: summing (h >> b) & 0x00010001 counts
    # bit b of each 32-bit half in lane [15:0] and bit b+16 in lane
    # [31:16], so 16 sums per half replace 64 per-bit conditional sums.
    # The lanes land in ONE array column, not 33 scalar columns — that
    # single choice is what makes the pack projection plan fast:
    # CollapseProject substitutes CHEAP expressions into referencing
    # projections, so 33 scalar agg columns get copied into all 64 pack
    # terms and the optimizer then re-traverses a several-thousand-node
    # tree (~1.5-2 s of analysis per invocation, measured both for the
    # original 128-column sum(when) aggregate and for scalar SWAR
    # lanes); a CreateArray result is not cheap, the projection stays
    # separate, and the whole fingerprint plans in ~0.3 s. Honest
    # ledger (interleaved fresh-build-per-rep A/B on a noisy host):
    # sf0.1 whole stage ~2.6 s -> ~2.1 s, 2M-doc production path
    # 9.3 s -> 7.7 s warm, partial-agg state 4x narrower. A mapInPandas
    # pack plans faster still but cost ~65 s at 2M docs in Arrow
    # round-trips of the lane table vs ~1 s of JVM integer ops here —
    # reverted. Identical fingerprints throughout (majority vote as
    # 2*count_b > n = sum(±1) > 0, same integers, so the
    # md5-reproducible oracle is unaffected).
    # expression trees below are built as SQL TEXT parsed JVM-side by
    # ONE F.expr call each: the Column-API form issued one Py4J round
    # trip per operator node (~1.1 s of driver time per invocation for
    # the 33 lane aggregates + 64 pack terms, measured round 15) while
    # producing the identical parsed expressions — same operators, same
    # evaluation order, same types, so fingerprints are bit-identical
    # and the md5-reproducible oracle is unaffected.
    lane_mask = 0x00010001
    lane_sums = ", ".join(
        f"sum(shiftrightunsigned({col}, {b}) & {lane_mask})"
        for col in ("h_lo", "h_hi")
        for b in range(16)
    )
    lanes = tok.groupBy("doc_id").agg(
        F.expr(f"array(count(1), {lane_sums})").alias("lanes")
    )
    # On a starved-small corpus AQE coalesces the vote-agg exchange to
    # ONE partition (its bytes are tiny), so the interpreted pack fold
    # below plus the consumers' band/key explode ran on a single task —
    # measured 1.6 s of a 2.4 s execution at sf0.1 (round 16). The
    # guarded spread re-fans the AGGREGATED lane rows (one per doc)
    # before the pack; at real scale the guard is a no-op and AQE's
    # own partitioning provides the parallelism. (Distinct from the
    # round-15 dead end, which repartitioned the candidate table on
    # the JOIN KEYS — hot-bucket-bound; this spreads the pre-explode
    # per-doc rows round-robin, which no key skew can defeat.)
    lanes = fanout.spread(lanes, spark, f"{sf_dir}/documents.parquet")

    # A doc with > 65535 shingles would overflow a 16-bit lane: emit a
    # NULL fingerprint instead of a silently-corrupt one (null band
    # keys never satisfy an equi-join, so overflowed docs drop out of
    # candidate generation — visible via fp_lo IS NULL, pinned in
    # tests). The guard rides the OR-fold's SEED — a null seed
    # null-propagates through the fold — because wrapping the packed
    # column in when(guard, ...) or raise_error measurably re-costs
    # ~1 s/invocation (the wrapper re-triggers the projection-collapse
    # analysis this shape exists to avoid). Whole-doc SimHash over
    # >65k shingles is degenerate anyway (every bit a ~50/50 vote);
    # chunk such docs upstream.
    seed = (
        "IF(element_at(lanes, 1) <= 65535, "
        "CAST(0 AS BIGINT), CAST(NULL AS BIGINT))"
    )

    def pack(half_offset: int) -> str:
        # lanes[1]=n, lanes[2..17]=lo lanes, lanes[18..33]=hi lanes;
        # bit b's count sits in 16-bit lane b//16 of lanes element
        # half_offset + b%16 + 1
        terms = ", ".join(
            "shiftleft(CAST(((shiftrightunsigned(element_at(lanes, "
            f"{half_offset + b % 16 + 1}), {16 * (b // 16)}) & 65535) * 2"
            f" > element_at(lanes, 1)) AS BIGINT), {b})"
            for b in range(32)
        )
        return f"aggregate(array({terms}), {seed}, (a, x) -> a | x)"

    return lanes.select(
        "doc_id",
        F.expr(pack(1)).alias("fp_lo"),
        F.expr(pack(17)).alias("fp_hi"),
    )


def _fp_chunk(i: int) -> Column:
    """8-bit chunk ``i`` of the (fp_lo, fp_hi) fingerprint — chunk = the
    classic band; the blocked scheme keys tables on combinations of the
    SAME chunks, which is what makes its candidates a provable subset."""
    band_bits = 64 // SIMHASH_BANDS
    return F.shiftrightunsigned(
        F.col("fp_lo") if i < 4 else F.col("fp_hi"), band_bits * (i % 4)
    ).bitwiseAND((1 << band_bits) - 1)


def _hamming_pairs(chunks: DataFrame, key_cols: list[str]) -> DataFrame:
    """Bucket ``chunks`` by ``key_cols`` and emit each bucket's i<j
    pairs within Hamming <= SIMHASH_MAX_HAMMING, distinct. The shared
    tail of both SimHash candidate schemes.

    Shape (round 15): group into sorted per-bucket lists and explode
    the i<j pairs in-array — the ``_pair_counts`` pattern — instead of
    the earlier self-equi-join. The join planned as a BroadcastHashJoin
    whose build side REPLAYED the whole fingerprint pipeline (plan
    showed both subtrees in full: scan + gram md5 + vote aggregate,
    twice per invocation); the group-by computes fingerprints ONCE and
    shuffles the chunk table once. Same pair set: sort_array orders
    each bucket by doc_id, so i<j is exactly doc_a < doc_b; NULL
    (overflow) fingerprints are filtered up front, matching the
    equi-join's null-key drop semantics — pinned by
    test_simhash_overflow_oracle_parity. Hot-bucket bound unchanged
    (|bucket|² pairs either way); the bucket array adds O(|bucket|)
    task memory, second-order next to the quadratic pair work.

    (Round-15 note: explicitly repartitioning the candidate table on
    the join keys to defeat AQE's single-task coalescing was tried
    and measured SLOWER at sf0.1 — 2.48 s vs 2.18 s — the verify
    tail is bounded by the hottest (band, chunk) buckets, which key
    partitioning cannot split.)"""
    buckets = (
        chunks.filter(F.col("fp_lo").isNotNull())
        .groupBy(*key_cols)
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "fp_lo", "fp_hi"))
            ).alias("ds")
        )
        .filter(F.size("ds") >= 2)
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ds"),
            lambda x, i: F.transform(
                F.slice(F.col("ds"), i + 2, F.size(F.col("ds"))),
                lambda y: F.struct(
                    x["doc_id"].alias("doc_a"),
                    x["fp_lo"].alias("alo"),
                    x["fp_hi"].alias("ahi"),
                    y["doc_id"].alias("doc_b"),
                    y["fp_lo"].alias("blo"),
                    y["fp_hi"].alias("bhi"),
                ),
            ),
        )
    )
    p = buckets.select(F.explode(pair_structs).alias("p")).select("p.*")
    ham = F.bit_count(F.col("alo").bitwiseXOR(F.col("blo"))) + F.bit_count(
        F.col("ahi").bitwiseXOR(F.col("bhi"))
    )
    return (
        p.filter(ham <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .distinct()
    )


def dedup_simhash(
    spark: SparkSession, sf_dir: str, reproducible: bool = True
) -> DataFrame:
    """Near-dup pairs by 64-bit shingle SimHash within Hamming 12.

    ``reproducible=True`` (the registered entry) derives the per-shingle
    hash as md5 over the gram STRING split into two 32-bit halves (hex
    chars 1-8 and 9-16), each held as a non-negative long — DuckDB
    rebuilds the identical values with
    ``('0x'||substr(md5(s),...))::BIGINT``, so the operator is fully
    hash-checked (SIMHASH_SQL), not rows-only. That reproducibility
    costs ~an order of magnitude in gram hashing (string grams
    materialize, md5 + conv per gram — see shingles() for the measured
    numbers); ``reproducible=False`` is the production path: the
    already-hashed 64-bit gram keys from shingles() (xxhash64 tokens,
    shifted-xor combine — no gram strings anywhere) are split into
    their two 32-bit halves and feed the identical vote/pack/band/verify
    pipeline. The SimHash GEOMETRY is hash-agnostic — any uniform
    64-bit gram hash gives the same true-dup/random-pair separation —
    so the two paths agree on all solidly-near pairs and can differ
    only at the probabilistic band-survival boundary (Hamming 8-12,
    where finding the pair needs one of 8 hash-dependent bands to
    collide; measured pair-set agreement 27/28 at sf0.001, 25/25 at
    sf0.01 — test_simhash_production_hash_matches_reproducible pins
    Jaccard ≥ 0.9); only the oracle needs md5.

    Keeping the fingerprint as two 32-bit halves also sidesteps 64-bit
    sign traps in both engines' shift/compare semantics. Votes are per
    3-gram shingle, not per token — see the module docstring for the
    measured separation argument. Banding: 8 bands × 8 bits (4 per
    half), so any pair within Hamming 7 is guaranteed a shared band;
    8..12 are found when some band survives (probabilistic, but
    deterministic given the data — both engines band identically).
    """
    fp = _simhash_fp(spark, sf_dir, reproducible)
    chunks = fp.select(
        "doc_id",
        "fp_lo",
        "fp_hi",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"), _fp_chunk(i).alias("chunk")
                    )
                    for i in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bc"),
    ).select("doc_id", "fp_lo", "fp_hi", "bc.band", "bc.chunk")
    return _hamming_pairs(chunks, ["band", "chunk"])


# Blocked-scheme table count: C(8, m) tables keyed on m-chunk
# combinations. m=3 -> 56 tables of 24-bit keys.
SIMHASH_BLOCK_M = 3


def dedup_simhash_blocked(
    spark: SparkSession,
    sf_dir: str,
    reproducible: bool = True,
    m: int = SIMHASH_BLOCK_M,
) -> DataFrame:
    """SimHash near-dup pairs with permuted-block candidate tables —
    the scheme of Manku, Jain & Das Sarma, "Detecting Near-Duplicates
    for Web Crawling" (WWW'07) — for corpora where the classic 8-band
    join stops scaling.

    Why: ``dedup_simhash`` keys candidates on single 8-bit chunks, a
    256-value keyspace per band. Random fingerprints spread uniformly,
    so every bucket holds ~N/256 docs and the band join emits
    ~8·256·C(N/256, 2) ≈ N²/64 candidate rows regardless of how many
    true near-dups exist — ~1.6e10 at N=1M, ~1.6e12 at 10M (the probe
    curve in BASELINE.md measures the quadratic). Any scheme keyed on
    k bits cannot beat N²/2^k pairs, so the fix is wider keys: each of
    C(8, m) tables keys on the CONCATENATION of m of the same 8-bit
    chunks (m=3 → 56 tables, 24-bit keys, buckets ~N/2^24).

    Detection: a pair collides in a table iff that table's m chunks are
    all clean (no differing bit). H differing bits dirty at most H
    chunks, so every pair within Hamming ≤ 8-m is GUARANTEED a clean
    m-subset (m=3 → guarantee H ≤ 5); for H in 6..12 the pair is found
    iff its dirty bits land in ≤ 8-m chunks — probabilistic in the
    corpus but deterministic given the data, so the DuckDB oracle
    (SIMHASH_BLOCKED_SQL builds the identical 56 tables) reproduces the
    output exactly. Verification (full Hamming ≤ SIMHASH_MAX_HAMMING)
    is unchanged, and because the blocks ARE the classic bands, a clean
    m-subset implies a clean band: blocked output ⊆ ``dedup_simhash``
    output, and m=1 reproduces it exactly (both properties pinned in
    tests/test_dedup.py). The classic operator keeps the higher recall
    in the 6..12 tail — use it below ~10^5 docs; blocked is the scale
    path: 56·N index rows (8-byte keys) shuffle instead of an N²/64
    join, the same posting-list-shaped plan the Jaccard operator runs.
    """
    fp = _simhash_fp(spark, sf_dir, reproducible)
    band_bits = 64 // SIMHASH_BANDS

    # the C(8, m) key-table structs build as SQL TEXT parsed by ONE
    # F.expr call (the _simhash_fp rule): the Column-API form issued
    # ~7.7k Py4J round trips for 56 tables × 3-chunk MSB-first folds
    # (~1.6 s of driver time per invocation, measured round 15);
    # parsed expressions, chunk extraction, fold order and types are
    # identical, so candidates and the oracle compare are unchanged.
    def chunk_sql(i: int) -> str:
        col = "fp_lo" if i < 4 else "fp_hi"
        return (
            f"(shiftrightunsigned({col}, {band_bits * (i % 4)})"
            f" & {(1 << band_bits) - 1})"
        )

    def key(combo: tuple[int, ...]) -> str:
        k = "CAST(0 AS BIGINT)"
        for i in combo:
            k = f"(shiftleft({k}, {band_bits}) | {chunk_sql(i)})"
        return k

    combos = list(itertools.combinations(range(SIMHASH_BANDS), m))
    structs = ", ".join(
        f"named_struct('tbl', {t}, 'key', {key(c)})"
        for t, c in enumerate(combos)
    )
    chunks = fp.select(
        "doc_id",
        "fp_lo",
        "fp_hi",
        F.expr(f"explode(array({structs}))").alias("tk"),
    ).select("doc_id", "fp_lo", "fp_hi", "tk.tbl", "tk.key")
    return _hamming_pairs(chunks, ["tbl", "key"])


# shared fp CTEs: md5-half shingle hashes -> per-bit votes -> packed
# (fp_lo, fp_hi) — the reproducible path of _simhash_fp, rebuilt
# value-for-value so both SimHash oracles are hash-checked
_SIMHASH_FP_CTES = f"""{_SHINGLE_CTES},
hs AS (
    SELECT doc_id,
           ('0x' || substr(md5(s), 1, 8))::BIGINT AS h_hi,
           ('0x' || substr(md5(s), 9, 8))::BIGINT AS h_lo
    FROM sh
),
votes AS (
    SELECT doc_id, g.b AS b, COUNT(*) AS cnt,
           SUM(CASE WHEN ((h_lo >> g.b) & 1) = 1 THEN 1 ELSE -1 END) AS v_lo,
           SUM(CASE WHEN ((h_hi >> g.b) & 1) = 1 THEN 1 ELSE -1 END) AS v_hi
    FROM hs, generate_series(0, 31) g(b)
    GROUP BY 1, 2
),
fp AS (
    -- the NULL mirrors the Spark side's 16-bit SWAR lane bound: docs
    -- with > 65535 shingles get NULL fingerprints and drop out of the
    -- (null-rejecting) candidate equi-joins in both engines
    SELECT doc_id,
           CASE WHEN MAX(cnt) > 65535 THEN NULL ELSE
           CAST(SUM(CASE WHEN v_lo > 0 THEN (1::BIGINT << b) ELSE 0 END)
                AS BIGINT) END AS fp_lo,
           CASE WHEN MAX(cnt) > 65535 THEN NULL ELSE
           CAST(SUM(CASE WHEN v_hi > 0 THEN (1::BIGINT << b) ELSE 0 END)
                AS BIGINT) END AS fp_hi
    FROM votes GROUP BY 1
)"""

# the DISTINCT pair + Hamming-verify tail shared by both SimHash
# oracles; {{t}} = the keyed candidate table's name
_SIMHASH_PAIRS_TAIL = f"""
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.fp_lo, b.fp_lo)) + bit_count(xor(a.fp_hi, b.fp_hi))
           AS hamming
FROM {{t}} a JOIN {{t}} b
  ON a.{{k1}} = b.{{k1}} AND a.{{k2}} = b.{{k2}} AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp_lo, b.fp_lo)) + bit_count(xor(a.fp_hi, b.fp_hi))
      <= {SIMHASH_MAX_HAMMING}
"""

SIMHASH_SQL = f"""
WITH {_SIMHASH_FP_CTES},
bands AS (
    SELECT doc_id, fp_lo, fp_hi, g.i AS band,
           CASE WHEN g.i < 4 THEN (fp_lo >> (8 * g.i)) & 255
                ELSE (fp_hi >> (8 * (g.i - 4))) & 255 END AS chunk
    FROM fp, generate_series(0, 7) g(i)
)
{_SIMHASH_PAIRS_TAIL.format(t="bands", k1="band", k2="chunk")}"""


def _simhash_blocked_sql(m: int = SIMHASH_BLOCK_M) -> str:
    """Mirror of dedup_simhash_blocked's C(8, m) key tables: the same
    chunk extraction, the same MSB-first fold, one CASE arm per table."""

    def chunk(i: int) -> str:
        col = "fp_lo" if i < 4 else "fp_hi"
        return f"(({col} >> {8 * (i % 4)}) & 255)"

    arms = []
    for t, combo in enumerate(itertools.combinations(range(8), m)):
        key = chunk(combo[0])
        for i in combo[1:]:
            key = f"(({key} << 8) | {chunk(i)})"
        arms.append(f"WHEN {t} THEN {key}")
    n_tables = len(arms)
    return f"""
WITH {_SIMHASH_FP_CTES},
tables AS (
    SELECT doc_id, fp_lo, fp_hi, t.tbl,
           CASE t.tbl {" ".join(arms)} END AS key
    FROM fp CROSS JOIN (SELECT unnest(range({n_tables})) AS tbl) t
)
{_SIMHASH_PAIRS_TAIL.format(t="tables", k1="tbl", k2="key")}"""


SIMHASH_BLOCKED_SQL = _simhash_blocked_sql()


# --- near-dup clustering (the DELETE step of a dedup pipeline) ---------------
def dedup_clusters(
    spark: SparkSession, sf_dir: str, max_iters: int = 20
) -> DataFrame:
    """Connected components over the near-dup pair graph: every doc in
    any ``dedup_ngram_jaccard`` pair, labeled with its component's
    minimum doc_id, plus ``keep`` marking the canonical representative
    (the min) — what a training pipeline actually drops/keeps after
    pair mining.

    Iterative min-label propagation — the repo's one iterative
    algorithm, shaped for scale:

    - per iteration: one edge→label equi-join plus one (doc_id, label)
      min-aggregation — fixed-width long columns only, never document
      payloads;
    - iteration count is bounded by the component DIAMETER, and near-dup
      components are overwhelmingly small cliques (diameter 1-2, so
      2-3 iterations; a length-k chain of distinct-but-pairwise-near
      docs needs ~log-free k hops — ``max_iters`` caps adversarial
      chains and raises rather than silently mislabeling);
    - each iteration ends in an EAGER ``localCheckpoint``: without it
      the plan doubles per iteration (the classic iterative-lineage
      blowup) and the convergence count re-executes the whole history;
    - convergence = the label SUM stops decreasing (labels are
      monotone non-increasing under min-propagation, so an unchanged
      exact decimal sum IS the fixed point) — one shuffle-free
      aggregate per iteration on the checkpointed frame, replacing a
      new-vs-old label equi-join and its per-iteration shuffle.

    GraphFrames' alternating large-star/small-star converges in fewer
    rounds on adversarial graphs; min-propagation keeps this
    dependency-free and oracle-checkable (DuckDB recursive CTE builds
    the transitive closure, ``DEDUP_CLUSTERS_SQL``). Pytest-oracle
    (the 50-entry driver registry is full; see COVERAGE.md).
    """
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    return connected_components(pairs, "doc_a", "doc_b", "doc_id", max_iters)


def connected_components(
    pairs: DataFrame,
    a_col: str,
    b_col: str,
    id_col: str = "doc_id",
    max_iters: int = 20,
) -> DataFrame:
    """Min-label propagation over an undirected pair graph, used by
    ``dedup_clusters``. Returns (id_col, cluster_id,
    keep) where cluster_id is the component's minimum id and keep
    marks the representative. See ``dedup_clusters`` for the
    scale/convergence rationale (fixed-width label columns, eager
    localCheckpoint per iteration, diameter-bounded iteration count,
    raise on non-convergence). Note: the init fused with iteration 1
    (round 15) is itself a propagation step, so the loop performs up to
    ``max_iters`` + 1 propagation steps before raising — strictly MORE
    capacity than the documented cap, same converged output (round-15
    advisory, recorded rather than tightened so no graph that converged
    before can start raising)."""
    edges = pairs.select(
        F.col(a_col).alias("doc_a"), F.col(b_col).alias("doc_b")
    )
    edges = edges.union(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).localCheckpoint(eager=True)
    # convergence detection: labels are monotonically NON-INCREASING
    # under min-propagation (new = min(old, neighbors)), so the label
    # SUM strictly decreases on any change and is unchanged exactly at
    # the fixed point. Comparing sums replaces the former per-iteration
    # new-vs-old equi-join (+ its shuffle) with a shuffle-free partial
    # aggregate. decimal(38,0) keeps the sum exact at any scale (1e10
    # docs x int64 ids < 1e38 — a long sum could overflow and alias
    # two different label sets). The sum rides the eager checkpoint's
    # own materialization job as an ``observe`` metric (verified: the
    # metric fires on eager localCheckpoint), so each iteration runs
    # ONE job, not a checkpoint job plus a separate sum job.
    from pyspark.sql.observation import Observation

    def _checkpoint_with_sum(frame: DataFrame):
        obs = Observation()
        ck = frame.observe(
            obs, F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).localCheckpoint(eager=True)
        return ck, obs.get["s"]

    # label INIT fused with ITERATION 1 (round 15): labels0[v] = v and
    # iteration 1 computes min(v, min over neighbors) — with symmetric
    # edges that is exactly min(least(doc_a, doc_b)) grouped by doc_a,
    # ONE aggregate over the checkpointed edges. The unfused form paid
    # a distinct shuffle for the identity init plus iteration 1's
    # edge⟷label join; the fused form is one shuffle and one
    # checkpoint job, same labels1 values (node coverage identical:
    # every node appears as doc_a of the symmetric union).
    labels, prev_sum = _checkpoint_with_sum(
        edges.groupBy(F.col("doc_a").alias("doc_id")).agg(
            F.min(F.least(F.col("doc_a"), F.col("doc_b"))).alias("label")
        )
    )
    for _ in range(max_iters):
        prop = edges.join(
            labels, edges["doc_a"] == labels["doc_id"], "inner"
        ).select(F.col("doc_b").alias("doc_id"), "label")
        new_labels, new_sum = _checkpoint_with_sum(
            labels.select("doc_id", "label")
            .union(prop)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"))
        )
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} + 1 "
            "propagation steps (adversarially long chain?)"
        )
    return labels.select(
        F.col("doc_id").alias(id_col),
        F.col("label").alias("cluster_id"),
        (F.col("doc_id") == F.col("label")).alias("keep"),
    )


def closure_ctes(pairs_sql: str, a_col: str, b_col: str) -> str:
    """Recursive-CTE transitive closure over an undirected pair graph —
    the oracle twin of ``connected_components``. Consumers open with
    `WITH RECURSIVE {closure_ctes(...)}` and aggregate `reach` their
    own way (DEDUP_CLUSTERS_SQL, curation.CORPUS_NEARDUP_APPLY_SQL,
    similarity.EMBEDDING_CLUSTERS_SQL)."""
    return f"""pairs AS ({pairs_sql}),
edges AS (
    SELECT {a_col} AS s, {b_col} AS d FROM pairs
    UNION
    SELECT {b_col}, {a_col} FROM pairs
),
reach(s, d) AS (
    SELECT s, s FROM (SELECT DISTINCT s FROM edges)
    UNION
    SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
)"""


CLUSTERS_CLOSURE_CTES = closure_ctes(NGRAM_JACCARD_SQL, "doc_a", "doc_b")

DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {CLUSTERS_CLOSURE_CTES}
SELECT s AS doc_id, MIN(d) AS cluster_id,
       s = MIN(d) AS keep
FROM reach GROUP BY s
"""


# --- incremental near-dup ingest ---------------------------------------------
# Deterministic corpus/batch split for the oracle-checkable entry: docs
# with doc_id >= this play the "new batch" (the curation module's
# INGEST_SPLIT_ID convention).
NEARDUP_INGEST_SPLIT = 400


def build_neardup_index(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    max_doc_id: int | None = None,
) -> None:
    """Persist the near-dup mining state of a corpus — the index a
    100 TB pipeline maintains so an ingest batch NEVER re-mines the
    existing corpus. Three tables under ``index_dir``:

    - ``bands``: the MinHash-LSH (doc_id, band, key) rows — what a new
      batch probes for cross candidates (same ``_lsh_band_table`` as
      the inline miner, so candidate semantics cannot drift);
    - ``shingles``: (doc_id, sh array<long>) — the verification side:
      exact Jaccard of a cross candidate needs the corpus doc's
      shingle set, and storing it (≈ 8 bytes/token) beats re-shingling
      the document payload at every ingest;
    - ``shingle_df``: (s, df) per-shingle document frequency — lets an
      ingest rebuild the COMBINED-corpus df cap with only a broadcast
      of the batch's df (see ``neardup_ingest``), keeping the cap
      semantics identical to the full-corpus miner's.

    ``max_doc_id`` restricts the indexed corpus (used by tests to
    stage the corpus/batch split on one table). Maintenance contract:
    after an ingest is accepted, append the batch's rows to all three
    tables (each is a per-doc / per-shingle increment — nothing global
    needs recomputation).
    """
    docs = _docs(spark, sf_dir)
    if max_doc_id is not None:
        docs = docs.filter(F.col("doc_id") < max_doc_id)
    _shingled_docs(docs).write.mode("overwrite").parquet(
        f"{index_dir}/shingles"
    )
    idx = (
        spark.read.parquet(f"{index_dir}/shingles")
        .select("doc_id", F.explode("sh").alias("s"))
    )
    _lsh_band_table(minhash_signatures(idx)).write.mode("overwrite").parquet(
        f"{index_dir}/bands"
    )
    idx.groupBy("s").agg(F.count(F.lit(1)).alias("df")).write.mode(
        "overwrite"
    ).parquet(f"{index_dir}/shingle_df")


def neardup_ingest(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    split_id: int = NEARDUP_INGEST_SPLIT,
) -> DataFrame:
    """Near-dup pairs an ingest batch introduces — against the EXISTING
    corpus (via the persisted ``build_neardup_index``) and within
    itself — without re-mining the corpus. Output: exactly the
    full-corpus ``dedup_minhash_lsh`` pairs that touch a batch doc
    (pinned by the agreement pytest), i.e. (doc_a, doc_b, jaccard)
    with doc_b in the batch.

    Work shape (the reason this op exists): every SHUFFLE is
    batch-sized or candidate-sized —

    - batch shingling/signatures/bands: one pass over the batch;
    - cross candidates: the batch's band rows BROADCAST against a scan
      of the index's band table — the corpus is scanned, never
      shuffled, and at a bucketed/partitioned band layout the scan
      prunes too;
    - the df cap: the batch's per-shingle df (tiny) broadcast against
      a scan of the index's ``shingle_df``, rebuilding the
      combined-corpus hot set exactly (corpus df + batch df > CAP ⇔
      the full miner's cap verdict on the union corpus);
    - verification: the shared ``_pair_counts`` posting-list
      intersector over ONLY the candidate docs' shingle rows (index
      rows semi-joined by the broadcast candidate set + the batch's).

    The full miner re-run costs O(corpus) shuffle per ingest; this
    costs O(batch + candidates) shuffle plus corpus-scan probes.
    """
    idx_bands = spark.read.parquet(f"{index_dir}/bands").filter(
        F.col("doc_id") < split_id
    )
    idx_shingles = spark.read.parquet(f"{index_dir}/shingles").filter(
        F.col("doc_id") < split_id
    )
    idx_df = spark.read.parquet(f"{index_dir}/shingle_df")
    return _neardup_probe(
        _docs(spark, sf_dir).filter(F.col("doc_id") >= split_id),
        idx_bands,
        idx_shingles,
        idx_df,
    )


def _neardup_probe(
    batch_docs: DataFrame,
    idx_bands: DataFrame,
    idx_shingles: DataFrame,
    idx_df: DataFrame,
    cached: dict | None = None,
) -> DataFrame:
    """The probe core of ``neardup_ingest`` over explicit index frames
    — shared with the streaming text-ingest loop
    (``streaming.corpus_ingest``), whose index is Hive-partitioned by
    ingest batch rather than split by a doc_id threshold. Same work
    shape as the wrapper's docstring; batch and index doc_id sets must
    be disjoint (the wrapper's split filter / the stream's own-batch
    partition exclusion both guarantee it). Pair orientation is
    (min doc_id, max doc_id) so index-vs-batch pairs are correct even
    when an index doc carries the HIGHER id — streaming shards make no
    id-ordering promise the split-threshold wrapper could rely on.

    ``cached`` (optional) collects every frame this probe pins in
    executor memory, keyed by name: the one-shot wrapper lets the
    session end reclaim them (the dedup-module cache policy), but a
    forever-stream calling this per batch MUST unpersist after writing
    the pairs or the caches accumulate across batches — the streaming
    gate passes a dict, REUSES ``batch_sh``/``batch_bands``/
    ``batch_df`` to write its index partitions (the probe already
    computed exactly those tables — re-deriving them would shingle
    the batch twice), then drains it."""

    def bounded(t: DataFrame, n: int) -> DataFrame:
        # every broadcast here is GUARDED (the HOT_BROADCAST_MAX
        # policy): batch tables are "tiny" only for sane batch sizes,
        # and a multi-million-doc ingest must degrade to a shuffle,
        # not a broadcast OOM
        return F.broadcast(t) if n <= HOT_BROADCAST_MAX else t

    batch_sh = _shingled_docs(batch_docs).cache()
    if cached is not None:
        cached["batch_sh"] = batch_sh
    batch_idx = batch_sh.select("doc_id", F.explode("sh").alias("s"))
    batch_bands = _lsh_band_table(minhash_signatures(batch_idx))
    batch_bands = batch_bands.cache()
    if cached is not None:
        cached["batch_bands"] = batch_bands
    n_bands = batch_bands.count()  # materialize: probed twice

    # The caller must hand in index frames DISJOINT from the batch
    # (the wrapper's split filter, the stream's own-partition
    # exclusion): index frames containing batch docs would feed their
    # rows in from BOTH sides — doubling posting-list intersection
    # counts (jaccard > 1) and duplicating batch-batch candidates.
    # The shingle-df side is softer: an idx_df that over-counts batch
    # contributions makes the cap stricter near SHINGLE_DF_CAP, which
    # drops postings and can MISS pairs the full miner would emit —
    # exact full-miner agreement needs the df of the corpus as it
    # existed before the batch.
    a, b = idx_bands.alias("a"), batch_bands.alias("b")
    cross = (
        a.join(
            bounded(b, n_bands),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    wa, wb = batch_bands.alias("a"), batch_bands.alias("b")
    within = (
        wa.join(
            wb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # disjoint by construction (cross pairs one index doc with one
    # batch doc; within pairs two batch docs; the id sets are disjoint)
    cands = cross.union(within).cache()
    if cached is not None:
        cached["cands"] = cands
    n_cands = cands.count()  # materialize: feeds the slice AND the final join
    cand_docs = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .union(cands.select("doc_b"))
        .distinct()
    )
    cand_b = bounded(cand_docs, 2 * n_cands)
    slice_sh = idx_shingles.join(cand_b, "doc_id", "semi").unionByName(
        batch_sh.join(cand_b, "doc_id", "semi")
    )
    # combined-corpus df cap: corpus df (persisted) + batch df
    batch_df = batch_idx.groupBy("s").agg(F.count(F.lit(1)).alias("bdf"))
    batch_df = batch_df.cache()
    if cached is not None:
        cached["batch_df"] = batch_df
    n_bdf = batch_df.count()  # materialize: hot's two branches race it
    hot = (
        idx_df.join(bounded(batch_df, n_bdf), "s", "left")
        .filter(
            (F.col("df") + F.coalesce(F.col("bdf"), F.lit(0)))
            > SHINGLE_DF_CAP
        )
        .select("s")
        .union(
            batch_df.filter(F.col("bdf") > SHINGLE_DF_CAP).select("s")
        )
        .distinct()
    )
    # the verifier caches the hot set internally (eagerly, at call
    # time); register it so the streaming gate's per-batch unpersist
    # reaches it too
    hot_caches: list = []
    pairs = _pair_counts(
        slice_sh, hot=hot, cached=hot_caches, min_jaccard=JACCARD_THRESHOLD
    ).join(bounded(cands, n_cands), ["doc_a", "doc_b"])
    if cached is not None:
        for i, fr in enumerate(hot_caches):
            cached[f"pair_hot_{i}"] = fr
    j = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return pairs.filter(j >= JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", F.round(j, 6).alias("jaccard")
    )
