"""Corpus-level unigram log-probability scorer: DuckDB oracle parity
(query registry capped at 50 entries), score semantics, and the
plan's exchange-reuse property."""

from __future__ import annotations

import math
import re

from pyspark.sql import functions as F

from fledge_south_csvplayback_spark.operators import text
from tests.conftest import ORACLE_SF_DIR, TEST_SF_DIR
from tests.oracle_harness import compare


def test_unigram_logprob_oracle_parity(spark):
    df = text.text_unigram_logprob(spark, TEST_SF_DIR)
    ok, msg = compare(df, text.TEXT_UNIGRAM_LOGPROB_SQL, TEST_SF_DIR)
    assert ok, msg


def test_unigram_logprob_oracle_parity_sf001(spark):
    df = text.text_unigram_logprob(spark, ORACLE_SF_DIR)
    ok, msg = compare(df, text.TEXT_UNIGRAM_LOGPROB_SQL, ORACLE_SF_DIR)
    assert ok, msg


def test_unigram_logprob_semantics(spark):
    """Hand-check one doc: mean over token OCCURRENCES of
    ln(corpus_count(tok) / corpus_total)."""
    rows = (
        spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    counts: dict[str, int] = {}
    total = 0
    for r in rows:
        for t in r.text.split(" "):
            counts[t] = counts.get(t, 0) + 1
            total += 1
    got = {
        r.doc_id: (r.n_tokens, r.mean_logprob)
        for r in text.text_unigram_logprob(spark, TEST_SF_DIR).collect()
    }
    assert set(got) == {r.doc_id for r in rows}
    probe = rows[0]
    toks = probe.text.split(" ")
    want = sum(math.log(counts[t] / total) for t in toks) / len(toks)
    n_tok, mean_lp = got[probe.doc_id]
    assert n_tok == len(toks)
    assert abs(mean_lp - round(want, 6)) <= 1e-6, (mean_lp, want)


def test_unigram_logprob_ranks_rare_below_common(spark):
    """A doc of globally-unique tokens must score below a doc built
    from the corpus's most common tokens — the signal the filter
    exists for."""
    df = text.text_unigram_logprob(spark, TEST_SF_DIR)
    stats = df.agg(F.min("mean_logprob"), F.max("mean_logprob")).collect()[0]
    assert stats[0] < stats[1]  # corpus has spread
    # rarest-vocabulary doc scores in the bottom half
    docs = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet").collect()
    counts: dict[str, int] = {}
    for r in docs:
        for t in r.text.split(" "):
            counts[t] = counts.get(t, 0) + 1
    rarest = min(
        docs,
        key=lambda r: sum(counts[t] for t in r.text.split(" "))
        / len(r.text.split(" ")),
    )
    scores = {r.doc_id: r.mean_logprob for r in df.collect()}
    med = sorted(scores.values())[len(scores) // 2]
    assert scores[rarest.doc_id] <= med


def test_unigram_logprob_reuses_vocab_exchange(spark):
    """The corpus total must be a second consumer of the vocabulary
    aggregate's shuffle (ReusedExchange), not a separate scan; and the
    1-row total joins via broadcast, never a cartesian. AQE inserts
    the reuse at runtime, so the query must EXECUTE before the final
    adaptive plan is inspected."""
    df = text.text_unigram_logprob(spark, TEST_SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row total


def test_top_ngrams_oracle_parity(spark):
    ok, msg = compare(
        text.text_top_ngrams(spark, TEST_SF_DIR),
        text.TEXT_TOP_NGRAMS_SQL,
        TEST_SF_DIR,
    )
    assert ok, msg


def test_top_ngrams_takeordered_not_full_sort(spark):
    """The global top-k must be TakeOrdered (each partition ships only
    its own k), never a full sort followed by a limit."""
    plan = (
        text.text_top_ngrams(spark, TEST_SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


# --- intra-document repetition signals ---------------------------------------
def test_repetition_oracle_parity(spark):
    df = text.text_repetition(spark, TEST_SF_DIR)
    ok, msg = compare(df, text.TEXT_REPETITION_SQL, TEST_SF_DIR)
    assert ok, msg


def test_repetition_oracle_parity_sf001(spark):
    df = text.text_repetition(spark, ORACLE_SF_DIR)
    ok, msg = compare(df, text.TEXT_REPETITION_SQL, ORACLE_SF_DIR)
    assert ok, msg


def test_repetition_planted(spark, tmp_path):
    """Hand-computed repetition fractions, including the three edge
    cases: duplicated lines (testdata has none — no newlines), an
    empty document (every denominator 0), and a gram whose char mass
    exceeds n_chars (the clip to 1.0)."""
    rows = [
        (0, "aa\naa\nbb", "en", "s", 1),   # 2 of 3 lines duplicated
        (1, "a b a b c", "en", "s", 1),    # "a b" twice: mass 6 of 9
        (2, "", "en", "s", 1),             # all denominators zero
        (3, "w w w w", "en", "s", 1),      # "w w" x3: mass 9 > 7 chars
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")
    got = {
        r.doc_id: (
            r.n_lines,
            r.dup_line_frac,
            r.dup_line_char_frac,
            r.top_gram_char_frac,
            r.dup_gram_char_frac,
        )
        for r in text.text_repetition(spark, sf_dir).collect()
    }
    assert got[0] == (3, 0.666667, 0.666667, 0.0, 0.0)
    assert got[1] == (1, 0.0, 0.0, 0.666667, 0.666667)
    assert got[2] == (1, 0.0, 0.0, 0.0, 0.0)
    assert got[3] == (1, 0.0, 0.0, 1.0, 1.0)
    ok, msg = compare(
        text.text_repetition(spark, sf_dir), text.TEXT_REPETITION_SQL, sf_dir
    )
    assert ok, msg


def test_repetition_plan_two_exchanges(spark):
    """One tagged explode + two hash aggregates: exactly the
    (doc_id, kind, item) and doc_id Exchanges — no join, no window,
    no per-doc quadratic array scan hiding as a third shuffle."""
    plan = text.text_repetition(
        spark, TEST_SF_DIR
    )._jdf.queryExecution().executedPlan().toString()
    exchanges = [
        line for line in plan.splitlines() if "Exchange hashpartitioning" in line
    ]
    assert len(exchanges) == 2, plan
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan


def test_repetition_hashed_equals_string_path(spark, tmp_path):
    """hashed=True (xxhash64 shuffle keys) must reproduce the string
    path exactly on the driver corpus and on the planted edge cases."""
    rows = [
        (0, "aa\naa\nbb", "en", "s", 1),
        (1, "a b a b c", "en", "s", 1),
        (2, "", "en", "s", 1),
        (3, "w w w w", "en", "s", 1),
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")
    for d in (TEST_SF_DIR, sf_dir):
        plain = sorted(
            map(tuple, text.text_repetition(spark, d, hashed=False).collect())
        )
        fast = sorted(
            map(tuple, text.text_repetition(spark, d, hashed=True).collect())
        )
        assert plain == fast, d


def test_repetition_hashed_ships_no_strings(spark):
    """With hashed=True the first Exchange's schema must not contain
    the gram string — only the 8-byte hash and the precomputed
    length cross the wire."""
    plan = text.text_repetition(
        spark, TEST_SF_DIR, hashed=True
    )._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "item_key" in line or "doc_id" in line, line
            assert "item#" not in line, line  # raw gram column never shuffles


# --- BM25 keyword search -----------------------------------------------------
def test_bm25_oracle_parity(spark):
    df = text.text_bm25_topk(spark, TEST_SF_DIR)
    ok, msg = compare(df, text.TEXT_BM25_SQL, TEST_SF_DIR)
    assert ok, msg


def test_bm25_oracle_parity_sf001(spark):
    df = text.text_bm25_topk(spark, ORACLE_SF_DIR)
    ok, msg = compare(df, text.TEXT_BM25_SQL, ORACLE_SF_DIR)
    assert ok, msg


def test_bm25_planted_hand_computed(spark, tmp_path):
    """Exact BM25 on a corpus small enough to compute by hand: known
    tf/df/dl/avgdl through the Robertson idf and k1/b normalization;
    zero-hit docs excluded; repetition beats single mention; rare term
    outranks common term."""
    import math

    rows = [
        (0, "spark join other words here", "en", "s", 1),   # both terms once
        (1, "spark spark spark pad pad", "en", "s", 1),     # tf=3 one term
        (2, "join alone pad pad pad", "en", "s", 1),        # rarer? see df
        (3, "no relevant words at all", "en", "s", 1),      # zero hits
        (4, "spark pad pad pad pad", "en", "s", 1),         # tf=1 one term
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")
    q = ("spark", "join")
    got = {
        r.doc_id: r.score
        for r in text.text_bm25_topk(spark, sf_dir, query=q, k=10).collect()
    }
    assert 3 not in got  # zero-hit doc never surfaces
    n, avgdl = 5.0, 5.0
    dfreq = {"spark": 3.0, "join": 2.0}
    k1, b = text.BM25_K1, text.BM25_B

    def bm25(tf_by_term, dl):
        s = 0.0
        for term, tf in tf_by_term.items():
            if tf > 0:
                idf = math.log(1 + (n - dfreq[term] + 0.5) / (dfreq[term] + 0.5))
                s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
        return round(s, 6)

    assert got[0] == bm25({"spark": 1, "join": 1}, 5)
    assert got[1] == bm25({"spark": 3}, 5)
    assert got[2] == bm25({"join": 1}, 5)
    assert got[4] == bm25({"spark": 1}, 5)
    assert got[1] > got[4]  # repetition beats single mention
    assert got[2] > got[4]  # rarer term (higher idf) beats commoner
    ok, msg = compare(
        text.text_bm25_topk(spark, sf_dir, query=q, k=10),
        text._bm25_sql(query=q, k=10),
        sf_dir,
    )
    assert ok, msg


def test_bm25_plan_two_scans_no_wide_shuffle(spark):
    """The literal-query shape: one stats scan + one scoring scan,
    ZERO wide exchanges, no explode, top-k via TakeOrderedAndProject
    (the posting-list formulation measured 3 scans + 3 hash exchanges
    because column pruning defeats tf-exchange reuse)."""
    df = text.text_bm25_topk(spark, TEST_SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString().split(
        "Initial Plan"
    )[0]
    assert plan.count("Scan parquet") == 2, plan
    assert not any(
        "Exchange hashpartitioning" in line for line in plan.splitlines()
    ), plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "Generate" not in plan, plan


def test_bm25_rejects_empty_query(spark):
    import pytest

    with pytest.raises(ValueError, match="query term"):
        text.text_bm25_topk(spark, TEST_SF_DIR, query=())
    with pytest.raises(ValueError, match="query term"):
        text._bm25_sql(query=())


def test_bm25_quoted_term_oracle_parity(spark, tmp_path):
    """A query term containing an apostrophe must survive the SQL
    literal (escaped) so parity holds for legitimate tokens."""
    rows = [
        (0, "don't panic it says", "en", "s", 1),
        (1, "plain words only here", "en", "s", 1),
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")
    q = ("don't", "panic")
    df = text.text_bm25_topk(spark, sf_dir, query=q, k=5)
    assert {r.doc_id for r in df.collect()} == {0}
    ok, msg = compare(df, text._bm25_sql(query=q, k=5), sf_dir)
    assert ok, msg


# --- corpus-wide boilerplate (repeated-line) scrub ---------------------------
def test_boilerplate_oracle_parity(spark):
    df = text.text_boilerplate_scrub(spark, TEST_SF_DIR)
    ok, msg = compare(df, text.TEXT_BOILERPLATE_SQL, TEST_SF_DIR)
    assert ok, msg


def test_boilerplate_oracle_parity_sf001(spark):
    df = text.text_boilerplate_scrub(spark, ORACLE_SF_DIR)
    ok, msg = compare(df, text.TEXT_BOILERPLATE_SQL, ORACLE_SF_DIR)
    assert ok, msg


_BOILER_DOCS = [
    # nav + cookie banner shared by 3 docs (df=3) around unique bodies
    (0, "NAV Home About\nunique zero body\nCOOKIE accept all"),
    (1, "NAV Home About\nunique one body\nCOOKIE accept all"),
    (2, "COOKIE accept all\nmiddle two text\nNAV Home About"),
    # doc made ENTIRELY of boilerplate -> text_cleaned = ''
    (3, "NAV Home About\nCOOKIE accept all"),
    # within-doc repeats of a corpus-unique line must NOT count toward
    # df (array_distinct collapse): df=1 here, nothing removed
    (4, "only in four\nonly in four\nonly in four"),
    # single-line doc, no newline at all
    (5, "a lone single line document"),
]


def _planted_dir(spark, tmp_path):
    sf_dir = str(tmp_path)
    spark.createDataFrame(_BOILER_DOCS, "doc_id long, text string").coalesce(
        1
    ).write.parquet(f"{sf_dir}/documents.parquet")
    return sf_dir


def test_boilerplate_planted(spark, tmp_path):
    """Hand-computed scrub on a planted shared-boilerplate corpus, plus
    the same DuckDB compare on the planted table."""
    sf_dir = _planted_dir(spark, tmp_path)
    out = {
        r.doc_id: r
        for r in text.text_boilerplate_scrub(spark, sf_dir, min_df=3).collect()
    }
    assert set(out) == set(range(6))
    nav, cookie = "NAV Home About", "COOKIE accept all"
    assert out[0].text_cleaned == "unique zero body"
    assert out[0].n_lines == 3 and out[0].removed_lines == 2
    assert out[0].removed_chars == len(nav) + len(cookie)
    assert out[2].text_cleaned == "middle two text"
    # all-boilerplate doc is emptied but still present with its audit
    assert out[3].text_cleaned == "" and out[3].removed_lines == 2
    # within-doc repetition alone never triggers corpus removal
    assert out[4].text_cleaned == "only in four\nonly in four\nonly in four"
    assert out[4].removed_lines == 0
    assert out[5].text_cleaned == "a lone single line document"
    ok, msg = compare(
        text.text_boilerplate_scrub(spark, sf_dir, min_df=3),
        text._boilerplate_sql(min_df=3),
        sf_dir,
    )
    assert ok, msg


def test_boilerplate_hashed_equals_string_path(spark, tmp_path):
    """hashed=True ships xxhash64(line) keys through the df aggregation
    and the membership set instead of line strings — output must be
    identical on the fixture corpora."""
    sf_dir = _planted_dir(spark, tmp_path)
    for d, df_min in ((TEST_SF_DIR, 2), (sf_dir, 3)):
        s = {
            tuple(r)
            for r in text.text_boilerplate_scrub(
                spark, d, min_df=df_min
            ).collect()
        }
        h = {
            tuple(r)
            for r in text.text_boilerplate_scrub(
                spark, d, min_df=df_min, hashed=True
            ).collect()
        }
        assert s == h


def test_boilerplate_broadcast_fallback_same_result(spark, monkeypatch):
    """Above BOILERPLATE_BROADCAST_MAX the membership join must fall
    back to a shuffle with identical output (forced to -1: the fixture
    boiler set is small, so 0 would still broadcast)."""
    base = {
        tuple(r)
        for r in text.text_boilerplate_scrub(spark, TEST_SF_DIR).collect()
    }
    monkeypatch.setattr(text, "BOILERPLATE_BROADCAST_MAX", -1)
    fb = {
        tuple(r)
        for r in text.text_boilerplate_scrub(spark, TEST_SF_DIR).collect()
    }
    assert fb == base


def test_boilerplate_plan_two_exchanges_no_self_join(spark):
    """The scrub never joins the corpus to itself: one fine-grained
    line-df aggregation Exchange, a guarded BroadcastHashJoin for the
    membership set, one doc_id reassembly Exchange — exactly two
    shuffle Exchanges at any corpus size."""
    df = text.text_boilerplate_scrub(spark, TEST_SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # the cached df-aggregation subplan prints its Final AND Initial
    # sections, so count distinct partitioning KEYS, not Exchange lines:
    # exactly the line-df key and the doc_id reassembly key
    keys = {
        m.group(1)
        for m in re.finditer(r"Exchange hashpartitioning\((\w+)#", plan)
    }
    assert keys == {"line", "doc_id"}, (keys, plan)


# --- corpus-wide repeated-span (ExactSubstr) scrub ---------------------------
def test_span_scrub_oracle_parity(spark):
    df = text.text_repeated_span_scrub(spark, TEST_SF_DIR)
    ok, msg = compare(df, text.TEXT_SPAN_SCRUB_SQL, TEST_SF_DIR)
    assert ok, msg


def test_span_scrub_oracle_parity_sf001(spark):
    df = text.text_repeated_span_scrub(spark, ORACLE_SF_DIR)
    ok, msg = compare(df, text.TEXT_SPAN_SCRUB_SQL, ORACLE_SF_DIR)
    assert ok, msg


_SPAN_DOCS = [
    # docs 0/1 share the 10-token run 'a..j' mid-document
    (0, "a b c d e f g h i j k l"),
    (1, "x1 x2 a b c d e f g h i j zz"),
    # within-doc repetition of a 10-gram (u1..u10 twice) counts too
    (2, " ".join([f"u{i}" for i in range(1, 11)] * 2 + ["tail"])),
    # unique doc and short doc pass through untouched
    (3, " ".join(f"v{i}" for i in range(1, 12))),
    (4, "short doc here"),
]


def _span_dir(spark, tmp_path):
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(d, t) for d, t in _SPAN_DOCS], "doc_id long, text string"
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")
    return sf_dir


def test_span_scrub_planted(spark, tmp_path):
    """Hand-computed ExactSubstr behavior on a planted corpus: the
    shared 10-gram vanishes from BOTH docs, a within-doc repeated
    10-gram is fully covered (both occurrences + the straddling
    windows), unique and short docs are untouched — and the same
    DuckDB compare passes on the planted table."""
    sf_dir = _span_dir(spark, tmp_path)
    out = {
        r.doc_id: r
        for r in text.text_repeated_span_scrub(spark, sf_dir).collect()
    }
    assert out[0].text_cleaned == "k l"
    assert out[0].removed_tokens == 10
    assert out[1].text_cleaned == "x1 x2 zz"
    # doc 2: u1..u10 u1..u10 tail — every window of the first 20
    # tokens is repeated-or-overlapping? the repeated gram 'u1..u10'
    # occurs at starts 0 and 10, covering tokens 1..20; 'tail' survives
    assert out[2].text_cleaned == "tail"
    assert out[2].removed_tokens == 20
    assert out[3].text_cleaned == _SPAN_DOCS[3][1]
    assert out[4].text_cleaned == "short doc here"
    ok, msg = compare(
        text.text_repeated_span_scrub(spark, sf_dir),
        text.TEXT_SPAN_SCRUB_SQL,
        sf_dir,
    )
    assert ok, msg


def test_span_scrub_hashed_equals_default(spark, tmp_path):
    sf_dir = _span_dir(spark, tmp_path)
    for d in (TEST_SF_DIR, sf_dir):
        a = {
            tuple(r)
            for r in text.text_repeated_span_scrub(spark, d).collect()
        }
        b = {
            tuple(r)
            for r in text.text_repeated_span_scrub(
                spark, d, hashed=True
            ).collect()
        }
        assert a == b


def test_span_scrub_plan_shape(spark):
    """Wide exchanges carry gram keys / (doc_id, pos) longs / the
    per-doc starts — and the reassembly joins the documents table via
    the guarded broadcast, so the corpus text crosses no Exchange."""
    df = text.text_repeated_span_scrub(spark, TEST_SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    keys = {
        m.group(1)
        for m in re.finditer(r"Exchange hashpartitioning\((\w+)#", plan)
    }
    assert keys <= {"gram_key", "doc_id"}, keys
    # the text column must not appear in any WIDE (hash-partitioned)
    # Exchange's output schema; the small-corpus fan-out's round-robin
    # repartition (fanout.spread, a no-op once input splits provide
    # parallelism) legitimately carries raw rows in the starved regime
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "text#" not in ln, ln


def test_boilerplate_null_text_doc_kept(spark, tmp_path):
    """A NULL-text document must still appear in the scrub output (as
    one empty line, nothing removed at high min_df) — review finding:
    posexplode of the un-coalesced split silently dropped it."""
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(0, "keep me\nNAV bar"), (1, None), (2, "NAV bar\nother")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")
    out = {
        r.doc_id: r
        for r in text.text_boilerplate_scrub(spark, sf_dir, min_df=2).collect()
    }
    assert set(out) == {0, 1, 2}
    assert out[1].n_lines == 1 and out[1].removed_lines == 0
    assert out[1].text_cleaned == ""
    assert out[0].text_cleaned == "keep me"  # NAV bar df=2 -> removed
    ok, msg = compare(
        text.text_boilerplate_scrub(spark, sf_dir, min_df=2),
        text._boilerplate_sql(min_df=2),
        sf_dir,
    )
    assert ok, msg


# --- BPE tokenization --------------------------------------------------------
def test_bpe_train_hand_computed(spark, tmp_path):
    """The classic Sennrich example shape: a corpus where 'lo' then
    'low' are the dominant pairs. Merges must come out in frequency
    order with lexicographic tie-breaks, deterministically."""
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(0, "low low low lower lowest"), (1, "low lower newest")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")
    merges = text.bpe_train(spark, sf_dir, n_merges=3)
    # 'l'+'o' appears in every word occurrence (8), the top pair;
    # then 'lo'+'w' (8); the third merge depends on remaining counts
    assert merges[0] == ("l", "o")
    assert merges[1] == ("lo", "w")
    assert len(merges) == 3
    assert merges == text.bpe_train(spark, sf_dir, n_merges=3)  # deterministic


def test_bpe_tokenize_counts(spark, tmp_path):
    """Distributed apply == a driver-side replica of the GPT-2 merge
    loop, and the structural bounds hold: one word is at least one
    token and at most len(word)+0 tokens (</w> never counts alone)."""
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [
            (0, "low low lower"),
            (1, "lowest newest"),
            (2, "zzz"),
            (3, None),
        ],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")
    merges = text.bpe_train(spark, sf_dir, n_merges=5)
    got = {
        r.doc_id: (r.n_ws_tokens, r.n_bpe_tokens)
        for r in text.text_bpe_tokenize(spark, sf_dir, merges).collect()
    }

    ranks = {tuple(p): i for i, p in enumerate(merges)}

    def replica(word):
        parts = list(word) + ["</w>"]
        while len(parts) > 1:
            cand = [
                (ranks[(parts[i], parts[i + 1])], i)
                for i in range(len(parts) - 1)
                if (parts[i], parts[i + 1]) in ranks
            ]
            if not cand:
                break
            _, i = min(cand)
            parts[i : i + 2] = [parts[i] + parts[i + 1]]
        return sum(1 for p in parts if p != "</w>")

    texts = {0: "low low lower", 1: "lowest newest", 2: "zzz", 3: None}
    for d, t in texts.items():
        words = (t or "").split()
        want = (len(words), sum(replica(w) for w in words))
        assert got[d] == want, (d, got[d], want)
    assert got[3] == (0, 0)  # NULL text = zero tokens, doc present


def test_bpe_tokenize_fixture_corpus(spark):
    r"""On the driver corpus: every doc present, n_bpe >= n_ws (a word
    is >= 1 token), n_ws agrees with text_stats' \S+ counting, and
    the default merge table actually compresses (total bpe count
    strictly below total word-character count)."""
    out = text.text_bpe_tokenize(spark, TEST_SF_DIR).collect()
    docs = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet").collect()
    assert len(out) == len(docs)
    words_of = {r.doc_id: (r.text or "").split() for r in docs}
    total_bpe = total_chars = 0
    for r in out:
        assert r.n_bpe_tokens >= r.n_ws_tokens
        assert r.n_ws_tokens == len(words_of[r.doc_id])
        total_bpe += r.n_bpe_tokens
        total_chars += sum(len(w) for w in words_of[r.doc_id])
    # character tokenization would give total_chars exactly; a trained
    # merge table must do strictly better
    assert total_bpe < total_chars, (total_bpe, total_chars)


def test_bpe_newline_separated_words_not_fused(spark, tmp_path):
    """Regression (review finding): a single-space split fused
    'hello\nworld' into one word — merges learned across line
    boundaries and n_ws_tokens contradicting text_stats."""
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(0, "hello\nworld"), (1, "hello world")], "doc_id long, text string"
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")
    out = {
        r.doc_id: (r.n_ws_tokens, r.n_bpe_tokens)
        for r in text.text_bpe_tokenize(
            spark, sf_dir, merges=text.bpe_train(spark, sf_dir, n_merges=5)
        ).collect()
    }
    assert out[0] == out[1]  # newline and space separate identically


# --- persisted inverted index (round-13 verdict item 6) ----------------------
def test_bm25_indexed_exact_agreement(spark, tmp_path):
    """The indexed scorer must be BIT-identical to the inline two-scan
    operator — same rounded scores, same tie order — for the default
    query and for a multi-term query including a term absent from the
    corpus (df=0 path)."""
    idx = str(tmp_path / "bm25_idx")
    text.build_bm25_index(spark, TEST_SF_DIR, idx)
    for q in (text.BM25_QUERY, ("filter", "shuffle", "zzz_not_a_term")):
        inline = [
            tuple(r) for r in text.text_bm25_topk(spark, TEST_SF_DIR, query=q).collect()
        ]
        indexed = [
            tuple(r)
            for r in text.text_bm25_topk_indexed(
                spark, TEST_SF_DIR, idx, query=q
            ).collect()
        ]
        assert indexed == inline, q
        assert inline  # non-vacuous: the default terms do occur


def test_bm25_indexed_prunes_partitions(spark, tmp_path):
    """The query reads only its terms' hash buckets: the index scan's
    PartitionFilters must carry the bucket membership predicate (the
    build_ivf_index partition-pruning contract, sparse-arm edition)."""
    idx = str(tmp_path / "bm25_idx_prune")
    text.build_bm25_index(spark, TEST_SF_DIR, idx)
    df = text.text_bm25_topk_indexed(spark, TEST_SF_DIR, idx)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert any(
        "PartitionFilters" in line and "bucket" in line
        for line in plan.splitlines()
    ), plan


def test_bm25_indexed_rejects_empty_query(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError, match="query term"):
        text.text_bm25_topk_indexed(spark, TEST_SF_DIR, "/nonexistent", query=())


def test_bm25_append_matches_rebuild(spark, tmp_path):
    """Incremental ingest contract: query results over a seed index
    plus an appended batch are BIT-identical to a full rebuild of
    seed+batch — posting rows append to their buckets, and the _stats
    sidecar recomposes from exact integer sums (n/n_dl/sum_dl), so
    avgdl cannot drift a ulp from the rebuild's F.avg."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet")
    seed = docs.filter(F.col("doc_id") < 300)
    batch = docs.filter(F.col("doc_id") >= 300)
    idx_app = str(tmp_path / "bm25_app")
    idx_full = str(tmp_path / "bm25_full")
    text.build_bm25_index(spark, TEST_SF_DIR, idx_app, docs=seed)
    text.append_bm25_index(spark, batch, idx_app)
    text.build_bm25_index(spark, TEST_SF_DIR, idx_full)
    s_app = spark.read.parquet(text.bm25_stats_dir(idx_app)).collect()[0]
    s_full = spark.read.parquet(text.bm25_stats_dir(idx_full)).collect()[0]
    assert (s_app["n"], s_app["n_dl"], s_app["sum_dl"], s_app["avgdl"]) == (
        s_full["n"], s_full["n_dl"], s_full["sum_dl"], s_full["avgdl"]
    )
    for q in (text.BM25_QUERY, ("filter", "shuffle")):
        got = [
            tuple(r)
            for r in text.text_bm25_topk_indexed(
                spark, TEST_SF_DIR, idx_app, query=q
            ).collect()
        ]
        want = [
            tuple(r)
            for r in text.text_bm25_topk_indexed(
                spark, TEST_SF_DIR, idx_full, query=q
            ).collect()
        ]
        assert got == want and got, q


def test_bm25_stats_swap_is_atomic(spark, tmp_path):
    """Round-13 verdict item 3: the append's ``_stats`` cutover is a
    versioned dir + atomic manifest promote, never an overwrite of the
    live dir. Pin each crash point (the test_corpus_ingest model): a
    staged-but-unpromoted ``_stats.v<k>`` and an orphaned tmp manifest
    are both invisible to the resolver and swept by the next append;
    at every step the resolved dir is a COMPLETE one-row parquet."""
    import os

    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet")
    idx = str(tmp_path / "bm25_atomic")
    text.build_bm25_index(spark, TEST_SF_DIR, idx, docs=docs.filter(F.col("doc_id") < 200))
    # fresh build: literal sidecar, no manifest yet
    assert text.bm25_stats_dir(idx) == f"{idx}/_stats"
    seed_stats = spark.read.parquet(text.bm25_stats_dir(idx)).collect()[0]

    # crash point 1: a staged version dir that was never promoted
    spark.createDataFrame(
        [(1.0, 1.0, 1.0, 1.0)], "n double, n_dl double, sum_dl double, avgdl double"
    ).write.parquet(f"{idx}/_stats.v9")
    # crash point 2: a tmp manifest that was never renamed
    with open(f"{idx}/_stats_MANIFEST.tmp", "w") as f:
        f.write("_stats.v9")
    # both leftovers invisible: resolver still names the live sidecar
    assert text.bm25_stats_dir(idx) == f"{idx}/_stats"
    got = spark.read.parquet(text.bm25_stats_dir(idx)).collect()[0]
    assert tuple(got) == tuple(seed_stats)

    # the next append sweeps the leftovers and promotes atomically
    text.append_bm25_index(
        spark, docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 300)), idx
    )
    assert not os.path.exists(f"{idx}/_stats.v9")
    assert not os.path.exists(f"{idx}/_stats_MANIFEST.tmp")
    cur = text.bm25_stats_dir(idx)
    assert os.path.basename(cur) == "_stats.v1"
    # deferred cleanup: the superseded literal dir survives THIS
    # promote (read stability for a racing reader)...
    assert os.path.isdir(f"{idx}/_stats")
    # ...and is swept by the NEXT append's promote
    text.append_bm25_index(
        spark, docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 400)), idx
    )
    assert os.path.basename(text.bm25_stats_dir(idx)) == "_stats.v2"
    assert not os.path.exists(f"{idx}/_stats")
    assert os.path.isdir(f"{idx}/_stats.v1")  # superseded one cycle ago: still readable
    # append-vs-rebuild bit-exactness still holds through the swaps
    idx_full = str(tmp_path / "bm25_atomic_full")
    text.build_bm25_index(
        spark, TEST_SF_DIR, idx_full, docs=docs.filter(F.col("doc_id") < 400)
    )
    s_app = spark.read.parquet(text.bm25_stats_dir(idx)).collect()[0]
    s_full = spark.read.parquet(text.bm25_stats_dir(idx_full)).collect()[0]
    assert tuple(s_app) == tuple(s_full)


def test_bm25_compact_preserves_results_and_pruning(spark, tmp_path):
    """compact_bm25_index (round-13 verdict item 4): appends grow ≥1
    file per touched bucket per batch; compaction folds them, the
    query's results stay BIT-identical, the bucket= layout (and the
    scan's PartitionFilters pruning) survives, and appends keep
    working against the promoted dir — including a SECOND compaction
    exercising the deferred sweep of both the root bucket dirs and
    the superseded version dir."""
    import os

    from pyspark.sql import functions as F

    def n_parquet_files(d):
        return sum(
            1
            for root, _, fs in os.walk(d)
            for f in fs
            if f.endswith(".parquet")
        )

    docs = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet")
    idx = str(tmp_path / "bm25_cmp")
    text.build_bm25_index(spark, TEST_SF_DIR, idx, docs=docs.filter(F.col("doc_id") < 200))
    for lo in range(200, 450, 50):  # five appended micro-batches
        text.append_bm25_index(
            spark,
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 50)),
            idx,
        )
    before = [
        tuple(r)
        for r in text.text_bm25_topk_indexed(spark, TEST_SF_DIR, idx).collect()
    ]
    files_before = n_parquet_files(text.bm25_postings_dir(idx))
    n_after = text.compact_bm25_index(spark, idx)
    assert os.path.basename(text.bm25_postings_dir(idx)) == "_postings.v1"
    assert n_after < files_before
    after = [
        tuple(r)
        for r in text.text_bm25_topk_indexed(spark, TEST_SF_DIR, idx).collect()
    ]
    assert after == before
    # pruning survives the promoted layout
    plan = (
        text.text_bm25_topk_indexed(spark, TEST_SF_DIR, idx)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert any(
        "PartitionFilters" in line and "bucket" in line
        for line in plan.splitlines()
    ), plan
    # root bucket dirs survive the FIRST compaction (read stability)
    assert any(x.startswith("bucket=") for x in os.listdir(idx))
    # append lands in the promoted dir; a second compaction sweeps the
    # root layout and the superseded version, and results still match
    # a full rebuild
    text.append_bm25_index(
        spark, docs.filter((F.col("doc_id") >= 450) & (F.col("doc_id") < 500)), idx
    )
    text.compact_bm25_index(spark, idx)
    assert os.path.basename(text.bm25_postings_dir(idx)) == "_postings.v2"
    assert not any(x.startswith("bucket=") for x in os.listdir(idx))
    assert os.path.isdir(f"{idx}/_postings.v1")  # deferred one cycle
    idx_full = str(tmp_path / "bm25_cmp_full")
    text.build_bm25_index(spark, TEST_SF_DIR, idx_full)  # doc_id < 500 = all
    got = [
        tuple(r)
        for r in text.text_bm25_topk_indexed(spark, TEST_SF_DIR, idx).collect()
    ]
    want = [
        tuple(r)
        for r in text.text_bm25_topk_indexed(spark, TEST_SF_DIR, idx_full).collect()
    ]
    assert got == want and got
