"""Standalone text normalization: oracle parity, planted rules,
corpus-wide idempotence."""

from __future__ import annotations

from fledge_south_csvplayback_spark.operators import text



# --- round-14 registry fold: profile suite + de-registered constituents ----
def test_text_profile_suite_oracle_parity(spark):
    """The folded wide entry (lang_id + token_classes + fingerprint in
    one scan) against its composed DuckDB SQL at both fixture scales."""
    from tests.conftest import ORACLE_SF_DIR, TEST_SF_DIR
    from tests.oracle_harness import compare

    for sf in (TEST_SF_DIR, ORACLE_SF_DIR):
        ok, msg = compare(
            text.text_profile_suite(spark, sf), text.TEXT_PROFILE_SUITE_SQL, sf
        )
        assert ok, msg


def test_text_profile_constituents_oracle_parity(spark):
    """The three de-registered standalone operators keep their own
    oracle checks in pytest (the de-registration rule: fold frees the
    driver slot, never the coverage)."""
    from tests.conftest import ORACLE_SF_DIR, TEST_SF_DIR
    from tests.oracle_harness import compare

    for fn, sql in (
        (text.text_lang_id, text.TEXT_LANG_ID_SQL),
        (text.text_token_classes, text.TEXT_TOKEN_CLASSES_SQL),
        (text.text_fingerprint, text.TEXT_FINGERPRINT_SQL),
    ):
        for sf in (TEST_SF_DIR, ORACLE_SF_DIR):
            ok, msg = compare(fn(spark, sf), sql, sf)
            assert ok, (fn.__name__, msg)


def test_text_profile_suite_matches_constituents(spark):
    """Column-level drift net: the suite's projection equals the three
    standalone outputs joined on doc_id — they share the same column
    builders, so this can only break if someone forks them."""
    from tests.conftest import TEST_SF_DIR

    suite = {r["doc_id"]: r.asDict() for r in text.text_profile_suite(spark, TEST_SF_DIR).collect()}
    for fn in (text.text_lang_id, text.text_token_classes, text.text_fingerprint):
        for r in fn(spark, TEST_SF_DIR).collect():
            d = r.asDict()
            for k, v in d.items():
                assert suite[d["doc_id"]][k] == v, (fn.__name__, k)
    # one scan, no shuffle, both the fold's point and its plan contract
    plan = (
        text.text_profile_suite(spark, TEST_SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


# --- standalone normalization ---------------------------------------------
def test_text_normalize_oracle_parity(spark):
    from tests.conftest import ORACLE_SF_DIR, TEST_SF_DIR
    from tests.oracle_harness import compare

    for sf in (TEST_SF_DIR, ORACLE_SF_DIR):
        ok, msg = compare(
            text.text_normalize(spark, sf), text.TEXT_NORMALIZE_SQL, sf
        )
        assert ok, msg


def test_text_normalize_planted_and_idempotent(spark, tmp_path):
    """Every rule class exercised on planted text; corpus-wide
    idempotence: normalize(normalize(x)) == normalize(x)."""
    from tests.conftest import TEST_SF_DIR

    import pyspark.sql.functions as F

    sf_dir = str(tmp_path)
    planted = (
        "“Sm‘art’ — dash”​\tand\x07  "
        "CONTROL\nlines﻿"
    )
    spark.createDataFrame(
        [(1, planted, "en", "s", 1), (2, "already clean", "en", "s", 1),
         (3, None, "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")
    rows = {r.doc_id: r for r in text.text_normalize(spark, sf_dir).collect()}
    assert rows[1].norm_text == '"sm\'art\' - dash" and control lines'
    assert rows[1].changed
    assert rows[2].norm_text == "already clean" and not rows[2].changed
    assert rows[3].norm_text is None and not rows[3].changed
    # idempotence over the real corpus: re-normalizing changes nothing
    once = text.text_normalize(spark, TEST_SF_DIR)
    twice = once.select(
        "doc_id", text.normalize_expr(F.col("norm_text")).alias("again"),
        "norm_text",
    )
    assert twice.filter(~F.col("again").eqNullSafe(F.col("norm_text"))).count() == 0


# --- HTML / markup extraction ----------------------------------------------
def test_text_html_extract_oracle_parity(spark):
    """Java-regex and RE2 run the identical rule chain over the
    identical planted-HTML fixture — any engine-semantics divergence
    in the shared-subset patterns is a value mismatch here."""
    from tests.conftest import ORACLE_SF_DIR, TEST_SF_DIR
    from tests.oracle_harness import compare

    for sf in (TEST_SF_DIR, ORACLE_SF_DIR):
        ok, msg = compare(
            text.text_html_extract(spark, sf), text.TEXT_HTML_EXTRACT_SQL, sf
        )
        assert ok, msg


def test_html_extract_planted_rules(spark):
    """Every extraction rule pinned on hand-written HTML: subtree
    drops, block newlines, inline strips, entity decode order (tags
    strip BEFORE entities decode; &amp; decodes last), whitespace
    tidy."""
    import pyspark.sql.functions as F

    cases = [
        # script/style/comment subtrees vanish entirely (case-insensitive,
        # multi-line, attribute-bearing)
        ("<SCRIPT type='x'>\nalert(1)<p></SCRIPT>after", "after"),
        ("<style>\np { a: b }\n</style>kept", "kept"),
        ("pre<!-- multi\nline\ncomment -->post", "pre post"),
        # block tags are paragraph breaks (adjacent close+open = one
        # blank line); inline tags strip silently
        ("<p>one</p><p>two</p>", "one\n\ntwo"),
        ("an <b>inline</b> and wo<i>r</i>d", "an inline and word"),
        ("<ul><li>a</li><li>b</li></ul>", "a\n\nb"),
        # literal markup survives as TEXT: tags strip before entities
        # decode, so &lt;b&gt; renders, not re-parses
        ("use &lt;b&gt; for bold", "use <b> for bold"),
        # one un-escape level only: &amp;lt; -> &lt;
        ("&amp;lt;", "&lt;"),
        ("5 &lt; 6 &nbsp;&amp;&amp; 7 &gt; 4", "5 < 6 && 7 > 4"),
        ("say &quot;hi&#39;s&quot; &apos;x&apos;", "say \"hi's\" 'x'"),
        # whitespace: CR/tab runs -> space, spaces fold into newlines,
        # 3+ newlines collapse to a blank line
        ("a \r\n\t b<br><br><br>c", "a\nb\n\nc"),
        (None, None),
    ]
    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(cases)], "doc_id long, html string"
    ).select("doc_id", text.html_extract_expr(F.col("html")).alias("got"))
    got = {r.doc_id: r.got for r in df.collect()}
    for i, (h, want) in enumerate(cases):
        assert got[i] == want, (h, got[i], want)


def test_html_extract_composes_with_normalize(spark):
    """extract -> normalize is the canonical order; the composed
    output is a fixed point of normalize (no double-transform drift
    when stages re-run)."""
    import pyspark.sql.functions as F
    from tests.conftest import TEST_SF_DIR

    ext = text.text_html_extract(spark, TEST_SF_DIR).select(
        "doc_id", text.normalize_expr(F.col("extracted")).alias("norm")
    )
    again = ext.select(
        "doc_id", "norm", text.normalize_expr(F.col("norm")).alias("again")
    )
    assert (
        again.filter(~F.col("again").eqNullSafe(F.col("norm"))).count() == 0
    )
