from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fledge_south_csvplayback_spark.session import get_spark

# Small-data unit tests: few shuffle partitions keeps each test fast.
TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return TEST_SF_DIR


@pytest.fixture(scope="session")
def fixture_dir():
    return FIXTURE_DIR


# Planted ragged documents: every shape the synthetic corpus (uniformly
# 10-99 tokens, never NULL) cannot produce. The round-10 gram-builder
# crash survived ten rounds precisely because no fixture contained a
# sub-NGRAM doc; every documents-table operator now runs over these
# (tests/test_hostile_docs.py). doc_ids start far above the corpus max.
HOSTILE_DOCS = [
    # (doc_id, text, lang, source)
    (9000000, "", "en", "src0"),                      # empty string
    (9000001, "one", "en", "src1"),                   # single token
    (9000002, "two tokens", "en", "src2"),            # NGRAM-1
    (9000003, "exactly three tokens", "en", "src3"),  # == NGRAM
    (9000004, None, "en", "src4"),                    # NULL text
    (9000005, "   ", "en", "src5"),                   # whitespace-only
    (9000006, "a  b", "en", "src6"),                  # empty mid-token
    (9000007, "six tokens for winnow edge case", "en", "src7"),  # == N+W-1
    (9000008, "a b c d e f g h i j k l m", "zh", "src8"),  # == DECON_NGRAM
    (9000009, "a b c d e f g h i j k l", "zh", "src9"),    # DECON_NGRAM-1
    (9000010, "", None, "src10"),                     # NULL lang, empty text
    (9000011, "solo", "fr", None),                    # NULL source
    # 9000048 % 97 == 0: a SHORT benchmark row (5 tokens < DECON_NGRAM)
    # so the adaptive decontamination window classes fire end-to-end
    # against the generic oracle, plus the doc that leaks it verbatim
    (9000048, "paris is the capital city", "en", "src11"),
    (
        9000049,
        "we all know that paris is the capital city according to "
        "the quiz answer key",
        "en",
        "src12",
    ),
]


@pytest.fixture(scope="session")
def hostile_sf_dir(tmp_path_factory):
    """A scale-factor dir whose documents table is sf0.001 UNION the
    planted ragged docs above, and whose embeddings table plants a
    zero-norm vector and a NULL embedding (the shapes a production
    encoder emits for empty/failed inputs — the round-11 sweep found
    every cosine op crashing on them); every other table symlinks
    sf0.001 so any registered query can run against it."""
    import duckdb

    out = tmp_path_factory.mktemp("hostile_sf")
    src = TEST_SF_DIR
    for t in "region nation customer supplier part orders lineitem".split():
        p = os.path.join(src, f"{t}.parquet")
        if os.path.exists(p):
            os.symlink(p, out / f"{t}.parquet")
    duckdb.sql(
        f"""
        COPY (
          SELECT * FROM read_parquet('{src}/embeddings.parquet')
          UNION ALL
          SELECT * FROM (VALUES
            (8000000::BIGINT, list_transform(range(64), x -> 0.0::FLOAT), 0),
            (8000001::BIGINT, NULL, 0)
          ) t(vec_id, embedding, label)
        ) TO '{out}/embeddings.parquet' (FORMAT PARQUET)
        """
    )
    # hostile events: anonymous (NULL user), NULL type/ts/value,
    # malformed/NULL props, and an exact (user, ts) tie — the shapes a
    # real clickstream delivers that the synthetic table never does
    duckdb.sql(
        f"""
        COPY (
          SELECT * FROM read_parquet('{src}/events.parquet')
          UNION ALL
          SELECT * FROM (VALUES
            (9000000::BIGINT, TIMESTAMP '2024-01-02 00:00:01', NULL, 'click', 1.0, '{{"k": 1}}'),
            (9000001::BIGINT, NULL, 5::BIGINT, 'click', 1.0, '{{"k": 2}}'),
            (9000002::BIGINT, TIMESTAMP '2024-01-02 00:00:02', 5::BIGINT, NULL, NULL, NULL),
            (9000003::BIGINT, TIMESTAMP '2024-01-02 00:00:03', 5::BIGINT, 'purchase', 2.5, 'not json'),
            (9000004::BIGINT, TIMESTAMP '2024-01-02 00:00:03', 5::BIGINT, 'click', 0.0, '{{}}')
          ) t(event_id, ts, user_id, event_type, value, props)
        ) TO '{out}/events.parquet' (FORMAT PARQUET)
        """
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE planted (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
        "source VARCHAR, n_chars BIGINT)"
    )
    con.executemany(
        "INSERT INTO planted VALUES (?, ?, ?, ?, ?)",
        [
            (i, t, lg, s, len(t) if t is not None else None)
            for i, t, lg, s in HOSTILE_DOCS
        ],
    )
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{src}/documents.parquet') "
        "UNION ALL SELECT * FROM planted ORDER BY doc_id) "
        f"TO '{out}/documents.parquet' (FORMAT PARQUET)"
    )
    con.close()
    return str(out)
