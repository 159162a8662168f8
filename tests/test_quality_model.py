"""Hashed-linear quality model: oracle parity, custom weights, and the
narrow-plan property."""

from __future__ import annotations

import hashlib
import math

import pytest

from fledge_south_csvplayback_spark.operators import curation
from tests.conftest import ORACLE_SF_DIR, TEST_SF_DIR
from tests.oracle_harness import compare


def test_quality_model_oracle_parity(spark):
    df = curation.quality_model_score(spark, TEST_SF_DIR)
    ok, msg = compare(df, curation.QUALITY_MODEL_SQL, TEST_SF_DIR)
    assert ok, msg


def test_quality_model_oracle_parity_sf001(spark):
    df = curation.quality_model_score(spark, ORACLE_SF_DIR)
    ok, msg = compare(df, curation.QUALITY_MODEL_SQL, ORACLE_SF_DIR)
    assert ok, msg


def test_quality_model_hand_computed(spark, tmp_path):
    """One doc scored by hand through the same md5 bucket scheme."""
    rows = [(0, "hello world", "en", "s", 11)]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")
    ws, bias = curation._qmodel_weights()
    s = 0.0
    for t in "hello world".split(" "):
        b = int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % curation.QMODEL_DIM
        s += ws[b]
    want = round(1.0 / (1.0 + math.exp(-(bias + s / 2))), 6)
    got = curation.quality_model_score(spark, sf_dir).collect()[0]
    assert abs(got.score - want) <= 1e-6, (got.score, want)
    assert got.keep == (want >= curation.QMODEL_KEEP_THRESHOLD)


def test_quality_model_custom_weights_and_validation(spark, tmp_path):
    rows = [(0, "aa bb", "en", "s", 5)]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")
    # all-positive weights push sigmoid above 0.5 -> keep
    got = curation.quality_model_score(
        spark, sf_dir, weights=[5.0] * curation.QMODEL_DIM, bias=0.0
    ).collect()[0]
    assert got.keep and got.score > 0.99
    with pytest.raises(ValueError):
        curation.quality_model_score(spark, sf_dir, weights=[1.0, 2.0])


def test_quality_model_plan_is_narrow(spark):
    """Scan + project only: no shuffle, no join, no UDF — the weight
    vector is a literal, the score is codegen'd."""
    df = curation.quality_model_score(spark, TEST_SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "InPandas" not in plan and "PythonRDD" not in plan
