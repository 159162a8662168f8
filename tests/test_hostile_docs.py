"""Every documents-table operator over a corpus containing ragged docs.

The round-10 gram-builder crash (INVALID_ARRAY_INDEX_IN_ELEMENT_AT on
sub-NGRAM docs) survived ten rounds because the synthetic corpus is
uniformly 10-99 tokens and never NULL — the defect class was "input
shapes the fixtures never generate", not one operator. This module
closes the class: the ``hostile_sf_dir`` fixture (conftest) appends
empty / single-token / whitespace-only / NULL-text / NULL-lang /
NULL-source / boundary-length docs to the sf0.001 corpus, and every
operator that reads the documents table — registered or pytest-oracle
— runs over it against its own DuckDB oracle (which handles short docs
naturally: ``generate_series(1, len-k)`` is empty).

The sweep is mechanical so future documents-table operators are swept
automatically: any registered entry whose oracle SQL mentions
``documents``, plus any public module function with a same-named
``*_SQL`` constant mentioning ``documents`` and a
``(spark, sf_dir, **defaults)`` signature, plus an explicit list for
the handful whose SQL constant does not follow the naming convention.
A completeness guard fails if a known-documents SQL constant exists
with no swept consumer.
"""

from __future__ import annotations

import inspect

import pytest

from fledge_south_csvplayback_spark import registry
from fledge_south_csvplayback_spark.operators import (
    curation,
    dedup,
    events,
    multimodal,
    selection,
    similarity,
    text,
)
from tests.oracle_harness import compare

_MODULES = [text, curation, dedup, selection, similarity, multimodal, events]

# (name, fn, SQL) triples whose constant names do not line up
# mechanically with the function name; dedup_simhash appears twice
# because its classic and blocked oracles are both exact
_EXPLICIT = [
    ("text_repeated_span_scrub", text.text_repeated_span_scrub, text.TEXT_SPAN_SCRUB_SQL),
    ("text_bm25_topk", text.text_bm25_topk, text.TEXT_BM25_SQL),
    ("corpus_chunk_documents", curation.corpus_chunk_documents, curation.CORPUS_CHUNK_SQL),
    ("corpus_mixture_weights", curation.corpus_mixture_weights, curation.CORPUS_MIXTURE_SQL),
    ("quality_model_score", curation.quality_model_score, curation.QUALITY_MODEL_SQL),
    ("dedup_simhash_classic_oracle", dedup.dedup_simhash, dedup.SIMHASH_SQL),
    # de-registered in the round-13 dedup_neardup_pairs fold (the
    # union entry sweeps via registration); the constituent miner
    # keeps its own hostile sweep here
    ("dedup_ngram_jaccard", dedup.dedup_ngram_jaccard, dedup.NGRAM_JACCARD_SQL),
    ("image_neardup_pairs", multimodal.image_neardup_pairs, multimodal.IMAGE_NEARDUP_SQL),
    ("multimodal_image_resize_stats", multimodal.multimodal_image_resize_stats, multimodal.MULTIMODAL_IMAGE_RESIZE_SQL),
    # de-registered in the round-15 events_activity_suite fold: the
    # constituents keep their hostile sweep here (the de-registration
    # convention — the check moves, it never weakens)
    ("events_props_extract", events.events_props_extract, events.EVENTS_PROPS_SQL),
    ("events_hourly_rollup", events.events_hourly_rollup, events.EVENTS_HOURLY_SQL),
    # de-registered in the round-15 ann_cosine_topk_suite fold: the
    # brute constituent sweeps by convention (ANN_COSINE_TOPK_SQL);
    # sq8's shared-brute-SQL contract has no convention constant, so
    # its sweep rides here (same rule)
    ("ann_cosine_topk_sq8", similarity.ann_cosine_topk_sq8, similarity.ANN_COSINE_TOPK_SQL),
]


def _hostile_table(sql: str) -> bool:
    """True if the oracle reads a table the hostile fixture mutates."""
    import re as _re

    return (
        "documents" in sql
        or "embeddings" in sql
        or _re.search(r"\bevents\b", sql) is not None
    )


def _sweepable(fn) -> bool:
    sig = inspect.signature(fn)
    ps = list(sig.parameters.values())
    return (
        len(ps) >= 2
        and ps[0].name == "spark"
        and ps[1].name == "sf_dir"
        and all(p.default is not inspect.Parameter.empty for p in ps[2:])
    )


def _collect() -> dict[str, tuple]:
    pairs: dict[str, tuple] = {}
    # 1) registered entries whose oracle reads documents or embeddings
    queries = registry.all_queries()
    for name, sql in registry.all_oracle_sql().items():
        if _hostile_table(sql):
            pairs[name] = (queries[name], sql)
    # 2) convention-named (fn, FN_SQL) pairs in the operator modules
    for m in _MODULES:
        for name, fn in inspect.getmembers(m, inspect.isfunction):
            if fn.__module__ != m.__name__ or name.startswith("_"):
                continue
            sql = getattr(m, name.upper() + "_SQL", None)
            if (
                isinstance(sql, str)
                and _hostile_table(sql)
                and name not in pairs
                and _sweepable(fn)
            ):
                pairs[name] = (fn, sql)
    # 3) the non-convention names
    for name, fn, sql in _EXPLICIT:
        pairs.setdefault(name, (fn, sql))
    return pairs


_PAIRS = _collect()


def test_sweep_is_complete():
    """Every module-level *_SQL constant that reads the documents table
    must be exercised by this sweep (as a swept pair or as the oracle
    of a registered documents entry) — a new documents-table operator
    cannot silently opt out of the ragged-docs check."""
    swept_sqls = {sql for _, sql in _PAIRS.values()}
    missing = []
    for m in _MODULES:
        for cname in dir(m):
            if not cname.endswith("_SQL") or cname.startswith("_"):
                continue
            sql = getattr(m, cname)
            if (
                isinstance(sql, str)
                and _hostile_table(sql)
                and sql not in swept_sqls
            ):
                missing.append(f"{m.__name__.split('.')[-1]}.{cname}")
    assert not missing, f"documents-table oracles not swept: {missing}"


@pytest.mark.parametrize("name", sorted(_PAIRS))
def test_hostile_oracle_parity(spark, hostile_sf_dir, name):
    fn, sql = _PAIRS[name]
    ok, msg = compare(fn(spark, hostile_sf_dir), sql, hostile_sf_dir)
    assert ok, f"{name}: {msg}"


def test_hostile_embeddings_indexed_variants(spark, hostile_sf_dir, tmp_path):
    """The persisted-index ANN paths on the hostile embeddings table
    (zero-norm + NULL vectors): builders exclude unsearchable rows
    (scorable semantics), queries run clean, and no hostile vec_id can
    appear in any result — a zero-norm vector has no cosine."""
    from fledge_south_csvplayback_spark.operators import similarity as S

    builders = [
        (S.build_ivf_index, S.ann_cosine_topk_ivf_indexed),
    ]
    for i, (build, query) in enumerate(builders):
        d = str(tmp_path / f"idx{i}")
        build(spark, hostile_sf_dir, d)
        rows = query(spark, hostile_sf_dir, d).collect()
        assert rows, build.__name__
        assert all(r.vec_id < 8000000 for r in rows), build.__name__
