"""Query + oracle registrations for the driver correctness harness.

One ``register(...)`` call per implemented operator from SURVEY.md §2
(and the north-star extensions). Kept in a single module so the full
inventory is greppable in one place; the implementations live in the
operator modules.
"""

from __future__ import annotations

from fledge_south_csvplayback_spark.registry import register
from fledge_south_csvplayback_spark.operators import (
    clean_queries,
    csv_queries,
    curation,
    dedup,
    envelope_queries,
    events,
    multimodal,
    relational,
    selection,
    similarity,
    text,
    ts_queries,
)
from fledge_south_csvplayback_spark.streaming import stream_queries

# --- relational suite (SURVEY.md §2.3/§2.5/§2.7/§2.8 gap-fill) -------------
register("q1_pricing_summary", relational.q1_pricing_summary, relational.Q1_SQL)
register("q5_regional_revenue", relational.q5_regional_revenue, relational.Q5_SQL)
register("q3_shipping_priority", relational.q3_shipping_priority, relational.Q3_SQL)
register(
    "q_top_orders_per_priority",
    relational.q_top_orders_per_priority,
    relational.Q_WINDOW_SQL,
)
register("q_set_ops", relational.q_set_ops, relational.Q_SET_OPS_SQL)
register("q_top_customers", relational.q_top_customers, relational.Q_TOP_CUSTOMERS_SQL)
register("q_semi_anti_join", relational.q_semi_anti_join, relational.Q_SEMI_ANTI_SQL)
register("q1_rollup", relational.q1_rollup, relational.Q1_ROLLUP_SQL)

# --- event-stream operators (events table; SURVEY.md §2.3 range/as-of) ------
register("events_asof_click", events.events_asof_click, events.EVENTS_ASOF_SQL)
register(
    "events_sessionize", events.events_sessionize, events.EVENTS_SESSIONIZE_SQL
)
# Round-15 registry fold (COVERAGE.md selection rule): props extraction
# and the hourly rollup share the events fixture and fold into one
# part-tagged union built from the standalone operators' own grouped/agg
# builders (drift impossible by construction); the unmerged callables
# stay public + bench-named and keep the driver's value check in
# test_oracle_parity. The freed slot registers text_bm25_topk_indexed.
register(
    "events_activity_suite",
    events.events_activity_suite,
    events.EVENTS_ACTIVITY_SUITE_SQL,
)
# rotated in round 11 (slot freed by folding csv_pick_from_file into
# the csv_directory_codecs union): weekly cohort retention — exact SQL
# oracle held without a slot since round 8
register("events_retention", events.events_retention, events.EVENTS_RETENTION_SQL)

# --- dedup suite (documents table; training-pipeline extensions) ------------
register("dedup_exact", dedup.dedup_exact, dedup.DEDUP_EXACT_SQL)
# Round-13 registry fold (COVERAGE.md selection rule): the exact
# Jaccard and MinHash-LSH miners were two slots sharing ONE oracle SQL
# (they agree on the fixture by the pinned LSH margin property), so
# they ride one method-tagged union — both paths still value-checked
# per row; unmerged callables public + pytest-checked. The freed slot
# registers hybrid_topk_rrf below.
register(
    "dedup_neardup_pairs", dedup.dedup_neardup_pairs, dedup.DEDUP_NEARDUP_PAIRS_SQL
)
# The registered SimHash entry is the BLOCKED (Manku WWW'07) candidate
# scheme: the classic 8-band join's 256-value keyspace makes candidates
# ~N²/64 on uniform fingerprints (measured quadratic in BASELINE.md),
# so no registered plan should carry it at scale. The classic
# `dedup.dedup_simhash` stays public + pytest-oracle-checked for the
# higher-recall Hamming-6..12 niche (documented ≤~1e5 docs).
register("dedup_simhash", dedup.dedup_simhash_blocked, dedup.SIMHASH_BLOCKED_SQL)

# --- text analysis (documents table) ----------------------------------------
register("text_stats", text.text_stats, text.TEXT_STATS_SQL)
# rotated in round 6 (slot freed by the csv_directory_codecs fold): the
# corpus-wide repeated-line boilerplate scrub — the CCNet/RefinedWeb
# stage the round-5 verdict ranked the #1 remaining gap
register(
    "text_boilerplate_scrub",
    text.text_boilerplate_scrub,
    text.TEXT_BOILERPLATE_SQL,
)
# Round-14 registry fold (COVERAGE.md selection rule): lang_id,
# token_classes and fingerprint are three one-scan projections over
# the same documents fixture with disjoint output columns, so they
# ride ONE wide single-scan entry — every constituent column still
# value-checked per row, and the suite selects the SAME column
# builders the standalone operators do (drift impossible by
# construction). Unmerged callables stay public + pytest-oracle-
# checked; the two freed slots register text_normalize and
# ann_cosine_topk_sq8 below.
register("text_profile_suite", text.text_profile_suite, text.TEXT_PROFILE_SUITE_SQL)
# rotated in round 14 (slot freed by the text_profile_suite fold): the
# standalone CCNet/Dolma normalization pass — benched since round 9,
# previously pytest-oracle only
register("text_normalize", text.text_normalize, text.TEXT_NORMALIZE_SQL)
# rotated in round 10 (slot freed by the ts_current_time_stamping
# fold): HTML/markup extraction — the stage a web corpus runs before
# text_normalize, and the largest cross-engine regex surface in the
# repo (subtree drops, block newlines, entity decode order)
register(
    "text_html_extract",
    text.text_html_extract,
    text.TEXT_HTML_EXTRACT_SQL,
)
# rotated in round 11 (slot freed by the csv_explicit_suite fold):
# corpus-wide top-k n-grams — registered right after its round-11
# totality fix (short/empty/NULL docs) so the driver value-checks the
# repaired gram builder end-to-end
register("text_top_ngrams", text.text_top_ngrams, text.TEXT_TOP_NGRAMS_SQL)

# --- data selection (documents table; round-7 rotation fills the two
# slots freed by the W3 interpolation fold) ----------------------------------
# registered with share_scan=False pinned: the two-declarative-scan
# shape is the 100×-scale plan (the localCheckpoint variant loses the
# 10M probe AND re-enters the plan as Scan ExistingRDD, tripping the
# global plan-hygiene pin) — round-8 verdict item 1. Measured at 10M
# docs (BASELINE.md §Round 9): logweights 78.9 s / 211 MB shuffle,
# +71 s for the TakeOrdered select, planted target slice boosted
# +4.7 nats over raw web — where the checkpoint variant dies on
# unified memory.
register(
    "corpus_dsir_select",
    selection.corpus_dsir_select_registered,
    selection.DSIR_SELECT_SQL,
)
register(
    "corpus_source_divergence",
    selection.corpus_source_divergence,
    selection.CORPUS_SOURCE_DIVERGENCE_SQL,
)
# rotated in round 9 (slot freed by the reading_envelope fold): the
# deterministic global shuffle — exact SQL oracle, benched since
# round 7, 10M probe row in BASELINE.md §Round 9
register(
    "corpus_shuffle_order",
    curation.corpus_shuffle_order,
    curation.CORPUS_SHUFFLE_ORDER_SQL,
)
# rotated in round 9 (slot freed by the rolling-fill fold): the
# crawl-over-crawl snapshot diff — exact SQL oracle (DuckDB rebuilds
# the synthetic next crawl + FULL OUTER JOIN), benched since round 9
register(
    "corpus_snapshot_diff",
    curation.corpus_snapshot_diff,
    curation.SNAPSHOT_DIFF_SQL,
)
# rotated in round 11 (slot freed by the ts_copy_move fold): the
# per-language dataset-card profile — exact SQL oracle held without a
# slot since round 7
register("corpus_profile", curation.corpus_profile, curation.CORPUS_PROFILE_SQL)

# --- similarity search (embeddings table) -----------------------------------
# Round-15 registry fold #2 (COVERAGE.md selection rule; the
# dedup_neardup_pairs precedent): the brute entry and the round-14
# SQ8 entry shared ONE oracle SQL (sq8's rescored-equals-brute
# equality IS its contract — test_sq8_topk_matches_brute), so they
# ride one method-tagged union; both paths still value-checked per
# row. The freed slot registers ann_cosine_topk_ivf_indexed below.
register(
    "ann_cosine_topk_suite",
    similarity.ann_cosine_topk_suite,
    similarity.ANN_COSINE_TOPK_SUITE_SQL,
)
register(
    "ann_cosine_topk_lsh",
    similarity.ann_cosine_topk_lsh,
    similarity.ANN_COSINE_TOPK_LSH_SQL,
)
register(
    "ann_cosine_topk_ivf",
    similarity.ann_cosine_topk_ivf,
    similarity.ANN_COSINE_TOPK_IVF_SQL,
)
# rotated in round 15 (slot freed by the ann_cosine_topk fold above):
# the persisted-IVF deployment path — build (head-rule quantizer
# persisted under _centroids, partitionBy(cell_id) layout) + pruned
# query in one self-contained call (the text_bm25_topk_indexed shape),
# gated against the INLINE entry's SQL so the exact
# indexed-equals-inline claim sits under the driver's own hash.
register(
    "ann_cosine_topk_ivf_indexed",
    similarity.ann_cosine_topk_ivf_via_index,
    similarity.ANN_COSINE_TOPK_IVF_SQL,
)
register(
    "embedding_cosine_pairs",
    similarity.embedding_cosine_pairs,
    similarity.EMBEDDING_COSINE_PAIRS_SQL,
)

# --- multimodal plumbing (binary payload + mapInPandas) ---------------------
register(
    "multimodal_features",
    multimodal.multimodal_features,
    multimodal.MULTIMODAL_FEATURES_SQL,
)
# Round-9 registry rotation (COVERAGE.md selection rule: scale-safe /
# highest-value variant per family): the REAL raster decode — PPM P6
# parse + pixel sums + dHash over a declaratively-built binary payload
# — replaces the frame-sample slice of the same multimodal fixture
# family.
register(
    "multimodal_image_stats",
    multimodal.multimodal_image_stats,
    multimodal.MULTIMODAL_IMAGE_STATS_SQL,
)

# --- CSV source layer (SURVEY.md §2.1 S3-S5, §1.4) --------------------------
# Round-11 registry fold (COVERAGE.md selection rule): the full and
# subset explicit-schema scans — same typed.csv fixture, same spec
# parser — fold into ONE variant-tagged union, freeing the slot that
# registers text_top_ngrams above; unmerged callables stay public +
# pytest-oracle-checked. Round 13 folds the S4 skip-rows/header-at-
# index scan in as the NULL-padded `variant_skiprows` member (freeing
# the slot that registers corpus_neardup_keep_best below).
register(
    "csv_explicit_suite",
    csv_queries.csv_explicit_suite,
    csv_queries.CSV_EXPLICIT_SUITE_SQL,
)
register("csv_ragged_map", csv_queries.csv_ragged_map, csv_queries.CSV_RAGGED_SQL)
# Round-6 registry rotation (COVERAGE.md records the selection rule):
# the directory-union and gz+bz2-codec scans verify adjacent §2.1
# surface over the same fixture family, so they fold into ONE entry —
# every constituent scan stays distinguishable via the `src` tag, the
# unmerged callables stay public and pytest-covered — freeing a slot
# for the corpus-wide boilerplate scrub below. Round 11 folds the
# plain single-file scan (csv_pick_from_file) in as the `file` member,
# freeing the slot that registers events_retention above.
register(
    "csv_directory_codecs",
    csv_queries.csv_directory_codecs,
    csv_queries.CSV_DIRECTORY_CODECS_SQL,
)

# --- timestamp synthesis T1-T5 (SURVEY.md §2.4) -----------------------------
# Round-11 registry fold (COVERAGE.md selection rule): T3 copy and T4
# move — same fixture, same strptime conversion, differing only in
# whether the source column survives (NULL-tagged in the union) —
# fold into ONE mode-tagged entry, freeing the slot that registers
# corpus_profile above; unmerged callables stay public +
# pytest-oracle-checked.
register(
    "ts_copy_move_csv_value",
    ts_queries.ts_copy_move_csv_value,
    ts_queries.TS_COPY_MOVE_SQL,
)
# Round-10 registry fold (COVERAGE.md selection rule): burst and
# continuous stamping share the vibration fixture and output schema,
# differing only in the within-chunk spread, so they fold into ONE
# mode-tagged union (the csv_directory_codecs pattern); the unmerged
# callables stay public + pytest-oracle-checked. The freed slot
# registers `text_html_extract` below.
register(
    "ts_current_time_stamping",
    ts_queries.ts_current_time_stamping,
    ts_queries.TS_CURRENT_TIME_SQL,
)
register("ts_sample_delta", ts_queries.ts_sample_delta, ts_queries.TS_DELTA_SQL)

# --- reading envelope (§1.1, csvplayback.py:760-771) ------------------------
# Round-9 registry fold (COVERAGE.md selection rule): both envelope
# queries emit the same (asset, timestamp, datapoint, value) schema
# over the same §1.1 fixture family and the asset tag keeps every
# constituent row hash-distinguishable, so they fold into ONE union
# entry (the csv_directory_codecs pattern); the unmerged callables
# stay public + pytest-oracle-checked. The freed slot registers
# `corpus_shuffle_order` below.
register(
    "reading_envelope_suite",
    envelope_queries.reading_envelope_suite,
    envelope_queries.READING_ENVELOPE_SUITE_SQL,
)

# --- cleaning / NaN repair (SURVEY.md §2.5 A1-A2, §2.6 W1-W3, §2.12 E1-E2) --
register(
    "clean_null_report",
    clean_queries.clean_null_report,
    clean_queries.CLEAN_NULL_REPORT_SQL,
)
# Round-12 registry fold (COVERAGE.md selection rule; extends the
# round-7 W3 and round-9 W1/W2 folds): the rolling-fill, interpolation,
# and E2-repair entries all emit (ts, a, b) over the SAME dirty.csv
# fixture, so they fold into ONE method-tagged union — six methods
# (mean/median/linear/nearest/cubic/repair), every constituent
# hash-distinguishable, unmerged callables public + pytest-oracle-
# checked (test_clean + test_oracle_parity). The two freed slots
# register events_purchase_window and text_bm25_topk below.
register(
    "clean_fill_suite",
    clean_queries.clean_fill_suite,
    clean_queries.CLEAN_FILL_SUITE_SQL,
)
register(
    "clean_flatten_fledge_dump",
    clean_queries.clean_flatten_fledge_dump,
    clean_queries.CLEAN_FLATTEN_SQL,
)
# rotated in round 12 (first slot freed by the clean_fill_suite fold):
# the binned range join + per-anchor aggregate — the second-most
# expensive benched plan (plan-audited every round since 9), now
# driver value-checked end-to-end
register(
    "events_purchase_window",
    events.events_purchase_window,
    events.EVENTS_PURCHASE_WINDOW_SQL,
)
# rotated in round 12 (second slot freed by the same fold): BM25 top-k
# — the one text-retrieval scoring surface that held an exact oracle
# without a slot since round 8
register("text_bm25_topk", text.text_bm25_topk, text.TEXT_BM25_SQL)
# rotated in round 15 (slot freed by the events_activity_suite fold):
# the persisted-inverted-index BM25 deployment path — build + pruned
# query in one self-contained call, gated against the INLINE operator's
# SQL so the bit-exact indexed-equals-inline claim sits under the
# driver's own hash (it was pytest-only before)
register(
    "text_bm25_topk_indexed", text.text_bm25_topk_via_index, text.TEXT_BM25_SQL
)
# rotated in round 13 (slot freed by the dedup_neardup_pairs fold):
# hybrid sparse+dense retrieval with reciprocal-rank fusion — exact
# DuckDB oracle + bench row held since round 12
register(
    "hybrid_topk_rrf", similarity.hybrid_topk_rrf, similarity.HYBRID_TOPK_RRF_SQL
)
# rotated in round 13 (slot freed by the csv_explicit_suite skiprows
# fold): the quality-score near-dup representative election — exact
# DuckDB oracle + bench row held since round 12
register(
    "corpus_neardup_keep_best",
    curation.corpus_neardup_keep_best,
    curation.CORPUS_NEARDUP_KEEP_BEST_SQL,
)
# csv_metadata_datapoint is deliberately NOT registered: its S5 surface
# (metadata-header capture + merge) is already hash-verified end-to-end
# by reading_envelope_metadata, and the driver caps at 50 entries.

# --- streaming playback (ST1-ST7; wall-clock stamps => rows-only) -----------
# Registered last on purpose: these are the only rows-only entries, so
# if the driver ever truncates, the oracle-checked entries survive.
register("playback_stream_smoke", stream_queries.playback_stream_smoke, None)
register(
    "playback_burst_envelope", envelope_queries.playback_burst_envelope, None
)  # wall-clock stamps
