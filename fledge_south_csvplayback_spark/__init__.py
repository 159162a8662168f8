"""PySpark-native analytics engine with the capabilities of
fledge-iot/fledge-south-csvplayback, rebuilt Spark-first.

The reference (/root/reference, Apache-2.0) is a rate-controlled CSV
playback south-plugin: chunked pandas CSV ingestion with a configurable
schema system, timestamp synthesis, missing-value handling, file
lifecycle management, and an offline ETL cleaning tool
(SURVEY.md §1-§2). This package re-expresses every one of those
behaviors as declarative DataFrame transforms (Catalyst-optimized,
whole-stage-codegen'd), plus the relational and LLM-data-pipeline
operator suite (dedup, similarity search, text analysis, multimodal
plumbing) a 100 TB training-data pipeline needs.

Layout:
    config.py      playback config (the reference's 20 keys, validated)
    session.py     SparkSession builder; local[N] sized from SPARK_GRAFT_CPUS
    schema.py      useColumns parser / explicit schema (csvplayback.py:601-649)
    sources/       CSV scan variants, file discovery (S1-S6)
    operators/     timestamps, cleaning, readings envelope, relational,
                   events, dedup, similarity, text, selection, curation,
                   multimodal, index compaction
    streaming/     rate-controlled playback, sinks, replay (ST1-ST7, S7-S10);
                   event-time windows; streaming corpus/media ingest
    etl.py         offline cleaning CLI (E1-E3)
    queries.py     driver-contract registrations (one line per operator)
"""

__version__ = "0.1.0"
