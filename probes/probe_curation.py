#!/usr/bin/env python3
"""Scale probe for the corpus-curation operators (BASELINE.md rows).

Generates a synthetic multi-language corpus with a deliberately skewed
language mix (60% 'en' — the realistic worst case for per-language
work), then:

- ``sample``: the uniform hash sample — expected to run at scan speed
  with ZERO shuffle (the plan test pins Exchange-free; this pins the
  wall-clock claim).
- ``ab``: same-session INTERLEAVED A/B (the only trustworthy
  cross-variant comparison on this host, per BASELINE.md) of the
  shipped two-pass ``corpus_token_budget`` against the naive
  single-window formulation (``sum over (partition by lang order by
  bucket, doc_id)``), which at any scale funnels each language through
  ONE task. Asserts both variants select the identical doc set
  (count + checksum) before reporting timings.

Corpus: doc_id, lang (10-way hash: 6/10 en, 1/10 each de/es/fr/zh),
text of W words drawn from a 1M-word vocabulary via xxhash64 literals
(pure expressions, no driver loops). Cached under
/tmp/spark_graft_probe/curation_<N>_<W>/ like the dedup probe corpora.

Usage:
    python probes/probe_curation.py gen    --rows 10000000
    python probes/probe_curation.py sample --rows 10000000
    python probes/probe_curation.py ab     --rows 10000000 --reps 2
    python probes/probe_curation.py dedup_apply --rows 10000000
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fledge_south_csvplayback_spark.operators import curation
from probes._common import (
    PROBE_ROOT,
    probe_session,
    shuffle_delta,
    shuffle_write_bytes,
)

VOCAB = 1_000_000
LANGS = ["en", "en", "en", "en", "en", "en", "de", "es", "fr", "zh"]
BUDGET = 20_000_000  # tokens/lang: partial selection in every language


def corpus_dir(n: int, words: int) -> str:
    return f"{PROBE_ROOT}/curation_{n}_{words}"


def gen_corpus(spark: SparkSession, n: int, words: int) -> str:
    out = corpus_dir(n, words)
    path = f"{out}/documents.parquet"
    if os.path.exists(f"{path}/_SUCCESS"):
        return out
    word_cols = [
        F.concat(
            F.lit("w"),
            F.pmod(
                F.xxhash64(F.lit("cur"), F.col("doc_id"), F.lit(p)), F.lit(VOCAB)
            ),
        )
        for p in range(words)
    ]
    lang = F.element_at(
        F.lit(LANGS), F.pmod(F.xxhash64(F.lit("lang"), F.col("doc_id")), 10)
        .cast("int") + 1
    )
    df = (
        spark.range(n)
        .select(F.col("id").alias("doc_id"))
        .select(
            "doc_id",
            lang.alias("lang"),
            F.lit("probe").alias("source"),
            F.concat_ws(" ", *word_cols).alias("text"),
        )
    )
    df.repartition(64).write.mode("overwrite").parquet(path)
    return out


def naive_token_budget(
    spark: SparkSession, sf_dir: str, budget: int
) -> DataFrame:
    """The rejected formulation: one running-sum window partitioned by
    lang alone — semantically identical, but every language's rows
    funnel through a single task (here 6M 'en' rows through one of 32
    cores; at 100 TB, ~60 TB through one executor thread)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        "lang",
        F.size(F.split(F.col("text"), " ")).alias("n_tok"),
        curation._bucket(F.col("doc_id")).alias("bucket"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("bucket", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        docs.withColumn("cum_tok", F.sum("n_tok").over(w))
        .filter(F.col("cum_tok") <= budget)
        .select("doc_id", "lang", "n_tok", "cum_tok")
    )


def checksum(df: DataFrame) -> tuple[int, int]:
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.col("doc_id") + F.col("cum_tok")), F.lit(0)).alias(
            "s"
        ),
    ).collect()[0]
    return int(r["n"]), int(r["s"])


def timed(spark: SparkSession, df: DataFrame) -> tuple[float, int]:
    before = shuffle_write_bytes(spark)
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    wall = round(time.perf_counter() - t0, 1)
    return wall, shuffle_delta(before, shuffle_write_bytes(spark))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "op",
        choices=[
            "gen",
            "sample",
            "ab",
            "dedup_apply",
            "repetition",
            "repetition_ab",
            "chunk",
            "bm25",
            "diff",
            "normalize",
            "profile",
            "top_ngrams",
        ],
    )
    ap.add_argument("--rows", type=int, default=10_000_000)
    ap.add_argument("--words", type=int, default=25)
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()

    spark = probe_session(f"probe_curation_{args.op}")
    t0 = time.perf_counter()
    sf_dir = gen_corpus(spark, args.rows, args.words)
    gen_sec = round(time.perf_counter() - t0, 1)
    if args.op == "gen":
        print(json.dumps({"op": "gen", "rows": args.rows, "sec": gen_sec}))
        spark.stop()
        return

    if args.op == "dedup_apply":
        # keep-first window over the full corpus: one fingerprint-keyed
        # exchange of 10M rows (text column included in the shuffle -
        # the honest cost of windowing the document payload; a
        # fingerprint-only pre-pass would scan twice instead)
        wall, shuf = timed(spark, curation.corpus_dedup_apply(spark, sf_dir))
        print(
            json.dumps(
                {
                    "op": "dedup_apply",
                    "rows": args.rows,
                    "sec": wall,
                    "shuffle_bytes": shuf,
                }
            )
        )
        spark.stop()
        return

    if args.op == "repetition":
        # one tagged explode (24 grams + 1 line per 25-word doc: ~250M
        # exploded rows at 10M docs) + two fine-grained hash aggregates
        from fledge_south_csvplayback_spark.operators import text as text_ops

        wall, shuf = timed(spark, text_ops.text_repetition(spark, sf_dir))
        print(
            json.dumps(
                {
                    "op": "repetition",
                    "rows": args.rows,
                    "sec": wall,
                    "shuffle_bytes": shuf,
                }
            )
        )
        spark.stop()
        return

    if args.op == "repetition_ab":
        # same-session interleaved A/B (BASELINE.md noise protocol):
        # string-keyed vs xxhash64-keyed first Exchange; value equality
        # asserted on a checksum before any timing is trusted
        from fledge_south_csvplayback_spark.operators import text as text_ops

        plain = text_ops.text_repetition(spark, sf_dir, hashed=False)
        fast = text_ops.text_repetition(spark, sf_dir, hashed=True)

        def rep_checksum(df: DataFrame) -> tuple:
            r = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("top_gram_char_frac"), 3).alias("a"),
                F.round(F.sum("dup_gram_char_frac"), 3).alias("b"),
            ).collect()[0]
            return int(r["n"]), float(r["a"]), float(r["b"])

        c1, c2 = rep_checksum(plain), rep_checksum(fast)
        # row counts exact; the 10M-row double sums get a tolerance —
        # the two plans reduce in different orders, so a sum landing on
        # a rounding boundary would flip the last digit spuriously
        # (pytest pins exact row-level equality on fixtures)
        assert c1[0] == c2[0], f"hashed row count mismatch: {c1} != {c2}"
        assert abs(c1[1] - c2[1]) < 0.01 and abs(c1[2] - c2[2]) < 0.01, (c1, c2)
        walls = {"string": [], "hashed": []}
        shufs = {}
        for _ in range(args.reps):
            w, s = timed(spark, plain)
            walls["string"].append(w)
            shufs["string"] = s
            w, s = timed(spark, fast)
            walls["hashed"].append(w)
            shufs["hashed"] = s
        print(
            json.dumps(
                {
                    "op": "repetition_ab",
                    "rows": args.rows,
                    "string_sec_min": min(walls["string"]),
                    "hashed_sec_min": min(walls["hashed"]),
                    "string_shuffle_bytes": shufs["string"],
                    "hashed_shuffle_bytes": shufs["hashed"],
                    "reps": args.reps,
                }
            )
        )
        spark.stop()
        return

    if args.op == "bm25":
        # two scans, zero wide shuffle: the claim to verify at 10M is
        # that wall tracks scan speed and shuffle stays ~0
        from fledge_south_csvplayback_spark.operators import text as text_ops

        wall, shuf = timed(
            spark,
            text_ops.text_bm25_topk(spark, sf_dir, query=("w1", "w2", "w3")),
        )
        print(
            json.dumps(
                {
                    "op": "bm25",
                    "rows": args.rows,
                    "sec": wall,
                    "shuffle_bytes": shuf,
                }
            )
        )
        spark.stop()
        return

    if args.op == "chunk":
        # 8-token chunks, stride 6 over 25-word docs: ~4 chunks/doc so
        # the posexplode actually fans out; must stay scan-speed narrow
        wall, shuf = timed(
            spark,
            curation.corpus_chunk_documents(
                spark, sf_dir, chunk_tokens=8, stride=6
            ),
        )
        print(
            json.dumps(
                {
                    "op": "chunk",
                    "rows": args.rows,
                    "sec": wall,
                    "shuffle_bytes": shuf,
                }
            )
        )
        spark.stop()
        return

    if args.op == "diff":
        # crawl-over-crawl audit at 10M vs the synthetic next crawl:
        # the scale claim under test is that both full-outer-join
        # shuffles carry (doc_id, md5) projections, never text
        # ONE execution: count() drives the full plan (both scans +
        # the full-outer join) and returns the churn size; a separate
        # noop pass would double the probe's cost for no information
        before = shuffle_write_bytes(spark)
        t0 = time.perf_counter()
        out_rows = curation.corpus_snapshot_diff(spark, sf_dir).count()
        wall = round(time.perf_counter() - t0, 1)
        shuf = shuffle_delta(before, shuffle_write_bytes(spark))
        print(
            json.dumps(
                {
                    "op": "diff",
                    "rows": args.rows,
                    "sec": wall,
                    "shuffle_bytes": shuf,
                    "out_rows": out_rows,
                }
            )
        )
        spark.stop()
        return

    if args.op == "profile":
        # the per-language dataset card: one grouped aggregate whose
        # exact percentiles BUFFER each group's doc lengths — the
        # registered entry's honest cost at scale
        wall, shuf = timed(spark, curation.corpus_profile(spark, sf_dir))
        print(
            json.dumps(
                {
                    "op": "profile",
                    "rows": args.rows,
                    "sec": wall,
                    "shuffle_bytes": shuf,
                }
            )
        )
        spark.stop()
        return

    if args.op == "top_ngrams":
        from fledge_south_csvplayback_spark.operators import text as text_ops

        # NOTE: a hashed-key variant (xxhash64 through the count
        # exchange + threshold string recovery) was A/B'd here and
        # REVERTED: 54.9 s / 2.73 GB vs the string path's 30.5 s /
        # 3.77 GB on this near-unique vocabulary — random longs
        # compress worse through the lz4 exchange than prefix-sharing
        # gram strings, and the recovery pass pays a second gram build.
        wall, shuf = timed(spark, text_ops.text_top_ngrams(spark, sf_dir))
        print(
            json.dumps(
                {
                    "op": "top_ngrams",
                    "rows": args.rows,
                    "sec": wall,
                    "shuffle_bytes": shuf,
                }
            )
        )
        spark.stop()
        return

    if args.op == "normalize":
        from fledge_south_csvplayback_spark.operators import text as text_ops

        wall, shuf = timed(spark, text_ops.text_normalize(spark, sf_dir))
        print(
            json.dumps(
                {
                    "op": "normalize",
                    "rows": args.rows,
                    "sec": wall,
                    "shuffle_bytes": shuf,
                }
            )
        )
        spark.stop()
        return

    if args.op == "sample":
        wall, shuf = timed(spark, curation.corpus_sample(spark, sf_dir))
        print(
            json.dumps(
                {
                    "op": "sample",
                    "rows": args.rows,
                    "sec": wall,
                    "shuffle_bytes": shuf,
                }
            )
        )
        spark.stop()
        return

    # ab: interleaved naive/twopass reps in ONE session
    two = curation.corpus_token_budget(spark, sf_dir, budget=BUDGET)
    naive = naive_token_budget(spark, sf_dir, budget=BUDGET)
    n2, s2 = checksum(two)
    n1, s1 = checksum(naive)
    assert (n1, s1) == (n2, s2), f"variant mismatch: {(n1, s1)} != {(n2, s2)}"
    walls: dict[str, list[float]] = {"naive": [], "twopass": []}
    shufs: dict[str, int] = {}
    for _ in range(args.reps):
        w, s = timed(spark, naive)
        walls["naive"].append(w)
        shufs["naive"] = s
        w, s = timed(spark, two)
        walls["twopass"].append(w)
        shufs["twopass"] = s
    print(
        json.dumps(
            {
                "op": "token_budget_ab",
                "rows": args.rows,
                "budget": BUDGET,
                "selected_rows": n2,
                "naive_sec_min": min(walls["naive"]),
                "twopass_sec_min": min(walls["twopass"]),
                "naive_shuffle_bytes": shufs["naive"],
                "twopass_shuffle_bytes": shufs["twopass"],
                "reps": args.reps,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
