#!/usr/bin/env python3
"""Scale probes for the round-7 selection/dedup/export operators
(BASELINE.md rows): DSIR importance resampling, SemDeDup, and the
deterministic sharded shuffle.

- ``dsir``: derives a selection corpus from the cached 10M curation
  corpus — every 50th doc becomes the 'tgt' source and has a marker
  token vocabulary mixed in, so the probe can check the method's
  contract distributively (mean logw of target-like docs above the
  rest) while measuring the two-Exchange plan at 10M docs.
- ``semdedup``: ``semantic_dedup`` over the cached 10M isotropic
  vectors with k sized so cells hold ~N/k ≈ 2.4k rows (the paper's
  regime; the per-cell GEMM is quadratic IN THE CELL by design).
  Isotropic vectors are near-orthogonal, so eps is set low enough to
  exercise drops; the keep-rate is reported, not asserted — the
  number measures the corpus (like the ANN recall probe).
- ``shuffle``: ``corpus_shuffle_order`` at 10M docs / 64 shards —
  one Exchange + per-shard sort, the claim is "scan-bound".

Usage:
    python probes/probe_selection.py gen      --rows 10000000
    python probes/probe_selection.py dsir     --rows 10000000
    python probes/probe_selection.py semdedup --rows 10000000 --cells 4096
    python probes/probe_selection.py shuffle  --rows 10000000
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from fledge_south_csvplayback_spark.operators import curation, selection
from probes._common import (
    PROBE_ROOT,
    probe_session,
    shuffle_delta,
    shuffle_write_bytes,
)

TGT_EVERY = 50  # 2% of docs form the target slice


def sel_dir(n: int) -> str:
    return f"{PROBE_ROOT}/selection_{n}"


def gen_corpus(spark: SparkSession, n: int) -> str:
    """Selection corpus := the cached curation corpus (25 xxhash64
    words/doc, 1M vocab) with (a) every ``TGT_EVERY``-th doc relabeled
    source='tgt', and (b) those docs' text prefixed with 3 marker
    tokens from a tiny 'trusted' vocabulary that also leaks into 10%
    of raw docs — the planted signal DSIR must recover."""
    out = sel_dir(n)
    path = f"{out}/documents.parquet"
    if os.path.exists(f"{path}/_SUCCESS"):
        return out
    src = f"{PROBE_ROOT}/curation_{n}_25/documents.parquet"
    if not os.path.exists(src):
        raise SystemExit(f"run probe_curation.py gen --rows {n} first ({src})")
    docs = spark.read.parquet(src)
    is_tgt = F.col("doc_id") % TGT_EVERY == 0
    leak = F.pmod(F.xxhash64(F.lit("leak"), F.col("doc_id")), 10) == 0
    marker = F.concat_ws(
        " ",
        *[
            F.concat(
                F.lit("trusted"),
                F.pmod(F.xxhash64(F.lit("m"), F.col("doc_id"), F.lit(p)), 20),
            )
            for p in range(3)
        ],
    )
    df = docs.select(
        "doc_id",
        "lang",
        F.when(is_tgt, F.lit("tgt")).otherwise(F.lit("web")).alias("source"),
        F.when(
            is_tgt | leak, F.concat_ws(" ", marker, F.col("text"))
        ).otherwise(F.col("text")).alias("text"),
    )
    df.repartition(64).write.mode("overwrite").parquet(path)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "op",
        choices=["gen", "dsir", "semdedup", "shuffle", "divergence"],
    )
    ap.add_argument("--rows", type=int, default=10_000_000)
    ap.add_argument("--cells", type=int, default=4096)
    ap.add_argument("--eps", type=float, default=0.2)
    ap.add_argument("--shards", type=int, default=64)
    args = ap.parse_args()
    spark = probe_session(f"probe-selection-{args.op}")

    if args.op == "gen":
        out = gen_corpus(spark, args.rows)
        print(json.dumps({"op": "gen", "dir": out}))
        return

    if args.op == "dsir":
        d = gen_corpus(spark, args.rows)
        before = shuffle_write_bytes(spark)
        t0 = time.perf_counter()
        w = selection.dsir_logweights(spark, d, target_source="tgt")
        docs = spark.read.parquet(f"{d}/documents.parquet").select(
            "doc_id", "source"
        )
        stats = (
            w.join(docs, "doc_id")
            .groupBy("source")
            .agg(F.avg("logw").alias("mean_logw"), F.count("*").alias("n"))
            .collect()
        )
        wall = round(time.perf_counter() - t0, 1)
        sh = shuffle_delta(before, shuffle_write_bytes(spark))
        by = {r.source: (round(r.mean_logw, 4), r.n) for r in stats}
        # contract: the planted target slice must out-weigh the raw web
        assert by["tgt"][0] > by["web"][0], by
        t1 = time.perf_counter()
        top = selection.corpus_dsir_select(
            spark, d, target_source="tgt", n_select=10000
        )
        n_top_tgtlike = top.filter(F.col("logw") > 0).count()
        wall_sel = round(time.perf_counter() - t1, 1)
        print(
            json.dumps(
                {
                    "op": "dsir",
                    "rows": args.rows,
                    "logweights_sec": wall,
                    "select_sec": wall_sel,
                    "shuffle_bytes": sh,
                    "mean_logw_by_source": by,
                    "top10k_positive_logw": n_top_tgtlike,
                }
            )
        )
        return

    if args.op == "semdedup":
        from fledge_south_csvplayback_spark.operators import similarity

        d = f"{PROBE_ROOT}/emb_{args.rows}"
        if not os.path.exists(f"{d}/embeddings.parquet"):
            raise SystemExit(f"run probe_ann_10m.py gen --rows {args.rows}")
        t0 = time.perf_counter()
        # fit timed separately: it is the reusable artifact
        cents, inertia = similarity.kmeans_fit(
            spark, d, k=args.cells, iters=3
        )
        fit_sec = round(time.perf_counter() - t0, 1)
        before = shuffle_write_bytes(spark)
        t1 = time.perf_counter()
        out = similarity.semantic_dedup(
            spark, d, k=args.cells, iters=3, eps=args.eps
        )
        agg = out.agg(
            F.count("*").alias("n"),
            F.sum(F.col("keep").cast("long")).alias("kept"),
            F.max("max_prior_cos").alias("max_prior"),
        ).collect()[0]
        wall = round(time.perf_counter() - t1, 1)
        sh = shuffle_delta(before, shuffle_write_bytes(spark))
        print(
            json.dumps(
                {
                    "op": "semdedup",
                    "rows": args.rows,
                    "cells": args.cells,
                    "eps": args.eps,
                    "fit_sec_3it": fit_sec,
                    "dedup_sec": wall,
                    "shuffle_bytes": sh,
                    "n": agg["n"],
                    "kept": int(agg["kept"]),
                    "max_prior_cos": agg["max_prior"],
                }
            )
        )
        return

    if args.op == "divergence":
        # the selection corpus (tgt + web sources, planted marker
        # vocabulary in tgt/leaked docs) gives the KL diagnostic a
        # real signal to separate at 10M
        d = gen_corpus(spark, args.rows)
        before = shuffle_write_bytes(spark)
        t0 = time.perf_counter()
        rows = selection.corpus_source_divergence(spark, d).collect()
        wall = round(time.perf_counter() - t0, 1)
        sh = shuffle_delta(before, shuffle_write_bytes(spark))
        by = {r.source: (r.kl_nats, r.n_grams) for r in rows}
        # contract: the marker-token slice sits measurably off the
        # corpus distribution
        assert by["tgt"][0] > by["web"][0], by
        print(
            json.dumps(
                {
                    "op": "divergence",
                    "rows": args.rows,
                    "sec": wall,
                    "shuffle_bytes": sh,
                    "kl_by_source": by,
                }
            )
        )
        return

    # shuffle
    d = f"{PROBE_ROOT}/curation_{args.rows}_25"
    before = shuffle_write_bytes(spark)
    t0 = time.perf_counter()
    df = curation.corpus_shuffle_order(spark, d, n_shards=args.shards)
    df.write.format("noop").mode("overwrite").save()
    wall = round(time.perf_counter() - t0, 1)
    sh = shuffle_delta(before, shuffle_write_bytes(spark))
    print(
        json.dumps(
            {
                "op": "shuffle",
                "rows": args.rows,
                "shards": args.shards,
                "sec": wall,
                "shuffle_bytes": sh,
            }
        )
    )


if __name__ == "__main__":
    main()
