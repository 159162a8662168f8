#!/usr/bin/env python3
"""Scale probes for the multimodal decode ops (BASELINE.md rows).

- ``stats``: ``image_stats`` end-to-end (declarative payload synthesis
  -> pure-Python parse -> stats) over the cached curation corpus's
  doc_ids — measures Arrow-batched Python decode throughput at N rows.
  The plan is one narrow mapInPandas scan;
  the wall IS the Python codec cost, which is what a real decode stage
  pays too.
- ``neardup``: the blocked dHash band join at N rows with DIVERSE
  hashes (md5 of doc_id — the synthetic pixel formula is 256-periodic
  in doc_id, so end-to-end neardup at 10M would degenerate to 39k-deep
  identical-image buckets; production hashes are diverse, so the probe
  injects a diverse (doc_id, dhash) frame via the op's ``stats``
  parameter and measures the join itself). m=3 per the operator's
  sizing rule at 10M (24-bit keys).

Usage:
    python probes/probe_multimodal.py stats   --rows 10000000
    python probes/probe_multimodal.py neardup --rows 10000000 --m 3
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from fledge_south_csvplayback_spark.operators import multimodal
from probes._common import (
    PROBE_ROOT,
    probe_session,
    shuffle_delta,
    shuffle_write_bytes,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "op", choices=["stats", "video", "neardup", "quarantine"]
    )
    ap.add_argument("--rows", type=int, default=10_000_000)
    ap.add_argument("--m", type=int, default=3)
    ap.add_argument("--max-hamming", type=int, default=4)
    args = ap.parse_args()
    spark = probe_session(f"probe-multimodal-{args.op}")
    d = f"{PROBE_ROOT}/curation_{args.rows}_25"
    if not os.path.exists(f"{d}/documents.parquet"):
        raise SystemExit(f"run probe_curation.py gen --rows {args.rows} first")

    if args.op == "quarantine":
        # raise-vs-quarantine overhead on CLEAN data (the only regime
        # that matters for the default pipeline: errors are rare, the
        # question is what the try/except + nullable-emit branches cost
        # when nothing fails). Interleaved reps per the noise protocol.
        media = multimodal.image_table(spark, d)
        out = {"op": "quarantine_ab", "rows": args.rows}
        samples: dict[str, list[float]] = {"raise": [], "quarantine": []}
        for _ in range(2):
            for mode in ("raise", "quarantine"):
                t0 = time.perf_counter()
                multimodal.image_stats(media, on_error=mode).write.format(
                    "noop"
                ).mode("overwrite").save()
                samples[mode].append(round(time.perf_counter() - t0, 1))
        out.update(samples)
        out["overhead_ratio"] = round(
            min(samples["quarantine"]) / min(samples["raise"]), 3
        )
        print(json.dumps(out))
        return

    if args.op in ("stats", "video"):
        out = {"op": args.op, "rows": args.rows}
        ops = (
            (("image", multimodal.multimodal_image_stats),)
            if args.op == "stats"
            else (("video", multimodal.multimodal_video_stats),)
        )
        for name, fn in ops:
            t0 = time.perf_counter()
            fn(spark, d).write.format("noop").mode("overwrite").save()
            out[f"{name}_sec"] = round(time.perf_counter() - t0, 1)
        print(json.dumps(out))
        return

    # neardup: diverse-hash probe (md5-injected; see module doc)
    docs = spark.read.parquet(f"{d}/documents.parquet").select("doc_id")
    stats = docs.select(
        "doc_id", F.substring(F.md5(F.col("doc_id").cast("string")), 1, 16).alias("dhash")
    )

    before = shuffle_write_bytes(spark)
    t0 = time.perf_counter()
    pairs = multimodal.image_neardup_pairs(
        spark, d, max_hamming=args.max_hamming, m=args.m, stats=stats
    )
    n_pairs = pairs.count()
    wall = round(time.perf_counter() - t0, 1)
    sh = shuffle_delta(before, shuffle_write_bytes(spark))
    print(
        json.dumps(
            {
                "op": "neardup",
                "rows": args.rows,
                "m": args.m,
                "max_hamming": args.max_hamming,
                "sec": wall,
                "shuffle_bytes": sh,
                "pairs": n_pairs,
            }
        )
    )


if __name__ == "__main__":
    main()
