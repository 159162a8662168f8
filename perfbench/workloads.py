"""The benchmark workloads, and the corpus probe of the traced run.

Each workload lands its inputs from the seed (``land``, run before the
clock starts), warms the session on a small input of the same shape,
runs one timed *op* at a time, and gates every op's output outside the
timed region. With tracing on, an op records spans around each call
into the program, and ``layer_metrics`` turns them into the per-layer
numbers named in ``BENCHMARK.json``.

- ``playback_drain``: op = one AvailableNow drain of the landed burst
  files, one file per trigger; items are delivered datapoint values.
- ``sensor_etl``: op = one ``etl.run_etl(fill, linear)`` call on one
  sensor file; items are input rows.

The corpus operators are not a workload of their own: a corpus pass
(span scrub, MinHash-LSH, decontamination, near-dup index build and
ingest) costs a whole run's budget, so ``CorpusProbe`` runs one gated
pass inside the traced ``playback_drain`` run, for the corpus layers.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from dataclasses import dataclass
from datetime import datetime
from itertools import chain
from operator import itemgetter

import gen
from tracing import median, percentile

CSV_OPTS = {"header": True, "escape": '"'}  # run_etl's CSV read and write options


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


@dataclass
class Op:
    """What one timed op reports back to the phase loop."""

    items: int  # work units delivered
    wall_s: float  # timed wall time of the op
    samples_ms: list[float]  # latency samples for op_ms_*
    count: int  # attempted operations in this op
    failed: int  # of which failed the gate


@dataclass
class Delivery:
    """One delivered playback batch, reduced to what the gate checks."""

    t: float  # perf_counter when the callback was entered
    batch_id: int
    rows: int
    timestamps: int  # distinct timestamps in the batch
    assets: set
    checksum: int  # gen.pair_checksum of the batch's (datapoint, value) pairs

    @classmethod
    def of(cls, t: float, batch_id: int, rows) -> "Delivery":
        # C-level maps over the rows: about 20 ms for an 8000-row batch
        fields = rows[0].__fields__ if rows else ["asset", "timestamp", "readings"]
        asset, ts, readings = (
            itemgetter(fields.index(f)) for f in ("asset", "timestamp", "readings")
        )
        return cls(
            t,
            batch_id,
            len(rows),
            len(set(map(ts, rows))),
            set(map(asset, rows)),
            gen.pair_checksum(chain.from_iterable(map(dict.items, map(readings, rows)))),
        )


class Workload:
    name = ""
    NOMINAL_OP_S: float  # wall of one op on the reference host (METRICS.md)

    def __init__(self, work: str, tiny: bool = False) -> None:
        """``tiny`` selects the smoke test's small inputs."""
        self.work = work
        self.tiny = tiny
        self.trace: dict[str, list[float]] = {}

    def note(self, key: str, value: float) -> None:
        self.trace.setdefault(key, []).append(value)

    def prepare(self) -> None:
        """Worker-side set-up that reads what ``land`` wrote."""

    def probe_layers(self, spark, spans) -> None:
        """Extra layer timings taken after the traced phase, with the
        event log still on."""

    def probes(self) -> list["CorpusProbe"]:
        """Other layers this workload's traced run probes, each with its
        own inputs under the work dir."""
        return []


# --- playback_drain -----------------------------------------------------------
class PlaybackDrain(Workload):
    name = "playback_drain"
    self_span = "playback.drain"
    NOMINAL_OP_S = 4.0
    WARM_FILES = 6

    def __init__(self, work: str, tiny: bool = False) -> None:
        super().__init__(work, tiny)
        self.n_files = 2 if tiny else 8  # triggers per drain
        self.land_dir = os.path.join(work, "land")
        self.warm_dir = os.path.join(work, "warm")

    def land(self, seed: int) -> None:
        gen.land_vibration(self.land_dir, seed, self.n_files)
        gen.land_vibration(self.warm_dir, seed, self.WARM_FILES, part="warm")

    def prepare(self) -> None:
        from fledge_south_csvplayback_spark.config import PlaybackConfig

        self.checksum = gen.pair_checksum(
            kv for path in sorted(glob.glob(f"{self.land_dir}/*.csv"))
            for kv in gen.file_pairs(path)
        )
        self.cfg = PlaybackConfig(csv_dir_name=self.land_dir)
        self.warm_cfg = PlaybackConfig(csv_dir_name=self.warm_dir)

    def _drain(self, spark, cfg):
        """One AvailableNow drain. The ingest callback keeps no rows: it
        reduces each batch to a :class:`Delivery` for the gate."""
        from fledge_south_csvplayback_spark.streaming import playback as pb

        deliveries = []

        def ingest(rows, batch_id):
            deliveries.append(Delivery.of(time.perf_counter(), batch_id, rows))

        session = pb.PlaybackSession(spark, cfg, gen.PLAYBACK_SCHEMA)
        t0 = time.perf_counter()
        query = session.start_async(ingest, available_now=True)
        query.awaitTermination()
        return time.perf_counter() - t0, deliveries, query.recentProgress

    def warm_up(self, spark) -> None:
        self._drain(spark, self.warm_cfg)

    def probes(self) -> list["CorpusProbe"]:
        return [CorpusProbe(os.path.join(self.work, "corpus"), self.tiny)]

    def op(self, spark, op_id, spans, traced) -> Op:
        with spans.span("playback.drain", op_id):
            wall, deliveries, progress = self._drain(spark, self.cfg)
        deliveries.sort(key=lambda d: d.batch_id)
        intervals = [
            (b.t - a.t) * 1000.0 for a, b in zip(deliveries, deliveries[1:])
        ]
        ok = self._gate(deliveries)
        if traced:
            self._note_progress(spans, deliveries, progress)
        n = len(deliveries)
        items = sum(d.rows for d in deliveries) * len(gen.CHANNELS)
        return Op(items, wall, intervals, n, 0 if ok else max(n, 1))

    def _gate(self, deliveries) -> bool:
        """Every landed row delivered once, values intact, and each burst
        batch stamped with exactly one timestamp."""
        if len(deliveries) != self.n_files:
            return False
        for d in deliveries:
            if d.rows != gen.BURST_ROWS or d.timestamps != 1:
                return False
            if d.assets != {self.cfg.asset_name}:
                return False
        return sum(d.checksum for d in deliveries) % (1 << 64) == self.checksum

    def _note_progress(self, spans, deliveries, progress) -> None:
        """Per-trigger ``StreamingQueryProgress.durationMs``, and each
        trigger as a child span of its drain."""
        by_batch = {
            p["batchId"]: p["durationMs"] for p in progress if p["numInputRows"]
        }
        drain = spans.last("playback.drain")
        for p in progress:
            d = p["durationMs"]
            if not p["numInputRows"]:
                continue
            t0 = datetime.fromisoformat(p["timestamp"]).timestamp()
            spans.add("playback.trigger", t0, t0 + d["triggerExecution"] / 1000.0, drain)
            self.note("trigger", d.get("triggerExecution", 0))
            self.note("add_batch", d.get("addBatch", 0))
            self.note("latest_offset", d.get("latestOffset", 0))
            self.note("commit", d.get("walCommit", 0) + d.get("commitOffsets", 0))
            self.note("planning", d.get("queryPlanning", 0))
        for a, b in zip(deliveries, deliveries[1:]):
            if b.batch_id in by_batch:
                gap = (b.t - a.t) * 1000.0 - by_batch[b.batch_id].get("triggerExecution", 0)
                self.note("gap", gap)

    def probe_layers(self, spark, spans) -> None:
        """Scan, stamp, envelope and handoff of single landed files, each
        timed as a noop action minus the noop action of its input."""
        from fledge_south_csvplayback_spark.sources import csv_source
        from fledge_south_csvplayback_spark.streaming import playback as pb

        for path in sorted(glob.glob(f"{self.land_dir}/*.csv"))[:5]:
            scan = csv_source.null_na_sentinels(
                spark.read.schema(gen.PLAYBACK_SCHEMA).options(**CSV_OPTS).csv(path)
            )
            stamped = pb.stamp_batch(scan, self.cfg)
            env = pb.to_envelope(stamped, self.cfg)
            t_scan = timed(lambda: noop(scan))
            t_stamp = timed(lambda: noop(stamped))
            t_env = timed(lambda: noop(env))
            t_collect = timed(env.collect)
            self.note("scan", t_scan * 1000.0)
            self.note("stamp", (t_stamp - t_scan) * 1000.0)
            self.note("envelope", (t_env - t_stamp) * 1000.0)
            self.note("handoff", (t_collect - t_env) * 1000.0)

    def layer_metrics(self, spans, events, ops) -> dict[str, float]:
        t = self.trace
        intervals = [s for o in ops for s in o.samples_ms]
        return {
            "csv_source.scan_ms_p50": median(t.get("scan", [])),
            "timestamps.stamp_ms_p50": median(t.get("stamp", [])),
            "readings.envelope_ms_p50": median(t.get("envelope", [])),
            "playback.trigger_ms_p50": median(t.get("trigger", [])),
            "playback.add_batch_ms_p50": median(t.get("add_batch", [])),
            "playback.latest_offset_ms_p50": median(t.get("latest_offset", [])),
            "playback.commit_ms_p50": median(t.get("commit", [])),
            "playback.planning_ms_p50": median(t.get("planning", [])),
            "playback.gap_ms_p50": median(t.get("gap", [])),
            "playback.handoff_ms_p50": median(t.get("handoff", [])),
            "playback.triggers": len(t.get("trigger", [])),
            "playback.op_ms_p90": percentile(intervals, 90),
            "playback.op_samples": len(intervals),
        }


# --- sensor_etl ---------------------------------------------------------------
class SensorEtl(Workload):
    name = "sensor_etl"
    self_span = "etl.probe"
    NOMINAL_OP_S = 2.0
    FILES = 6
    PROBE_FILES = 3
    WARM_CALLS = 12

    def __init__(self, work: str, tiny: bool = False) -> None:
        super().__init__(work, tiny)
        # The linear fill runs in one task and grows quadratically with
        # rows (4 cores: 5k rows 7.7 s, 10k 27 s, 20k 81-99 s); 2000 rows
        # keep a file to a few seconds with the fill the largest share.
        self.rows = 200 if tiny else 2000
        self.warm_rows = 100 if tiny else 500
        self.in_dir = os.path.join(work, "in")
        self.out_dir = os.path.join(work, "out")
        self.warm_file = os.path.join(work, "warm", "sensor_0000.csv")
        self.expected: dict[str, tuple] = {}

    def land(self, seed: int) -> None:
        gen.land_sensor(self.in_dir, seed, self.FILES, self.rows)
        gen.land_sensor(os.path.dirname(self.warm_file), seed, 1, self.warm_rows, part="warm")

    def prepare(self) -> None:
        self.files = sorted(glob.glob(f"{self.in_dir}/*.csv"))

    def warm_up(self, spark) -> None:
        from fledge_south_csvplayback_spark import etl

        # per-file time is mostly fixed per-job overhead that the JIT keeps
        # shrinking over the first calls; a few small calls put the timed
        # phase near the plateau
        for _ in range(self.WARM_CALLS):
            etl.run_etl(spark, self.warm_file, os.path.join(self.work, "warm_out"), "fill", "linear")
            spark.catalog.clearCache()

    def op(self, spark, op_id, spans, traced) -> Op:
        from fledge_south_csvplayback_spark import etl

        path = self.files[op_id % len(self.files)]
        out = os.path.join(self.out_dir, f"op{op_id}")
        with spans.span("etl.op", op_id):
            t0 = time.perf_counter()
            etl.run_etl(spark, path, out, "fill", "linear")
            wall = time.perf_counter() - t0
        ok, rows, filled = self._gate(path, out)
        if traced:
            self.note("cells_filled", filled)
            self.note("bytes_out", dir_bytes(out))
            self.note("bytes_in", os.path.getsize(path))
        shutil.rmtree(out, ignore_errors=True)
        return Op(rows, wall, [wall * 1000.0], 1, 0 if ok else 1)

    def probe_layers(self, spark, spans) -> None:
        """``run_etl``'s three steps called one by one on each file, with
        a noop action after the read and after the repair, so each
        layer's execution is timed on its own."""
        from fledge_south_csvplayback_spark import etl

        for i, path in enumerate(self.files[: self.PROBE_FILES]):
            out = os.path.join(self.out_dir, f"probe{i}")
            spark.catalog.clearCache()
            with spans.span("etl.probe", i):
                with spans.span("etl.read", i):
                    df = spark.read.options(**CSV_OPTS).csv(path)
                    noop(df)
                with spans.span("clean.repair_build", i):
                    repaired = etl.repair(etl.flatten_if_dump(df), "fill", "linear")
                with spans.span("clean.fill_exec", i):
                    noop(repaired)
                with spans.span("etl.write", i):
                    repaired.write.mode("overwrite").options(**CSV_OPTS).csv(out)
            shutil.rmtree(out, ignore_errors=True)

    def _reference(self, path: str):
        """pandas ``interpolate(linear, limit_direction='both')`` after the
        ETL's whitespace-to-null cast and all-null column drop."""
        import pandas as pd

        if path not in self.expected:
            raw = pd.read_csv(path, dtype=str, keep_default_na=False)
            cols = [c for c in raw.columns if c != "user_ts"]
            for c in cols:
                s = raw[c].str.strip()
                raw[c] = pd.to_numeric(s.where(s != ""))
            live = [c for c in cols if raw[c].notna().any()]
            filled = int(raw[live].isna().sum().sum())
            want = raw[["user_ts"] + live].copy()
            for c in live:
                want[c] = want[c].interpolate(method="linear", limit_direction="both")
            self.expected[path] = (want, live, filled)
        return self.expected[path]

    def _gate(self, path: str, out: str) -> tuple[bool, int, int]:
        import numpy as np
        import pandas as pd

        want, live, filled = self._reference(path)
        parts = sorted(glob.glob(f"{out}/part-*.csv"))
        if not parts:
            return False, 0, filled
        got = pd.concat([pd.read_csv(p, dtype=str) for p in parts], ignore_index=True)
        if sorted(got.columns) != sorted(["user_ts"] + live):
            return False, len(got), filled
        got = got.sort_values("user_ts", kind="mergesort").reset_index(drop=True)
        if len(got) != len(want) or not (got["user_ts"] == want["user_ts"]).all():
            return False, len(got), filled
        ok = all(
            np.allclose(got[c].astype(float), want[c], rtol=1e-9, atol=1e-9)
            for c in live
        )
        return bool(ok), len(want), filled

    def layer_metrics(self, spans, events, ops) -> dict[str, float]:
        t = self.trace
        write = [
            (w - f) * 1000.0
            for w, f in zip(spans.durations("etl.write"), spans.durations("clean.fill_exec"))
        ]
        repair_jobs = [len(events.jobs_in([w])) for w in spans.windows("clean.repair_build")]
        return {
            "etl.read_ms_p50": median(d * 1000.0 for d in spans.durations("etl.read")),
            "clean.repair_build_ms_p50": median(
                d * 1000.0 for d in spans.durations("clean.repair_build")
            ),
            "clean.repair_jobs": median(repair_jobs),
            "clean.fill_exec_ms_p50": median(
                d * 1000.0 for d in spans.durations("clean.fill_exec")
            ),
            "clean.cells_filled": median(t.get("cells_filled", [])),
            "etl.write_ms_p50": median(write),
            "etl.bytes_out_per_byte_in": (
                sum(t.get("bytes_out", [])) / max(1, sum(t.get("bytes_in", [])))
            ),
        }


# --- corpus probe (traced playback_drain run) ---------------------------------
CORPUS_OPS = (
    "text.span_scrub",
    "dedup.minhash_lsh",
    "curation.decontaminate",
    "dedup.index_build",
    "dedup.ingest",
)


class CorpusProbe(Workload):
    """One corpus pass after a warm-up pass, gated like an op; its spans
    give the corpus layer metrics."""

    name = "corpus"
    WARM_DOCS = 40

    def __init__(self, work: str, tiny: bool = False) -> None:
        super().__init__(work, tiny)
        # the size of the sf0.1 documents table
        self.docs = 120 if tiny else 5000
        self.sf_dir = os.path.join(work, "sf")
        self.warm_dir = os.path.join(work, "sf_warm")
        self.out_dir = os.path.join(work, "out")
        self.con = None  # DuckDB connection with the oracles' results

    @staticmethod
    def split(n_docs: int) -> int:
        return n_docs * 9 // 10  # index the first 90%, ingest the rest

    def land(self, seed: int) -> None:
        gen.land_corpus(self.sf_dir, seed, self.docs)
        gen.land_corpus(self.warm_dir, seed, self.WARM_DOCS, part="warm")

    def _pass(self, spark, sf_dir, n_docs, op_id, spans) -> list[float]:
        """One corpus pass; returns the timed wall seconds of each of its
        calls (the ``clearCache()`` between them is not timed). Each op's
        frame is written to parquet so the gate reads exactly what was
        timed."""
        from fledge_south_csvplayback_spark.operators import curation, dedup, text

        split = self.split(n_docs)
        index_dir = os.path.join(self.out_dir, "index")
        calls = {
            "text.span_scrub": lambda: text.text_repeated_span_scrub(spark, sf_dir),
            "dedup.minhash_lsh": lambda: dedup.dedup_minhash_lsh(spark, sf_dir),
            "curation.decontaminate": lambda: curation.corpus_decontaminate(spark, sf_dir),
            "dedup.index_build": lambda: dedup.build_neardup_index(
                spark, sf_dir, index_dir, max_doc_id=split
            ),
            "dedup.ingest": lambda: dedup.neardup_ingest(
                spark, sf_dir, index_dir, split_id=split
            ),
        }
        walls = []
        for name in CORPUS_OPS:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            with spans.span(name, op_id):
                with spans.span(name + ".build", op_id):
                    df = calls[name]()
                if df is not None:
                    with spans.span(name + ".exec", op_id):
                        df.write.mode("overwrite").parquet(os.path.join(self.out_dir, name))
            walls.append(time.perf_counter() - t0)
        return walls

    def warm_up(self, spark) -> None:
        from tracing import Spans

        self._pass(spark, self.warm_dir, self.WARM_DOCS, 0, Spans(False))

    def op(self, spark, op_id, spans, traced) -> Op:
        with spans.span("corpus.pass", op_id):
            walls = self._pass(spark, self.sf_dir, self.docs, op_id, spans)
        ok, counts = self._gate()
        if traced:
            for k, v in counts.items():
                self.note(k, v)
            self.note(
                "index_ratio",
                dir_bytes(os.path.join(self.out_dir, "index"))
                / os.path.getsize(os.path.join(self.sf_dir, "documents.parquet")),
            )
        wall = sum(walls)
        return Op(self.docs, wall, [wall * 1000.0], 1, 0 if ok else 1)

    def _oracle(self):
        """A DuckDB connection holding the oracles' results, built on the
        first gate and reused by every later one."""
        if self.con is None:
            import duckdb

            from fledge_south_csvplayback_spark.operators import curation, dedup, text

            con = duckdb.connect()
            docs = os.path.join(self.sf_dir, "documents.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
            for table, sql, cols in (
                ("want_scrub", text.TEXT_SPAN_SCRUB_SQL,
                 "doc_id, n_tokens, removed_tokens, text_cleaned"),
                ("want_decontaminate", curation.CORPUS_DECONTAMINATE_SQL,
                 "doc_id, n_hits, contaminated"),
                ("want_jaccard", dedup.NGRAM_JACCARD_SQL, "doc_a, doc_b, jaccard"),
            ):
                con.execute(f"CREATE TABLE {table} AS SELECT {cols} FROM ({sql})")
            self.con = con
        return self.con

    def _gate(self) -> tuple[bool, dict[str, int]]:
        """Span scrub, decontamination and MinHash-LSH equal their DuckDB
        oracles; the ingest equals the LSH pairs that touch the batch."""
        con = self._oracle()

        def out(name: str) -> str:
            return f"read_parquet('{self.out_dir}/{name}/*.parquet')"

        def same(name: str, want: str, cols: str) -> bool:
            q = f"SELECT {cols} FROM {out(name)}"
            r = f"SELECT {cols} FROM {want}"
            diff = con.execute(
                f"SELECT count(*) FROM (({q} EXCEPT ALL {r}) UNION ALL ({r} EXCEPT ALL {q}))"
            ).fetchone()[0]
            return diff == 0

        ok = same(
            "text.span_scrub", "want_scrub", "doc_id, n_tokens, removed_tokens, text_cleaned"
        )
        ok &= same("curation.decontaminate", "want_decontaminate", "doc_id, n_hits, contaminated")
        lsh = dict(
            ((a, b), j) for a, b, j in con.execute(
                f"SELECT doc_a, doc_b, jaccard FROM {out('dedup.minhash_lsh')}"
            ).fetchall()
        )
        exact = dict(
            ((a, b), j)
            for a, b, j in con.execute("SELECT doc_a, doc_b, jaccard FROM want_jaccard").fetchall()
        )
        ok &= lsh.keys() == exact.keys() and all(abs(lsh[k] - exact[k]) <= 1e-9 for k in lsh)
        split = self.split(self.docs)
        ingest = set(con.execute(f"SELECT doc_a, doc_b FROM {out('dedup.ingest')}").fetchall())
        ok &= ingest == {k for k in lsh if k[1] >= split}
        counts = {
            "pairs_out": len(lsh),
            "tokens_removed": con.execute(
                f"SELECT sum(removed_tokens) FROM {out('text.span_scrub')}"
            ).fetchone()[0],
            "docs_flagged": con.execute(
                f"SELECT count(*) FROM {out('curation.decontaminate')} WHERE contaminated"
            ).fetchone()[0],
        }
        return bool(ok), counts

    def layer_metrics(self, spans, events, ops) -> dict[str, float]:
        t = self.trace
        m: dict[str, float] = {}
        for name in CORPUS_OPS:
            m[f"{name}.build_s"] = median(spans.durations(name + ".build"))
            if name != "dedup.index_build":  # the index build is one action
                m[f"{name}.exec_s"] = median(spans.durations(name + ".exec"))
            m[f"{name}.jobs"] = median(len(events.jobs_in([w])) for w in spans.windows(name))
        m["dedup.index_bytes_per_input_byte"] = median(t.get("index_ratio", []))
        m["dedup.pairs_out"] = median(t.get("pairs_out", []))
        m["text.tokens_removed"] = median(t.get("tokens_removed", []))
        m["curation.docs_flagged"] = median(t.get("docs_flagged", []))
        return m


WORKLOADS = {w.name: w for w in (PlaybackDrain, SensorEtl)}
