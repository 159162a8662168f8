"""The benchmark's own tests: seeded inputs, the near-dup margin, the
tracing helpers, and a tiny-size smoke run of every workload.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
The smoke runs start Spark and take a few minutes.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
from tracing import EventLog, Spans, percentile  # noqa: E402
from worker import items_per_s, run_phase  # noqa: E402
from workloads import CORPUS_OPS, Delivery, Op  # noqa: E402

JACCARD_THRESHOLD = 0.8  # operators.dedup.JACCARD_THRESHOLD
LSH_SAFE = 0.95  # (1 - j**4)**8 < 2e-6 above this: LSH cannot plausibly miss


def _digest(directory: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.mark.parametrize(
    "land",
    [
        lambda d, s: gen.land_vibration(d, s, 2),
        lambda d, s: gen.land_sensor(d, s, 2, 300),
        lambda d, s: gen.land_corpus(d, s, 200),
    ],
    ids=["vibration", "sensor", "corpus"],
)
def test_same_seed_gives_identical_files(tmp_path, land):
    land(str(tmp_path / "a"), 7)
    land(str(tmp_path / "b"), 7)
    land(str(tmp_path / "c"), 8)
    a, b, c = (_digest(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_vibration_checksum_matches_file_contents(tmp_path):
    ck = gen.land_vibration(str(tmp_path), 3, 2)
    pairs = []
    for name in sorted(os.listdir(tmp_path)):
        with open(tmp_path / name) as f:
            header = f.readline().strip().split(",")
            for line in f:
                pairs.extend(zip(header, line.strip().split(",")))
        assert list(gen.file_pairs(str(tmp_path / name))) == pairs[-gen.BURST_ROWS * 4:]
    assert len(pairs) == 2 * gen.BURST_ROWS * len(gen.CHANNELS)
    assert gen.pair_checksum(pairs) == ck


def test_delivery_reduces_a_batch():
    from pyspark.sql import Row

    env = Row("asset", "timestamp", "readings")
    rows = [env("vib", "t0", {"x": str(i), "y": "1"}) for i in range(3)]
    d = Delivery.of(1.5, 4, rows)
    assert (d.t, d.batch_id, d.rows, d.timestamps, d.assets) == (1.5, 4, 3, 1, {"vib"})
    assert d.checksum == gen.pair_checksum(kv for r in rows for kv in r.readings.items())


def test_traced_phase_balances_untraced_and_traced_ops():
    class Stub:
        NOMINAL_OP_S = 5.0

        def op(self, spark, op_id, spans, traced):
            assert spans.enabled == traced == (op_id in (1, 2))
            return Op(10, 5.0, [5000.0], 1, 0)

    class Spark:
        class catalog:
            @staticmethod
            def clearCache():
                pass

    assert len(run_phase(Stub(), Spark, 1.0)) == 1
    assert len(run_phase(Stub(), Spark, 1.0, Spans(True))) == 2
    assert len(run_phase(Stub(), Spark, 20.0, Spans(True))) == 4
    assert items_per_s([Op(10, 5.0, [], 1, 0), Op(10, 1.0, [], 1, 0), Op(9, 3.0, [], 1, 0)]) == 3.0


def test_sensor_file_has_every_gap_kind():
    rows = [r.split(",") for r in gen.sensor_file(5, 0, 2000).splitlines()[1:]]
    cols = list(zip(*rows))
    for series in cols[1:5]:
        blank = [v.strip() == "" for v in series]
        assert blank[0] and blank[-1]  # leading and trailing gaps
        assert any(all(blank[i:i + 3]) for i in range(1, len(blank) - 4))  # runs
        assert 0.04 < sum(blank) / len(blank) < 0.12
    assert all(v == "" for v in cols[5])  # the all-null column


def _shingles(text: str) -> set[str]:
    t = text.split(" ")
    return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_planted_neardups_clear_the_threshold(seed):
    """Every pair at or above the 0.8 Jaccard threshold is a planted
    near-dup far enough above it that MinHash-LSH finds it, so LSH ==
    exact Jaccard is a property of the corpus, not of luck; and every
    other pair sits well below the threshold."""
    table, planted = gen.corpus_table(seed, 400)
    assert len(planted) >= 20
    sh = [_shingles(t) for t in table.column("text").to_pylist()]
    above = set()
    for a, b in itertools.combinations(range(len(sh)), 2):
        j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        if j >= JACCARD_THRESHOLD:
            above.add((a, b))
            assert j >= LSH_SAFE, (a, b, j)
        else:
            assert j < 0.6, (a, b, j)
    assert above == set(planted)


def test_self_time_subtracts_children():
    s = Spans(True)
    s.rows = [["op", 0.0, 10.0, None, 0], ["a", 1.0, 3.0, 0, 0], ["b", 4.0, 8.0, 0, 0]]
    assert s.self_times("op") == [4.0]
    assert s.durations("a") == [2.0]
    assert percentile([1, 2, 3, 4, 5], 50) == 3
    off = Spans(False)
    with off.span("x", 0):
        pass
    assert off.rows == []


def test_event_log_totals(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1]},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 9000, "Stage IDs": [2]},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0, "Submission Time": 1000, "Completion Time": 2000}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0, "Submission Time": 1500, "Completion Time": 3000}},
    ]
    for stage, secs in ((0, 1.0), (0, 1.0), (1, 2.0), (2, 5.0)):
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": 0, "Finish Time": int(secs * 1000)},
            "Task Metrics": {"JVM GC Time": 100, "Disk Bytes Spilled": 0,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 10}},
        })
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events))
    ex = EventLog(str(tmp_path)).executor_totals([(0.5, 2.0)])
    assert (ex["jobs"], ex["stages"], ex["tasks"]) == (1, 2, 3)
    assert ex["task_s"] == 4.0 and ex["parallelism"] == 2.0  # 4 s over 2 s busy
    assert ex["shuffle_write_bytes"] == 30 and ex["gc_s"] == pytest.approx(0.3)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_smoke_prints_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    spec = _spec()
    want = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }
    if trace and workload == "playback_drain":  # its traced run probes the corpus
        assert all(out["metrics"][f"{op}.jobs"]["value"] > 0 for op in CORPUS_OPS)
    print(" ".join(f"{k}={v['value']:.6g}{v['unit']}" for k, v in out["metrics"].items()))
