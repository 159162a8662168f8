"""One benchmark run in a fresh process; started by ``run.py``.

Phases, in order:

1. set-up: session start, then the warm-up on a small input of the same
   shape. ``setup_s`` runs from this process's spawn to the end of the
   warm-up.
2. with ``--trace 0``, phase A: ops back to back, as many as last
   about ``--seconds`` on the reference host. Every end-to-end metric
   comes from here.
3. with ``--trace 1``, the session has Spark's event log on from the
   start, and instead of phase A:
   - phase B: the same loop for half as many ops, untraced and traced
     (spans on) in turn, followed by the workload's layer probes and
     its other probes (the corpus pass of ``playback_drain``);
   - phase C: the untraced loop for a quarter as many ops as phase A on
     ``local[1]``, the single-core baseline.

``clearCache()`` runs between ops, outside the timed region, so every
op starts cold. Gates run outside the timed region too.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

from tracing import EventLog, Spans, median
from workloads import WORKLOADS, Op


def start_session(cfg: dict, master: str | None = None, event_dir: str | None = None):
    from fledge_south_csvplayback_spark.session import get_spark

    extra = {
        "spark.ui.showConsoleProgress": "false",
        # builder options persist across sessions of one process, so the
        # event log is switched off explicitly when not wanted
        "spark.eventLog.enabled": "true" if event_dir else "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        extra.update({
            "spark.eventLog.dir": f"file://{event_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name=f"perfbench-{cfg['workload']}",
        master=master,
        shuffle_partitions=1 if master == "local[1]" else None,
        extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_phase(wl, spark, seconds: float, spans: Spans | None = None):
    """A fixed number of ops, sized so the phase lasts about ``seconds``
    on the reference host: a slow host then measures the same ops (at the
    same point of the JIT warm-up) rather than fewer of them.

    With ``spans``, ops run untraced and traced in the order U T T U
    U T T U ..., and the phase has at least one of each: both halves then
    run in the same session, balanced over the JIT warm-up."""
    n = max(1 if spans is None else 2, round(seconds / wl.NOMINAL_OP_S))
    ops = []
    for op_id in range(n):
        traced = spans is not None and op_id % 4 in (1, 2)
        try:
            op = wl.op(spark, op_id, spans if traced else Spans(False), traced)
        except Exception:  # an op that raises is a failed op and ends the phase
            traceback.print_exc()
            ops.append(Op(0, 0.0, [], 1, 1))
            break
        ops.append(op)
        spark.catalog.clearCache()
    print(
        "perfbench: op walls (s): " + " ".join(f"{o.wall_s:.3f}" for o in ops),
        file=sys.stderr, flush=True,
    )
    return ops


def items_per_s(ops) -> float:
    """Median of the per-op rates, so one op slowed by the host does not
    move the figure."""
    return median(o.items / o.wall_s for o in ops if o.wall_s > 0)


def stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM this process launched."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        proc.wait(timeout=60)


def main() -> int:
    cfg = json.loads(sys.argv[1])
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    wl = WORKLOADS[cfg["workload"]](cfg["work"], cfg["tiny"])
    wl.prepare()
    seconds = float(cfg["seconds"])
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    event_dir = os.path.join(cfg["work"], "eventlog") if cfg["trace"] else None

    spark = start_session(cfg, event_dir=event_dir)
    session_start_s = time.time() - cfg["t_spawn"]
    t0 = time.time()
    wl.warm_up(spark)
    spark.catalog.clearCache()
    warm_up_s = time.time() - t0
    setup_s = time.time() - cfg["t_spawn"]

    if not cfg["trace"]:
        ops = run_phase(wl, spark, seconds)
        metrics = {
            "setup_s": setup_s,
            "items_per_s": items_per_s(ops),
            "op_ms_p50": median(s for o in ops for s in o.samples_ms),
        }
        names = [m["name"] for m in spec["end_to_end"]]
    else:
        spans = Spans(True)
        t_b = time.time()
        ops_b = run_phase(wl, spark, seconds / 2, spans)
        t_b_end = time.time()
        wl.probe_layers(spark, spans)
        probed = []
        for probe in wl.probes():
            try:
                probe.prepare()
                probe.warm_up(spark)
                spark.catalog.clearCache()
                op = probe.op(spark, 0, spans, True)
            except Exception:  # a probe that raises is a failed op
                traceback.print_exc()
                op = Op(0, 0.0, [], 1, 1)
            probed.append((probe, op))
            spark.catalog.clearCache()
        spark.stop()  # flushes and closes the event log
        events = EventLog(event_dir)

        # the single-core baseline, with its own event log so that both
        # sides pay the same listener cost
        spark = start_session(
            cfg, master="local[1]", event_dir=os.path.join(cfg["work"], "eventlog1")
        )
        ops_c = run_phase(wl, spark, seconds / 4)
        ops = ops_b + [op for _, op in probed] + ops_c

        untraced = items_per_s(o for i, o in enumerate(ops_b) if i % 4 in (0, 3))
        traced = items_per_s(o for i, o in enumerate(ops_b) if i % 4 in (1, 2))
        n_b = max(1, len(ops_b))
        ex = events.executor_totals([(t_b, t_b_end)])
        metrics = {m["name"]: 0.0 for m in spec["per_layer"]}
        metrics.update({
            "session.start_s": session_start_s,
            "session.warm_up_s": warm_up_s,
            "op.self_ms_p50": median(
                d * 1000.0 for d in spans.self_times(wl.self_span)
            ),
            "trace.items_per_s_untraced": untraced,
            "trace.items_per_s_traced": traced,
            "trace.overhead_ratio": untraced / max(traced, 1e-12),
            "executor.jobs": ex["jobs"] / n_b,
            "executor.stages": ex["stages"] / n_b,
            "executor.tasks": ex["tasks"] / n_b,
            "executor.task_s": ex["task_s"] / n_b,
            "executor.parallelism": ex["parallelism"],
            "executor.shuffle_write_bytes": ex["shuffle_write_bytes"] / n_b,
            "executor.spill_bytes": ex["spill_bytes"] / n_b,
            "executor.gc_s": ex["gc_s"] / n_b,
            "executor.speedup_vs_1core": untraced / max(items_per_s(ops_c), 1e-12),
        })
        metrics.update(wl.layer_metrics(spans, events, ops_b))
        for probe, op in probed:
            metrics.update(probe.layer_metrics(spans, events, [op]))
        unknown = set(metrics) - set(units)
        if unknown:
            raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
        names = [m["name"] for m in spec["per_layer"]]

    stop_jvm(spark)
    failed = sum(o.failed for o in ops)
    result = {
        "correct": failed == 0,
        "attempted": sum(o.count for o in ops),
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in names},
    }
    with open(os.path.join(cfg["work"], "result.json"), "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
