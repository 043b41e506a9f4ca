"""The repo benchmark.

    python3 perfbench/run.py --workload cdc_apply --seed 42 --seconds 10 --trace 0

Runs one workload (``cdc_apply`` or ``query_suite``; ``all`` runs each
in its own process) on ``local[4]`` and checks every output. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``, which holds the end-to-end metrics of an
untraced run (``--trace 0``) or the per-layer metrics of a traced run
(``--trace 1``), each as ``{"value": ..., "unit": ...}``. The line
before it (``perfbench-detail {...}``) carries the workload's own
figures: per-phase latencies, the tail percentile used and its sample
count, host probes, failures. See perfbench/README.md.

All files the run writes go under ``.perfbench_work/`` in the
checkout, which is removed at the start and end of every run.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from statistics import median

import host
from spans import BOOKKEEPING, PROBE
from stats import Ops, geomean, tail

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("cdc_apply", "query_suite")
DEFAULT_SEED = 42

E2E_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_s": "s",
    "latency_tail_s": "s",
    "cpu_s": "s",
}
TRACE_UNITS = {
    "host.peak_rss_mb": "MB",
    "host.workers_peak_rss_mb": "MB",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
    "trace.uncovered_share": "ratio",
    "trace.bookkeeping_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.tasks": "count",
}


def layer_units() -> dict:
    import cdc_workload
    import query_workload

    return {**cdc_workload.LAYER_UNITS, **query_workload.LAYER_UNITS, **TRACE_UNITS}


def load_pins() -> dict:
    with open(os.path.join(HERE, "pins.json")) as fh:
        return json.load(fh)


def _event_log_totals(intervals: list) -> dict:
    """Task totals from the session's event log for tasks that finished
    inside one of the traced operations' ``(start, end)`` epoch windows."""
    totals = {"spark.shuffle_write_bytes": 0, "spark.spill_bytes": 0, "spark.tasks": 0}
    log_dir = os.path.join(WORK, "eventlog")
    windows = [(int(a * 1000), int(b * 1000)) for a, b in intervals]
    paths = [os.path.join(d, f) for d, _, files in os.walk(log_dir) for f in files]
    for path in paths:
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                end = ev["Task Info"]["Finish Time"]
                if not any(a <= end <= b for a, b in windows):
                    continue
                tm = ev.get("Task Metrics") or {}
                totals["spark.tasks"] += 1
                totals["spark.shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                totals["spark.spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
    return totals


def _cdc_metrics(res: dict) -> tuple[dict, dict]:
    units = res["units"]
    bulk = [w for u in units for w in u["bulk"]]
    trickle = [w for u in units for w in u["trickle"]]
    feed = [w for u in units for w in u["feed"]]
    bulk_events = sum(u["events"]["bulk"] for u in units)
    trickle_events = sum(u["events"]["trickle"] for u in units)
    tail_s, tail_pct = tail(trickle)
    e2e = {
        "throughput_per_s": bulk_events / sum(bulk),
        "latency_s": median(trickle),
        "latency_tail_s": tail_s,
        "cpu_s": median([sum(u["cpu_s"].values()) for u in units]),
    }
    detail = {
        "bulk_events_per_s": e2e["throughput_per_s"],
        "bulk_batch_s": bulk,
        "trickle_events_per_s": trickle_events / sum(trickle),
        "trickle_batch_s": trickle,
        "batch_latency_p50_s": e2e["latency_s"],
        "batch_latency_tail_s": tail_s,
        "batch_latency_tail_percentile": tail_pct,
        "batch_latency_samples": len(trickle),
        "feed_read_p50_s": median(feed),
        "feed_read_s": feed,
        "state_read_s": {p: median([u["state_read"][p] for u in units]) for p in ("bulk", "trickle")},
        "units": len(units),
        "state_hash": res["state_hash"],
        "cpu_s_by_phase": {p: median([u["cpu_s"][p] for u in units]) for p in ("bulk", "trickle")},
    }
    return e2e, detail


def _query_metrics(res: dict) -> tuple[dict, dict]:
    walls = [w for p in res["passes"] for w in p["wall"].values()]
    per_leaf = {
        leaf: median([p["wall"][leaf] for p in res["passes"] if leaf in p["wall"]])
        for leaf in res["passes"][0]["wall"]
    }
    tail_s, tail_pct = tail(walls)
    e2e = {
        "throughput_per_s": len(walls) / sum(walls),
        # leaves differ in kind, so their typical wall is a geomean
        "latency_s": geomean(list(per_leaf.values())),
        "latency_tail_s": tail_s,
        "cpu_s": median([p["cpu_s"] for p in res["passes"]]),
    }
    detail = {
        "query_total_s": sum(per_leaf.values()),
        "query_geomean_s": e2e["latency_s"],
        "leaf_latency_p50_s": median(walls),
        "leaf_latency_tail_percentile": tail_pct,
        "leaf_samples": len(walls),
        "leaf_wall_s": per_leaf,
        "persisted_rdds": {k: v for k, v in res["passes"][0]["persisted"].items() if v},
        "passes": len(res["passes"]),
        "digests": res["passes"][0]["digests"],
    }
    return e2e, detail


def _trace_metrics(res: dict) -> dict:
    """Tracer and event-log totals of the traced unit or pass.

    ``trace.wall_s`` is the summed wall of its timed operations, like the
    untraced unit it is compared with. ``trace.uncovered_share`` is taken
    over the whole traced unit, first operation start to last operation
    end, so the time between operations counts; the noop-sink probes
    are left out of it."""
    tracers = res["tracers"]
    traced = res["traced"]
    untraced_wall, traced_wall = res["untraced_wall"], res["traced_wall"]
    start, end = traced["pc_start"], traced["pc_end"]
    covered = sum(t.covered_s(start, end) for t in tracers)
    probes = sum(t.covered_s(start, end, only=PROBE) for t in tracers)
    m = {
        "trace.wall_s": traced_wall,
        "trace.overhead_s": traced_wall - untraced_wall,
        "trace.uncovered_share": (end - start - covered) / (end - start - probes),
        "trace.bookkeeping_s": sum(t.self_times().get(BOOKKEEPING, 0.0) for t in tracers),
    }
    m.update(_event_log_totals(traced["intervals"]))
    return m


def run_workload(name: str, seed: int, seconds: float, trace: bool, toy: bool = False,
                 pins: dict | None = None) -> dict:
    """Run one workload in this process; returns the result object plus
    a ``detail`` dict. ``pins=None`` uses pinned results where they
    apply (``pins.json``); ``toy`` shrinks the inputs (smoke test)."""
    if name not in WORKLOADS:
        raise ValueError(f"unknown workload {name!r}; choose from {WORKLOADS}")
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import cdc_workload
    import query_workload

    host.sweep(WORK)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    probe_before = host.host_probe()
    host.log("host probed")
    t_setup = time.perf_counter()
    ops = Ops()
    with host.PeakRss() as rss:
        cdc = name == "cdc_apply"
        spark = host.start_spark(WORK, shuffle_partitions=host.CORES * (1 if cdc else 2), event_log=trace)
        try:
            if cdc:
                if pins is None and seed == DEFAULT_SEED and not toy:
                    pins = load_pins()["cdc_apply"]
                size = cdc_workload.TOY if toy else cdc_workload.CdcSize()
                res = cdc_workload.run(spark, WORK, seed, seconds, trace, size, pins, ops)
                e2e, detail = _cdc_metrics(res)
            else:
                if pins is None and not toy:
                    pins = load_pins()["query_suite"]
                scale = query_workload.TOY_SCALE if toy else query_workload.SCALE
                res = query_workload.run(spark, WORK, seconds, trace, scale, pins, ops)
                e2e, detail = _query_metrics(res)
        finally:
            host.stop_spark(spark)
            host.log("session stopped")
    e2e["setup_s"] = res["timed_start"] - t_setup
    layers = None
    if trace:
        layers = {k: 0 for k in layer_units()}
        layers.update(res["layers"])
        layers.update(_trace_metrics(res))
        layers["host.peak_rss_mb"] = rss.peak_mb
        layers["host.workers_peak_rss_mb"] = rss.peak_by_kind.get("workers", 0.0)
    host.sweep(WORK)
    detail.update(
        {
            "workload": name,
            "seed": seed,
            "host_probe_s": [probe_before, host.host_probe()],
            "peak_rss_mb": rss.peak_mb,
            "peak_rss_mb_by_process": rss.peak_by_kind,
            "failed_op_ratio": ops.failed / max(ops.attempted, 1),
            "failures": ops.failures,
        }
    )
    return {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "e2e": e2e,
        "layers": layers,
        "detail": detail,
    }


def result_line(res: dict, trace: bool) -> dict:
    units = layer_units() if trace else E2E_UNITS
    values = res["layers"] if trace else res["e2e"]
    return {
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all", choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    host.adopt_orphans()
    try:
        _main(args)
    finally:
        host.reap()


def _main(args: argparse.Namespace) -> None:
    if args.workload == "all":
        for name in WORKLOADS:
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(args.trace)]
            if subprocess.run(cmd).returncode != 0:
                sys.exit(1)
        return
    if not os.path.isdir(os.path.join(ROOT, "dbp_etl_spark")):
        sys.exit(f"perfbench: no engine package at {ROOT}/dbp_etl_spark")
    res = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    print("perfbench-detail " + json.dumps(res["detail"]), flush=True)
    print(json.dumps(result_line(res, bool(args.trace))), flush=True)


if __name__ == "__main__":
    main()
