"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 5 --trace 0

Runs one workload in one local Spark session sized to this host and
prints, as the last line of standard output, one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` a separate traced run reports the per-layer metrics.
Host facts and notes go to standard error.  See perfbench/README.md.

Must run from the root of a checkout of the repository: it imports the
program from there and keeps every file it writes under
``.perfbench_work/`` (removed at exit) and ``.perfbench_out/`` (spans).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
STEAL_LIMIT = 0.05  # share of the host's CPU taken by other tenants

LAYER_UNITS = {"call_s": "s", "exec_s": "s", "cpu_s": "s",
               "rows_out": "rows", "jobs": "count", "shuffle_bytes": "bytes",
               "python_nodes": "count", "exchanges": "count"}
EXTRA_UNITS = {"cc.phases": "count", "cc.rounds": "count",
               "cc.edges_left_ratio": "ratio", "overlap_s": "s",
               "trace_overhead_s": "s", "trace.span_coverage": "ratio",
               "sink.bytes_per_triple": "bytes", "spark.tasks_failed": "count",
               "spark.spill_bytes": "bytes", "heap.live_mb": "MB"}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["kg_build", "operator_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _workload(name: str):
    if name == "kg_build":
        from kg_build import KgBuild
        return KgBuild
    from operator_mix import OperatorMix
    return OperatorMix


class Tally:
    """Checked operations and the output precision/recall sums."""

    def __init__(self) -> None:
        self.attempted = self.failed = 0
        self.hit = self.n_out = self.n_truth = 0

    def add(self, check: dict) -> None:
        self.attempted += 1
        self.failed += 0 if check["ok"] else 1
        self.hit += check["hit"]
        self.n_out += check["n_out"]
        self.n_truth += check["n_truth"]

    def fail(self) -> None:
        self.attempted += 1
        self.failed += 1


def _op(wl, tally: Tally, name=None):
    """One checked operation (the next one, or the one named); an
    exception counts as a failed one."""
    try:
        seconds, out, key, items = wl.run_once(name)
        tally.add(wl.check(out))
        return seconds, key, items
    except Exception:  # noqa: BLE001 - report and keep measuring
        traceback.print_exc(file=sys.stderr)
        tally.fail()
        return None


def measure(wl, seconds: float, tally: Tally) -> dict:
    """Closed loop, one client: run operations back to back until
    ``seconds`` have passed and the last pass over the workload's
    operation list is complete.

    Other tenants of a shared host can steal its CPU for a minute at a
    time, which stretches an operation by half or more.  An operation
    during which more than ``STEAL_LIMIT`` of the host's CPU was stolen
    is set aside, and each operation left without an undisturbed sample
    runs once more.  Set-aside samples are used only when that fails.

    After each operation, outside its timing, a full collection runs, so
    every operation starts on the same heap; the live heap it leaves is
    logged.  It is not a metric: over seeds it spread as wide as the
    largest bound allows (see README)."""
    from common import cpu_counters, cpu_shares, live_heap_mb

    samples, steal, live = [], [], []

    def timed(name=None) -> bool:
        c0 = cpu_counters()
        got = _op(wl, tally, name)
        if got is None:
            return False
        samples.append(got)
        steal.append(cpu_shares(c0, cpu_counters())["steal"])
        live.append(live_heap_mb(wl.spark))
        return True

    t0 = time.perf_counter()
    while (not samples or len(samples) % wl.pass_len
           or time.perf_counter() - t0 < seconds):
        if not timed():
            break
    clean_names = {s[1] for s, st in zip(samples, steal)
                   if st <= STEAL_LIMIT}
    for name in dict.fromkeys(s[1] for s in samples):
        if name not in clean_names:
            timed(name)
    if not samples:
        raise RuntimeError("no operation completed")
    clean = [s for s, st in zip(samples, steal) if st <= STEAL_LIMIT]
    use = clean if ({s[1] for s in clean} == {s[1] for s in samples}) \
        else samples
    return {
        "items_per_s": sum(s[2] for s in use) / sum(s[0] for s in use),
        "op_latency_s": wl.latency(use),
        "live_heap_mb": max(live),
        "ops": [(key, round(sec, 3), round(st, 3))
                for (sec, key, _items), st in zip(samples, steal)],
        "set_aside": len(samples) - len(use),
    }


def main(argv=None) -> int:
    args = _parse(argv)
    if not (os.path.isfile(os.path.join(ROOT, "ramp_shapes_spark",
                                        "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no ramp_shapes_spark checkout at {ROOT}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from common import (
        Tracer, cpu_counters, cpu_shares, host_facts, live_heap_mb,
        make_session, median, peak_rss_mb, stop_session,
    )

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    host = host_facts()
    print(json.dumps({"host": host}), file=sys.stderr)

    t0 = time.perf_counter()
    spark = make_session(ROOT, work, host["cores"], host["ram_mb"])
    session_s = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._gateway.proc.pid
    tally = Tally()
    wl = None
    try:
        wl = _workload(args.workload)(spark, work, args.seed, host["cores"])
        prep = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.prepare()
            prep.append(time.perf_counter() - t0)
        # the cold pass: JIT, code generation and worker start-up
        t0 = time.perf_counter()
        cold = [_op(wl, tally) for _ in range(wl.pass_len)]
        warm_s = time.perf_counter() - t0
        setup_s = session_s + median(prep) + warm_s
        print(json.dumps({"setup": {
            "session_s": session_s, "prep_s": prep, "warmup_s": warm_s,
            "ops": [(c[1], round(c[0], 3)) for c in cold if c]}}),
            file=sys.stderr)
        if args.trace:
            tracer = Tracer()
            traced = wl.traced(tracer)
            tracer.write(os.path.join(
                ROOT, ".perfbench_out",
                f"spans-{args.workload}-seed{args.seed}.jsonl"))
            for ok in traced["checks"]:
                tally.add({"ok": ok, "hit": 0, "n_out": 0, "n_truth": 0})
            metrics = {}
            for layer, rec in traced["layers"].items():
                for field, value in rec.items():
                    metrics[f"{layer}.{field}"] = {
                        "value": value, "unit": LAYER_UNITS[field]}
            extra = dict(traced["extra"])
            extra["spark.tasks_failed"] = traced["probe"].tasks_failed
            extra["spark.spill_bytes"] = traced["probe"].spill_bytes
            extra["heap.live_mb"] = live_heap_mb(spark)
            for name, unit in EXTRA_UNITS.items():
                metrics[name] = {"value": extra.get(name, 0), "unit": unit}
            print(json.dumps({"trace": traced["notes"]}), file=sys.stderr)
        else:
            cpu0 = cpu_counters()
            m = measure(wl, args.seconds, tally)
            m["cpu"] = cpu_shares(cpu0, cpu_counters())
            print(json.dumps({"measure": m}), file=sys.stderr)
            metrics = {
                "items_per_s": {"value": m["items_per_s"], "unit": "1/s"},
                "op_latency_s": {"value": m["op_latency_s"], "unit": "s"},
                "setup_s": {"value": setup_s, "unit": "s"},
                "peak_rss_mb": {"value": peak_rss_mb(jvm_pid), "unit": "MB"},
                "ok_frac": {"value": 1 - tally.failed / tally.attempted,
                            "unit": "ratio"},
                "output_precision": {
                    "value": tally.hit / max(tally.n_out, 1),
                    "unit": "ratio"},
                "output_recall": {
                    "value": tally.hit / max(tally.n_truth, 1),
                    "unit": "ratio"},
            }
    finally:
        if wl is not None:
            wl.close()
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
