"""Repo benchmark: one workload, one seed, one closed-loop client.

Usage, from the root of the repo:

    python3 perfbench/run.py --workload dashboard_sf0.001 --seed 1 \\
        --seconds 10 --trace 0

Set-up (JVM and session start, seeded inputs, an untimed warm-up) is
timed as ``setup_s``. Then the workload's op list runs in passes, one
op at a time; each op's output is checked after the op, outside its
timed region. ``--trace 1`` runs every op
twice, untraced and traced, and reports the per-layer figures of the
traced ops and the tracing overhead (see README.md).

The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
is the run record (cores, heap, canary, load average, per-op results).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter

PACKAGE = "b2b_data_pipeline_indiamart_spark"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Loop:
    """Runs a workload's ops one at a time and tallies the results."""

    def __init__(self, wl, spark):
        self.wl, self.spark = wl, spark
        self.attempted = 0
        self.failed = 0
        self.records: list[dict] = []
        #: the workload's own counts (bytes written, docs admitted, ...),
        #: kept apart for untraced and traced ops
        self.counters = {False: Counter(), True: Counter()}

    def run_op(self, op, tracer) -> float | None:
        """One op, then its check outside the timed region. Returns the
        op's latency, or None when it raised."""
        self.attempted += 1
        self.wl.counters = self.counters[tracer.enabled]
        rec = {"op": op, "traced": tracer.enabled}
        t0 = time.perf_counter()
        try:
            out = self.wl.run(self.spark, op, tracer)
            rec["latency_s"] = time.perf_counter() - t0
            tracer.attach_jobs()
            rec["ok"] = bool(self.wl.check(self.spark, op, out))
        except Exception as exc:  # noqa: BLE001 - a failed op is counted
            rec.update(ok=False, error=f"{type(exc).__name__}: {exc}"[:300])
            traceback.print_exc(file=sys.stderr)
        self.failed += not rec["ok"]
        self.records.append(rec)
        return rec.get("latency_s")

    def run_passes(self, passes: int, tracers) -> dict:
        """``passes`` passes of the op list. With one tracer each op runs
        once; with two (untraced, traced) each op runs under both, back to
        back, alternating which goes first so that warm-up drift cancels
        out of the difference. Returns ``{traced: (latencies, pass walls)}``."""
        out = {t.enabled: ([], []) for t in tracers}
        for _ in range(passes):
            wall = dict.fromkeys(out, 0.0)
            for i, op in enumerate(self.wl.ops()):
                for tracer in tracers if i % 2 == 0 else tracers[::-1]:
                    latency = self.run_op(op, tracer)
                    if latency is not None:
                        out[tracer.enabled][0].append(latency)
                        wall[tracer.enabled] += latency
            for traced, (_, walls) in out.items():
                walls.append(wall[traced])
        return out


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        sys.stderr.write(
            f"perfbench: no {PACKAGE}/ package in {root}; "
            "run from the root of the repo\n"
        )
        return 2
    # the checkout root, not this directory, heads the import path
    sys.path[0] = root
    from perfbench import runtime, workloads

    if args.workload not in workloads.WORKLOADS:
        sys.stderr.write(f"perfbench: unknown workload {args.workload!r}; "
                         f"choose from {sorted(workloads.WORKLOADS)}\n")
        return 2
    base = os.path.join(root, ".bench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    env = runtime.configure(root, work)
    try:
        record, result = measure(args, env, work, base)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"run_record": record}))
    print(json.dumps(result))
    return 0


def measure(args, env: dict, work: str, base: str) -> tuple[dict, dict]:
    from b2b_data_pipeline_indiamart_spark.session import get_spark
    from perfbench import layers, runtime, workloads
    from perfbench.spans import Tracer

    wl = workloads.WORKLOADS[args.workload](args.seed)
    load_start = runtime.loadavg()
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    try:
        session_start_s = time.perf_counter() - t0
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        wl.setup(spark, os.path.join(work, "inputs"))
        setup_s = time.perf_counter() - t0
        canary_start = runtime.canary_seconds(spark, env["cores"])

        passes = max(1, round(args.seconds / wl.pass_seconds))
        loop = Loop(wl, spark)
        plain = Tracer(sc, enabled=False)
        if args.trace:
            tracer = Tracer(sc, enabled=True)
            layers.wrap_modules(tracer)
            try:
                by_mode = loop.run_passes(passes, (plain, tracer))
            finally:
                tracer.unwrap_all()
            walls = by_mode[False][1]
            metrics = layers.per_layer(
                tracer, wl, env["cores"], loop.counters[True],
                session_start_s=session_start_s,
                peak_rss_mb=runtime.jvm_peak_rss_mb(spark)
                + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
                overhead_s=statistics.median(by_mode[True][1]) - statistics.median(walls),
            )
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            tracer.write(os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
        else:
            latencies, walls = loop.run_passes(passes, (plain,))[False]
            metrics = {
                "wall_s": (statistics.median(walls), "s"),
                "op_p50_s": (statistics.median(latencies), "s"),
                "setup_s": (setup_s, "s"),
            }
        canary_end = runtime.canary_seconds(spark, env["cores"])
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            **env,
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "canary_s": [canary_start, canary_end],
            "canary_idle_s": runtime.CANARY_IDLE_S,
            "contended": max(canary_start, canary_end)
            > runtime.CANARY_IDLE_S * runtime.CANARY_CONTENDED_FACTOR,
            "loadavg": [load_start, runtime.loadavg()],
            "session_start_s": session_start_s,
            "passes": passes,
            "pass_walls_s": walls,
            "failed_frac": loop.failed / max(loop.attempted, 1),
            "ops": loop.records,
        }
    finally:
        wl.teardown()
        runtime.stop_session(spark)
    result = {
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return record, result


if __name__ == "__main__":
    sys.exit(main())
