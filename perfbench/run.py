"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  The line before it is the environment record.  Inputs,
Spark scratch space and outputs live under ``.perfbench_work/`` in the
working directory, which the run removes at the end; a traced run leaves
its spans in ``.perfbench_traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from suite import QUERIES  # noqa: E402 — the suite's per-query span names

# Per-layer metrics and their units.  Every traced run reports all of
# them; a layer the workload does not exercise reads 0.
PER_LAYER = {
    "sources.scan_s": "s", "sources.input_records": "count",
    "reconcile.classify_self_s": "s", "reconcile.shuffle_write_bytes": "bytes",
    "reconcile.spill_bytes": "bytes",
    "report.write_self_s": "s", "report.records": "count",
    "repair.plan_self_s": "s", "repair.upsert_cells": "count", "repair.delete_keys": "count",
    "runner.jobs": "count", "runner.stages": "count", "runner.task_s": "s",
    "runner.driver_gap_s": "s", "runner.scan_amplification": "ratio",
    "merkle.diff_s": "s", "merkle.keys_s": "s", "merkle.drill_s": "s", "merkle.dirty_bucket_frac": "fraction",
    "merkle.jobs": "count",
    "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms", "streaming.planning_ms": "ms",
    "streaming.commit_ms": "ms", "streaming.offset_ms": "ms", "streaming.poll_gap_ms": "ms",
    "streaming.jobs_per_batch": "count", "streaming.snapshot_amplification": "ratio",
    "streaming.delta_latency_tail_s": "s",
    "streaming.compact_s": "s", "streaming.apply_s": "s", "streaming.superseded_frac": "fraction",
    **{f"suite.{q}.{m}": u for q in QUERIES for m, u in (("wall_s", "s"), ("jobs", "count"))},
    "suite.task_s": "s", "suite.driver_gap_s": "s",
    "spark.trivial_job_ms_start": "ms", "spark.trivial_job_ms_end": "ms",
    "cache.owned_after_unit": "count", "trace.overhead_s": "s", "error_rate": "fraction",
}
END_TO_END = {"setup_s": "s", "unit_p50_s": "s", "peak_rss_mb": "MB"}
SETUP_ROUNDS = 3
TRACE_DIR = ".perfbench_traces"  # a traced run's spans, one JSON file per run


def build_archive(root: str, workloads: dict) -> None:
    """Build step, once per checkout: run one cold unit of every workload
    in a JVM that dumps the classes it loaded into a class-data archive at
    exit.  Runs map the archive instead of loading and verifying those
    classes again, which takes about 9 s off JVM start and the first
    unit.  Steady-state code is unaffected."""
    from harness import Run, class_archive

    archive = class_archive(root)
    tmp = archive + ".tmp"
    run = Run(workload="", seed=0, seconds=0, trace=False, root=root,
              java_opts=f"-XX:ArchiveClassesAtExit={tmp}")
    run.start_session()
    try:
        for name in ("repair_dirty", "incremental_repair", "analytics_suite"):
            run.workload = name
            wl = workloads[name](run)
            wl.setup_round(0)
            wl.warm_unit()
            wl.close()
    finally:
        run.stop()
    os.replace(tmp, archive)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build", action="store_true",
                    help="only build the JVM class-data archive (a run builds it when missing)")
    args = ap.parse_args()

    root = os.getcwd()
    sys.path.insert(0, root)
    import mvrepair  # noqa: F401 — fail before any work outside a checkout

    from harness import (Run, class_archive, median, prepare_env, process_start_epoch,
                         remove_work, trivial_job_ms)
    import mv
    import suite

    workloads = {"reconcile_clean": mv.Batch, "repair_dirty": mv.Batch,
                 "incremental_repair": mv.Incremental, "analytics_suite": suite.Suite}
    prepare_env(root)
    archive = class_archive(root)
    if args.build:
        build_archive(root, workloads)
        remove_work(root)
        return 0
    if args.workload not in workloads or args.seed is None or args.seconds is None:
        ap.error(f"need --workload (one of {sorted(workloads)}), --seed and --seconds")
    build_s = 0.0
    if not os.path.exists(archive):
        # the build's stdout goes to stderr: the last stdout line is the
        # result; its time is left out of setup_s
        t0 = time.time()
        subprocess.run([sys.executable, os.path.abspath(__file__), "--build"],
                       cwd=root, stdout=sys.stderr, timeout=900, check=True)
        prepare_env(root)
        build_s = time.time() - t0

    # -Xshare:on: a JVM that cannot map the archive fails instead of
    # starting slower
    run = Run(workload=args.workload, seed=args.seed, seconds=args.seconds,
              trace=bool(args.trace), root=root,
              java_opts=f"-Xshare:on -XX:SharedArchiveFile={archive}")
    wl = workloads[args.workload](run)
    try:
        # Set-up: process, JVM and session start once, then rounds of fresh
        # inputs and one untimed warm-up unit each.  setup_s is the start
        # plus the median round.  Then the workload's MIN_SETTLE warm-ups,
        # and more until two agree within 15% (at most three more); those
        # are left out of setup_s, which would otherwise jump by a unit
        # whenever one more was needed.
        run.start_session()
        start_s = time.time() - process_start_epoch() - build_s
        warm = []
        for r in range(SETUP_ROUNDS):
            t0 = time.time()
            wl.setup_round(r)
            warm.append(wl.warm_unit())
            run.setup_rounds.append(time.time() - t0)
        settle = [wl.warm_unit() for _ in range(wl.MIN_SETTLE)]
        warm += settle
        while abs(warm[-1] - warm[-2]) > 0.15 * warm[-2] and len(settle) < wl.MIN_SETTLE + 3:
            settle.append(wl.warm_unit())
            warm.append(settle[-1])
        run.env.update(
            workload=args.workload, seed=args.seed, cores=run.cores,
            spark=run.spark.version,
            java=run.spark._jvm.java.lang.System.getProperty("java.version"),
            build_s=build_s, start_s=start_s, setup_rounds_s=run.setup_rounds, warm_up_units_s=warm, settle_units=len(settle),
            inputs=wl.describe(),
        )
        run.layer["spark.trivial_job_ms_start"] = [trivial_job_ms(run.spark, run.cores)]
        t_measure = time.time()
        wl.measure()
        run.env["measure_s"] = time.time() - t_measure
        run.layer["spark.trivial_job_ms_end"] = [trivial_job_ms(run.spark, run.cores)]
        run.env["trivial_job_ms"] = [run.layer[k][0] for k in ("spark.trivial_job_ms_start", "spark.trivial_job_ms_end")]
        unit = wl.headline()
        if args.trace:
            metrics = {k: 0.0 for k in PER_LAYER}
            metrics.update({k: v[0] for k, v in run.layer.items() if k.startswith("spark.")})
            layers = wl.layers()
            unknown = set(layers) - set(PER_LAYER)
            if unknown:
                raise KeyError(f"per-layer metrics missing from PER_LAYER: {sorted(unknown)}")
            metrics.update(layers)
            metrics["cache.owned_after_unit"] = run.max_owned
            metrics["error_rate"] = run.failed / max(1, run.attempted)
            traces = os.path.join(root, TRACE_DIR)
            os.makedirs(traces, exist_ok=True)
            run.tracer.write(os.path.join(traces, f"{args.workload}-{args.seed}.json"))
            units = PER_LAYER
        else:
            metrics = {"setup_s": start_s + median(run.setup_rounds),
                       "unit_p50_s": unit, "peak_rss_mb": run.peak_rss_mb()}
            units = END_TO_END
        inputs = wl.describe()
        run.env.update(inputs=inputs, op_times_s=run.times,
                       unit_rows_per_s=inputs["rows"] / unit if unit else 0.0)
    finally:
        wl.close()
        run.stop()
        remove_work(root)

    print(json.dumps({"env": run.env}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
