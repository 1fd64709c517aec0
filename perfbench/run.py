"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Each run starts a fresh Spark session at
local[<cores>] (all cores the process may use) and drives it from one
thread, one operation at a time (a closed loop with one client). With
``--trace 0`` it reports the end-to-end metrics listed in BENCHMARK.json;
with ``--trace 1`` it records spans, job groups and the Spark event log and
reports the per-layer metrics instead. Metrics a workload does not exercise
(the crawl layers on the analytics workload and the reverse) read 0.

Every result is checked (crawl against the sequential oracle, queries
against their DuckDB twins) outside the timed region; the last stdout line
is ``{"correct", "attempted", "failed", "metrics"}`` and the exit code is 1
when any check failed. A line before it carries the box stamp, the sample
counts and workload-specific figures. Everything the run writes goes to
``.perfbench_work/`` in the checkout, removed at the end."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench_work"

# hypervisor steal share above which the detail line marks a run: its wall
# times are not comparable with a quiet run's
HIGH_STEAL = 0.05


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["crawl", "analytics"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import pyspark  # noqa: F401
        import scrapy_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    from perfbench import analytics, crawl, harness, tracing

    workload = {"crawl": crawl, "analytics": analytics}[args.workload]
    trace = args.trace == 1
    # a traced run times untraced and traced operations in ABBA order, so a
    # steady drift (JIT warm-up, growing seen set) cancels in the overhead
    n_ops = max(workload.MIN_OPS, round(args.seconds / workload.NOMINAL_OP_S))
    schedule = [False, True, True, False] if trace else [False] * n_ops
    # all cores this process may run on
    cores = len(os.sched_getaffinity(0))
    harness.prepare_env(ROOT, WORK)
    box = harness.box_stamp()
    spark, setup_s = harness.set_up(cores, harness.session_conf(WORK, event_log=trace))
    try:
        app_id = spark.sparkContext.applicationId
        tracer = tracing.Tracer(spark.sparkContext) if trace else None
        steal0 = harness.cpu_steal()
        out = workload.run(spark, args.seed, schedule, WORK, tracer)
        steal1 = harness.cpu_steal()
        rss = harness.peak_rss_mb(spark)
    finally:
        harness.shut_down(spark)

    untraced = [o for o in out["ops"] if not o["traced"]]
    traced = [o for o in out["ops"] if o["traced"]]
    # CPU per operation is the mean over the timed operations, not their
    # median: the operations still sit on the JIT warm-up curve, and the
    # mean over the whole fixed sequence varies less between runs
    values = {
        "setup_s": setup_s,
        "op_cpu_s": statistics.fmean(o["cpu_s"] for o in untraced),
        "jobs_per_op": statistics.median(o["jobs"] for o in untraced),
    }
    # wall time per operation follows hypervisor steal (up to twice as long
    # at 20% steal), so it is reported here and not gated
    wall = {
        "op_s_p50": statistics.median(o["wall_s"] for o in untraced),
        "op_s_mean": statistics.fmean(o["wall_s"] for o in untraced),
    }
    steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    detail = {
        "perfbench": "detail",
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "box": box,
        "cores": cores,
        "steal_share": steal,
        "high_steal": steal > HIGH_STEAL,
        "first_op_s": out["first_op_s"],
        **wall,
        "ops": untraced,
        "peak_rss_mb": rss,
        **out["detail"],
    }
    if trace:
        layers = dict(out["layers"])
        layers["session.get_spark_s"] = setup_s
        layers["session.first_op_s"] = out["first_op_s"]
        layers["session.peak_rss_mb"] = rss
        rollup = tracing.event_log_rollup(str(WORK / "eventlog"), app_id)
        layers["jvm.jit_s"] = statistics.median(o["jit_s"] for o in traced)
        layers["trace_overhead"] = (
            statistics.median(o["wall_s"] for o in traced) / wall["op_s_p50"] - 1.0
        )
        # job groups are set on traced operations only: report per operation
        for name, groups in {**crawl.SPARK_GROUPS, **analytics.SPARK_GROUPS}.items():
            for k, v in tracing.merge_groups(rollup, groups).items():
                layers[f"spark.{name}.{k}"] = v if k == "task_skew" else v / len(traced)
        detail["job_groups"] = rollup
        metrics = {
            m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
        detail["end_to_end_traced"] = {**values, **wall}
    else:
        metrics = {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    shutil.rmtree(WORK, ignore_errors=True)
    return 0 if out["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
