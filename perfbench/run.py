"""Benchmark entry point.

    python3 perfbench/run.py --workload mixed_backlog --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the engine. Generates (or reuses) the
workload's inputs for the seed, sets up one shared Spark session, warms it,
then runs the closed loop for ``--seconds``. With ``--trace 0`` the last
stdout line carries the end-to-end metrics; with ``--trace 1`` the same
untraced window is followed by a traced one, and the line carries the
per-layer metrics (including the tracing overhead). Every file the run
writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=("mixed_backlog", "analytic_queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "cartodb_importer_spark")):
        print("perfbench: run from the root of an engine checkout "
              "(no cartodb_importer_spark/ here)", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every file Spark, the JVM and the engine write inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "spark-warehouse")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    # A fixed heap, smaller than the engine's 8g default and touched up
    # front. With the engine's default, G1 grew the heap to anywhere from
    # 2.7 to 5.3 GB of RSS between identical runs; so peak_rss_mb tracks
    # Python and off-heap JVM memory, not heap occupancy.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    import tempfile

    tempfile.tempdir = tmp
    sys.path.insert(0, root)
    from perfbench import datagen, tracing, workloads as wl

    phases = {}
    clock = time.perf_counter()

    def phase(name):
        nonlocal clock
        now = time.perf_counter()
        phases[name] = round(now - clock, 2)
        clock = now

    try:
        manifest = datagen.load(args.workload, args.seed, os.path.join(work, "inputs"))
        phase("inputs")
        spark, setup = wl.start_session({
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} -XX:+AlwaysPreTouch"),
            "spark.ui.showConsoleProgress": "false",
        })
        try:
            spark.sparkContext.setLogLevel("ERROR")
            clients = int(os.environ["SPARK_GRAFT_CPUS"])
            ctx = wl.Context(spark, run_dir, clients)
            load = wl.WORKLOADS[args.workload](ctx, manifest)
            phase("setup")
            load.warm_up()
            phase("warm_up")
            win = load.window(args.seconds, "untraced")
            phase("window")
            if args.trace:
                tracer = tracing.Tracer(spark.sparkContext)
                tracing.install_engine_spans(tracer)
                ctx.tracer = tracer
                try:
                    traced = load.window(args.seconds, "traced")
                finally:
                    tracer.restore()
                    ctx.tracer = None
                layers = wl.per_layer(traced, tracer, setup, win)
                os.makedirs(os.path.join(work, "traces"), exist_ok=True)
                tracer.dump(os.path.join(work, "traces", f"{args.workload}-{args.seed}.jsonl"))
                phase("traced_window")
            rss = wl.peak_rss_mb(spark)
        finally:
            wl.stop_session(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    phase("stop")

    os.makedirs(os.path.join(work, "ops"), exist_ok=True)
    with open(os.path.join(work, "ops", f"{args.workload}-{args.seed}.jsonl"), "w") as f:
        for o in win.ops:
            f.write(json.dumps({"group": o.group, "kind": o.kind, "start": o.start - win.start,
                                "seconds": o.seconds, "ok": o.ok, "rows": o.rows}) + "\n")
    e2e = wl.end_to_end(win, setup, sum(rss))
    units = {"setup_s": "s", "p50_sum_s": "s", "ops_per_s": "1/s", "peak_rss_mb": "MB"}
    summary = {k: round(v, 4) for k, v in wl.op_summary(win).items()}
    print(f"# {args.workload} seed={args.seed} clients={clients} ops={len(win.ops)} "
          f"wall={win.wall:.2f}s setup(get_spark, first action)={setup[0]:.2f}s, {setup[1]:.2f}s "
          f"rss_mb(py, jvm)={rss[0]:.0f}, {rss[1]:.0f} phases={phases}")
    print("# end-to-end: " + ", ".join(f"{k}={v:.4f} {units[k]}" for k, v in e2e.items()))
    print("# by operation: " + json.dumps(summary))
    for err in ctx.errors:
        print(f"# FAILED {err}")
    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
