"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload etl_sync --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 1

A run starts one Spark session (``local[min(nproc, 4)]``, otherwise the
package's ``build_session`` defaults) from this process, generates the
seeded inputs, does the workload's one-off load, warms up with one
untimed iteration, then runs iterations back to back until ``--seconds``
have passed (at least one). ``setup_s`` is the wall time from session
start to the first timed iteration; ``job_s`` is the median of the
untraced iterations. Outputs are checked after every iteration, outside
the timed region. The last line of standard output is a JSON object:
``correct``, ``attempted``, ``failed`` and the metrics: end-to-end ones
with ``--trace 0``, per-layer ones with ``--trace 1``. In a traced run,
iterations alternate untraced and traced (at least two of each, in ABBA
order), so the tracing overhead is measured within the run.
``--workload all`` runs each workload in turn (untraced) and prints one
summary table.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("etl_sync", "corpus_dedup", "warehouse_reads")
END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "rows_per_s": "1/s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=1.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def start_session(work: str, n: int):
    """Spark in local mode with every scratch path inside ``work``."""
    from uma_etl_iis_loader_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = build_session(
        "perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.hadoop.hadoop.tmp.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            # keep every job/stage/execution of a run for the traced harvest
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and its Python workers)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_workload(args) -> dict:
    from perfbench import tracing
    from perfbench.workloads import WORKLOADS

    n = cores()
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the Python workers import the package and this benchmark by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, n)
        start_s = time.perf_counter() - t0

        wl = WORKLOADS[args.workload](spark, args.seed, work, n)
        wl.prepare()
        tracer = tracing.Tracer(spark)
        listener = None
        if args.trace:
            listener = tracing.register_phase_listener(spark)
            tracer.enabled, tracer.iteration = True, -1
        with tracer.span("setup"):
            wl.load(tracer)
        if args.trace:
            tracer.enabled = False
            tracing.unregister_phase_listener(spark, listener)

        t = time.perf_counter()
        wl.warm_up(tracer)
        warm_s = time.perf_counter() - t
        gauges = tracing.Gauges(spark)

        walls = {False: [], True: []}
        stolen = {False: [], True: []}
        errors: list[list[str]] = []
        i = 0
        t_loop = time.perf_counter()
        setup_s = t_loop - t0
        while True:
            # untraced/traced in ABBA order, so warm-up drift cancels out
            # of the overhead estimate
            traced = bool(args.trace) and i % 4 in (1, 2)
            if traced:
                listener = tracing.register_phase_listener(spark, listener)
            tracer.enabled, tracer.iteration = traced, i
            errs = []
            ticks = tracing.cpu_ticks()
            t = time.perf_counter()
            try:
                with tracer.span("iteration"):
                    result = wl.iterate(i, tracer)
                wall = time.perf_counter() - t
                errs = wl.check(result)
            except Exception as exc:  # noqa: BLE001 - a failed iteration is counted, not fatal
                wall = time.perf_counter() - t
                errs = [f"{type(exc).__name__}: {exc}"]
            tracer.enabled = False
            if traced:
                tracing.unregister_phase_listener(spark, listener)
            stolen[traced].append(tracing.stolen_share(ticks, tracing.cpu_ticks()))
            walls[traced].append(wall)
            errors.append(errs)
            gauges.after_iteration()
            i += 1
            done = len(errors) >= (4 if args.trace else 1)
            if done and time.perf_counter() - t_loop >= args.seconds:
                break
        failed = sum(1 for e in errors if e)
        for k, e in enumerate(errors):
            for msg in e[:5]:
                print(f"iteration {k}: {msg}", file=sys.stderr)

        job_s = tracing.median(walls[False])
        e2e = {
            "setup_s": setup_s,
            "job_s": job_s,
            "rows_per_s": wl.input_rows / job_s,
        }
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "cores": n,
            "iterations": len(walls[False]),
            "iteration_s": walls[False],
            # share of the machine's CPU the host took, a diagnostic only
            "stolen_share": stolen[False],
            "fail_ratio": failed / len(errors),
            # VmHWM of the driver JVM + Python; a per-layer metric, because
            # the JVM's heap sizing makes it spread too much for a bound
            "peak_rss_mb": gauges.peak_rss_mb(),
            "input": wl.sizes(),
            "session.start_s": start_s,
            "session.warm_iters_s": warm_s,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        if args.trace:
            from perfbench.layers import layer_metrics

            harvest = tracing.harvest(spark, tracer, listener)
            metrics = layer_metrics(wl, tracer, harvest, walls, info, gauges, n)
            spans_path = os.path.join(ROOT, ".perfbench_work", f"trace-{args.workload}-{args.seed}.json")
            with open(spans_path, "w") as f:
                json.dump(
                    {"spans": [vars(s) for s in tracer.spans], "sql": harvest.sql_spans},
                    f,
                )
            info["trace_file"] = os.path.relpath(spans_path, ROOT)
        print(json.dumps(info), file=sys.stderr)
        return {
            "correct": failed == 0,
            "attempted": len(errors),
            "failed": failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def run_all(args) -> int:
    """Each workload in its own process, then one table of end-to-end
    metrics with units, plus peak_rss_mb and fail_ratio from each run's
    stderr summary."""
    table = dict(END_TO_END, peak_rss_mb="MiB", fail_ratio="ratio")
    rows = []
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        proc = subprocess.run(cmd, capture_output=True, text=True, check=False)
        if proc.returncode != 0:
            print(proc.stderr, file=sys.stderr)
            return proc.returncode
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        info = next(json.loads(line) for line in reversed(proc.stderr.splitlines())
                    if line.startswith('{"workload"'))
        rows.append((name, dict({k: m["value"] for k, m in out["metrics"].items()},
                                peak_rss_mb=info["peak_rss_mb"], fail_ratio=info["fail_ratio"])))
    print(f"{'workload':16s} " + " ".join(f"{k + ' [' + u + ']':>20s}" for k, u in table.items()))
    for name, vals in rows:
        print(f"{name:16s} " + " ".join(f"{vals[k]:20.4f}" for k in table))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import uma_etl_iis_loader_spark  # noqa: F401
    except ImportError:
        print(f"perfbench: the package uma_etl_iis_loader_spark is not under {ROOT}",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    print(json.dumps(run_workload(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
