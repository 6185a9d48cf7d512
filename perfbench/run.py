#!/usr/bin/env python3
"""Lakehouse benchmark: one seeded, closed-loop workload per run.

    python3 perfbench/run.py --workload cow_cdc_upsert --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root (the `hudi_demo_spark` package is imported
from the working directory). Each run is a fresh process with a fresh
lake under `.perfbench_work/` in the working directory, removed at the
end; Spark runs `local[N]` with N the CPUs this process may use.

Stdout: a human-readable report (every end-to-end metric with unit and
sample count, the correctness verdict, and with `--trace 1` the
per-layer table), then ONE JSON line
`{"correct", "attempted", "failed", "metrics"}` whose metrics are the
`end_to_end` entries of BENCHMARK.json (`--trace 0`) or its
`per_layer` entries (`--trace 1`). Logs go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

DRIVER_MEMORY = "1g"
TAIL_Q = 0.9
SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "BENCHMARK.json")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def pin_env(work: str) -> dict:
    """Keep every byte Spark and Python write inside `work`, and pin
    the core count (get_spark would otherwise default to 32)."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the spark-submit launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.local.dir": f"{work}/spark-local",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
        ),
    }


def stop_spark(spark) -> None:
    """Stop the context, then end the JVM (it exits on stdin EOF) and
    wait for it, killing it if it lingers."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    try:
        gw.shutdown()
    except Exception:
        pass  # the JVM may already be gone; the wait below is what matters
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def pct(xs, q) -> float:
    return float(statistics.quantiles(xs, n=100, method="inclusive")[int(q * 100) - 1]) \
        if len(xs) > 1 else float(xs[0])


def e2e_metrics(wl, setup_s: float, mem_mb: float) -> dict:
    s = wl.s
    committed, fed = s.amp_point
    rows = [
        ("setup_s", setup_s, "s", 1),
        ("ingest_rows_per_s", s.rows_in / s.write_s, "rows/s", len(s.commit)),
        ("commit_p50_s", statistics.median(s.commit), "s", len(s.commit)),
        ("commit_tail_s", pct(s.commit, TAIL_Q), "s", len(s.commit)),
        ("read_p50_s", statistics.median(s.read), "s", len(s.read)),
        ("read_tail_s", pct(s.read, TAIL_Q), "s", len(s.read)),
        ("freshness_p50_s", statistics.median(s.fresh), "s", len(s.fresh)),
        ("service_s", statistics.median(s.service), "s", len(s.service)),
        ("write_amp", committed / fed, "ratio", len(s.space_amp)),
        ("space_amp", statistics.median(s.space_amp), "ratio", len(s.space_amp)),
        ("live_mem_mb", mem_mb, "MB", 1),
    ]
    return {name: (value, unit, n) for name, value, unit, n in rows}


def run(args, work: str) -> tuple[dict, list[str]]:
    from perfbench import inputs
    from perfbench.layers import instrument_all, per_layer_metrics
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    wl_cls = WORKLOADS[args.workload]
    conf = pin_env(work)
    t0 = time.perf_counter()
    plan = inputs.generate(args.workload, args.seed, f"{work}/inputs")
    log(f"inputs generated in {time.perf_counter() - t0:.2f} s")

    from hudi_demo_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", cpus=cpus(), extra_conf=conf)
    start_s = time.perf_counter() - t0
    report = []
    try:
        tracer = Tracer(spark)
        if args.trace:
            instrument_all(tracer)
        wl = wl_cls(spark, plan, tracer)
        t0 = time.perf_counter()
        wl.setup(f"{work}/lake")
        seed_s = time.perf_counter() - t0
        wl.warm_up()
        warm_s = time.perf_counter() - t0 - seed_s
        setup_s = start_s + seed_s + warm_s

        tracer.active = bool(args.trace)
        wl.measure(args.seconds)
        tracer.active = False
        wall = time.perf_counter() - wl.t_measure
        mem_mb = wl.program_mem_mb()
        t0 = time.perf_counter()
        wl.final_check()
        log(f"measured {wall:.2f} s; final check {time.perf_counter() - t0:.2f} s")
        log(f"commit samples {wl.s.commit}; read samples {wl.s.read}; "
            f"service samples {wl.s.service}")

        s = wl.s
        e2e = e2e_metrics(wl, setup_s, mem_mb)
        report.append(
            f"workload {args.workload}  seed {args.seed}  cores {cpus()}  "
            f"closed loop, 1 client  measured {wall:.1f} s, {s.steps} steps"
        )
        report.append(
            f"setup: session {start_s:.2f} s, seeding {seed_s:.2f} s, "
            f"warm-up {warm_s:.2f} s ({wl.warmup_steps} steps)"
        )
        report.append(f"{'metric':<20}{'value':>14}  {'unit':<8}{'samples':>8}")
        for name, (v, unit, n) in e2e.items():
            report.append(f"{name:<20}{v:>14.6g}  {unit:<8}{n:>8}")
        error_rate = s.failed / max(1, s.attempted)
        report.append(f"{'error_rate':<20}{error_rate:>14.6g}  {'ratio':<8}{s.attempted:>8}")
        report.append(
            f"correct: {s.failed == 0}  ({s.failed} failed of {s.attempted} ops)"
        )
        report += [f"  error: {e}" for e in s.errors]

        if args.trace:
            from perfbench.layers import LAYER_MAP

            layer = per_layer_metrics(wl, tracer, start_s)
            report.append("per-layer (traced run):")
            for lname, (ms, moves, on) in LAYER_MAP.items():
                vals = "  ".join(f"{m}={layer[f'{lname}.{m}']:.6g}" for m in ms)
                report.append(f"  {lname:<22}{vals}")
                report.append(f"  {'':<22}-> {', '.join(moves)} on {on}")
            report.append(
                "tracing overhead: %.4f s per step (e2e: compare with an "
                "untraced run, e.g. perfbench/steady.py --trace-overhead)"
                % layer["trace.overhead_s"]
            )
            out = os.path.join(
                os.path.dirname(work), f"trace-{args.workload}-{args.seed}.json"
            )
            tracer.dump(out)
            report.append(f"span dump: {out} ({len(tracer.spans)} spans)")
            with open(SPEC) as f:
                spec = json.load(f)["per_layer"]
            metrics = {
                m["name"]: {"value": layer[m["name"]], "unit": m["unit"]} for m in spec
            }
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}
        result = {
            "correct": s.failed == 0,
            "attempted": s.attempted,
            "failed": s.failed,
            "metrics": metrics,
        }
    finally:
        stop_spark(spark)
    return result, report


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)   # the engine under test, and perfbench itself
    try:
        import hudi_demo_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {root}: {e}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # the report and the JSON line go to the real stdout; everything
    # else printed by this process or its children goes to stderr
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        result, report = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in report:
        print(line, file=out)
    print(json.dumps(result), file=out)
    out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
