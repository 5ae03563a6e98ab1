#!/usr/bin/env python3
"""Warm-operation benchmark of the company-data pipeline.

    python3 perfbench/run.py --workload etl_match --seed 1 --seconds 15 --trace 0

Builds inputs from ``--seed``, starts the library's own session
(``get_spark()``), warms up, then repeats the workload's unit of work
until its fixed number of units ran and ``--seconds`` have passed,
checks every output, and prints one JSON
line last: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  Exits non-zero when an output check fails,
or when the library is not beside this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS, release  # noqa: E402

PACKAGE = "firmable_company_data_pipeline_spark"

# Units of a traced run, in the order untraced, traced, traced, untraced.
TRACED_UNITS = 4


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """End-to-end and per-layer metric names with their units, as
    BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return tuple({m["name"]: m["unit"] for m in bench[k]} for k in ("end_to_end", "per_layer"))


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=tuple(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Keep the session's temporary files inside the checkout.  These
    settings only move files; the session's configuration is untouched."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)


def retained_heap_mb(spark) -> float:
    """Live heap as the last full GC left it.  The pause between the two
    collections lets Spark's cleaner drop what the first one released;
    reading the pools' post-collection usage leaves out objects
    allocated after the collection."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    time.sleep(0.5)
    jvm.System.gc()
    used = 0
    for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        after_gc = pool.getCollectionUsage()
        if str(pool.getType()) == "Heap memory" and after_gc is not None:
            used += after_gc.getUsed()
    return used / 2**20


def timed_phase(wl, seconds: float, min_units: int, alternate: bool = False) -> list[dict]:
    """Repeat ``wl.unit`` until ``seconds`` have passed and at least
    ``min_units`` units ran.  Returns the untraced units and, with
    ``alternate``, the traced ones: units then run untraced, traced,
    traced, untraced (and so on), so a drift across the phase, such as
    the JIT still warming up, weighs on both halves alike."""
    halves = [{"units": [], "lats": [], "spans": []} for _ in range(2)]
    t0 = time.perf_counter()
    k = 0
    while k < min_units or time.perf_counter() - t0 < seconds:
        traced = alternate and k % 4 in (1, 2)
        wl.tracer.traced = traced
        half = halves[1 if traced else 0]
        with wl.tracer.span("unit") as sp:
            unit_lats, unit_wall = wl.unit(k)
        half["units"].append(unit_wall)
        half["lats"] += unit_lats
        half["spans"].append(sp)
        k += 1
    wl.tracer.traced = False
    heap = retained_heap_mb(wl.spark)
    release(wl.spark)
    for half in halves:
        half["heap"] = heap
    return halves if alternate else halves[:1]


def summarize(phase: dict, fixed_units: int) -> dict:
    """``wall_s`` is the wall time of ``fixed_units`` units, a fixed
    amount of work: ``fixed_units`` times a typical unit, whose ops each
    take the median latency of that op over the phase's units, so that a
    slow moment of the machine does not decide it (0 if an op failed);
    ``op_p50_s`` is the median over every op that succeeded."""
    from perfbench.stats import median

    lats = phase["lats"]
    ok_lats = [x for x in lats if x is not None]
    n_units = len(phase["units"])
    per_unit = len(lats) // n_units
    # the i-th op of every unit: the same operation, repeated
    same_op = [lats[i::per_unit] for i in range(per_unit)]
    return {
        "wall_s": 0.0 if None in lats else fixed_units * sum(map(median, same_op)),
        "op_p50_s": median(ok_lats) if ok_lats else 0.0,
        "retained_heap_mb": phase["heap"],
        "attempted": len(phase["lats"]),
        "failed": sum(1 for x in phase["lats"] if x is None),
        "n_units": len(phase["units"]),
        "unit_walls": phase["units"],
        "op_lats": phase["lats"],
    }


def spark_layers(log, groups: list[str], n_units: int, unit_wall: float, cores: int) -> dict:
    t = log.totals(log.jobs_in_groups(groups))
    out = {
        f"spark.{k}": t[k] / n_units
        for k in (
            "jobs",
            "stages",
            "tasks",
            "executor_run_s",
            "executor_cpu_s",
            "gc_s",
            "shuffle_read_bytes",
            "shuffle_write_bytes",
            "spill_bytes",
            "input_bytes",
            "output_bytes",
        )
    }
    out["spark.slot_util"] = out["spark.executor_run_s"] / (unit_wall * cores)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(
        os.path.join(ROOT, "bench.py")
    ):
        print(f"perfbench: the library ({PACKAGE}/, bench.py) is not in {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench-work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)

    from firmable_company_data_pipeline_spark import get_spark
    from perfbench.trace import Tracer

    extra = None
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir, exist_ok=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        }
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=extra)
    try:
        spark.range(1).count()
        start_s = time.perf_counter() - t0
        cores = spark.sparkContext.defaultParallelism

        tracer = Tracer(spark, traced=False)
        wl = WORKLOADS[args.workload](spark, os.path.join(work, "data"), args.seed, tracer)
        gen_s = wl.inputs()
        t1 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t1
        setup_s = start_s + gen_s + warm_s

        if args.trace:
            untraced, traced = timed_phase(wl, args.seconds, TRACED_UNITS, alternate=True)
            layers = trace_layers(wl, untraced, traced)
            tracer.write(os.path.join(work, "spans.json"))
            # ops of both halves count as attempted
            phase = {k: untraced[k] + traced[k] for k in ("units", "lats")}
            phase["heap"] = untraced["heap"]
        else:
            (phase,) = timed_phase(wl, args.seconds, wl.MIN_UNITS)
        summary = summarize(phase, wl.MIN_UNITS)
    finally:
        stop_session(spark)
    if args.trace:
        from perfbench.eventlog import EventLog

        log = EventLog.parse(log_dir)
        layers.update(wl.log_layers(log, traced))
        layers.update(
            spark_layers(
                log,
                traced_groups(wl, traced),
                len(traced["units"]),
                layers["trace.wall_s"],
                cores,
            )
        )
        layers["session.start_s"] = start_s
        layers["jvm.retained_heap_mb"] = summary["retained_heap_mb"]

    correct = not wl.failures and summary["failed"] == 0
    end_to_end, per_layer = declared_metrics()
    if args.trace:
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in per_layer.items()}
    else:
        values = {"setup_s": setup_s, **summary}
        metrics = {n: {"value": float(values[n]), "unit": u} for n, u in end_to_end.items()}
    report(args.workload, summary, (start_s, gen_s, warm_s), metrics)
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": summary["attempted"],
                "failed": summary["failed"],
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0 if correct else 1


def trace_layers(wl, untraced: dict, traced: dict) -> dict:
    from perfbench.stats import median

    tr = wl.tracer
    out = {
        f"trace.{key}": median([u for u in half["units"] if u is not None] or [0.0])
        for key, half in (("untraced_wall_s", untraced), ("wall_s", traced))
    }
    out["trace.overhead_s"] = out["trace.wall_s"] - out["trace.untraced_wall_s"]
    op_spans = [
        d for sp in traced["spans"] for d in tr.children(sp) if d["ok"] and d["name"] != "check"
    ]
    tr.traced = True
    out.update(wl.layers(op_spans))
    tr.traced = False
    return out


def traced_groups(wl, traced: dict) -> list[str]:
    from perfbench.trace import Tracer

    groups = []
    for sp in traced["spans"]:
        for s in [sp] + wl.tracer.descendants(sp):
            if s["name"] != "check":
                groups.append(Tracer.group(s))
    return groups


def report(workload: str, summary: dict, setup_parts: tuple, metrics: dict) -> None:
    """Human-readable lines before the JSON result line."""
    print(
        f"{workload}: {summary['n_units']} unit(s), {summary['attempted']} op(s), "
        f"{summary['failed']} failed (failed_frac "
        f"{summary['failed'] / max(1, summary['attempted']):.3f}); setup_s = session "
        "{:.3f} + inputs {:.3f} + warm-up {:.3f} s".format(*setup_parts)
    )
    from perfbench.stats import highest_tail_percentile, percentile

    fmt = lambda xs: " ".join("failed" if x is None else f"{x:.3f}" for x in xs)  # noqa: E731
    print(f"  unit walls (s): {fmt(summary['unit_walls'])}")
    print(f"  op latencies (s): {fmt(summary['op_lats'])}")
    ok = [x for x in summary["op_lats"] if x is not None]
    tail = highest_tail_percentile(len(ok))
    if tail is None:
        print(f"  op_p50_s over {len(ok)} ops; no tail percentile has 10 samples beyond it")
    else:
        print(f"  op_p50_s over {len(ok)} ops; op p{tail:g} = {percentile(ok, tail):.4f} s")
    for name, m in metrics.items():
        print(f"  {name:40s} {m['value']:.6g} {m['unit']}")


if __name__ == "__main__":
    sys.exit(main())
