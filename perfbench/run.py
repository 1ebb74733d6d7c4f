#!/usr/bin/env python3
"""Seeded benchmark of the inverted-index engine.

    python3 perfbench/run.py --workload index_build --seed 1 --seconds 40 --trace 0

Runs one workload (see perfbench/README.md) on ``local[N]``, N = the
CPUs this process may use, from this one driver process. Inputs come
from the seed and are cached per seed under ``.bench_cache/``; all
scratch output goes to ``.bench_work/`` and the full report of each
run to ``.bench_out/``, all inside the checkout.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` is the
separate traced run that prints the per-layer metrics. Every output is
checked; a failed check counts in ``failed`` and makes the exit code 1.
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "parallel_inverted_index_map_reduce_spark"

SETUP_CYCLES = 2
SMOKE_SCALE = 0.02
WARM_SCALE = 0.25
DRIVER_MEM = "1536m"

E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "items_per_s": "items/s",
             "peak_rss_mb": "MiB"}
LAYER_UNITS = {
    "session.start_s": "s", "session.warmup_s": "s", "sources.resolve_s": "s",
    "driver.construct_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.task_s": "s", "spark.max_task_s": "s",
    "spark.idle_frac": "ratio", "spark.shuffle_bytes": "bytes",
    "spark.failed_tasks": "count", "sinks.write_s": "s",
    "sinks.bytes_written": "bytes", "trace.overhead_s": "s",
}


def summarize(xs: list[float]) -> dict:
    """Median, sample count, quartiles and the highest percentile that
    still has at least ten samples beyond it (nearest rank)."""
    s = sorted(xs)
    n = len(s)
    out = {"n": n, "p50": statistics.median(s) if s else None}
    if n >= 2:
        q = statistics.quantiles(s, n=4)
        out.update(p25=q[0], p75=q[2])
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        k = math.ceil(round(p * n / 100, 9))  # nearest rank, 1-based
        if k >= 1 and n - k >= 10:
            out[f"p{p:g}"] = s[k - 1]
            break
    return out


def source_facts() -> dict:
    """Git SHA when the checkout is a repository, and a digest of the
    package sources either way."""
    sha = None
    if os.path.exists(os.path.join(ROOT, ".git")):
        try:
            r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                               capture_output=True, text=True, timeout=10)
            sha = r.stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    return {"git_sha": sha, "package_digest": h.hexdigest()}


def isolate_env(work: str, cpus: int) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_CPUS": str(cpus),
        # heap pinned (-Xms = -Xmx): the JVM's resident size then no longer
        # depends on when GC ergonomics chose to grow the heap
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_SUBMIT_OPTS": f"-Djava.io.tmpdir={tmp} -Dspark.ui.showConsoleProgress=false "
                             f"-Xms{DRIVER_MEM}",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs: a fast end-to-end check of the benchmark itself")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    isolate_env(work, cpus)
    try:
        import sparkstats
        from gen import ensure_inputs
        from tracing import Tracer, totals_by_name
        from workloads import WORKLOADS

        from parallel_inverted_index_map_reduce_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: cannot import the package: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    scale = SMOKE_SCALE if args.smoke else 1.0
    cls = WORKLOADS[args.workload]
    cache = os.path.join(ROOT, ".bench_cache")
    inputs, params = ensure_inputs(cache, cls.kind, args.seed, scale)
    src = source_facts()
    wl = cls(inputs, params, work, src["package_digest"])
    # the warm-up calls run the same operation over smaller inputs of
    # the same seed: they compile what the timed calls run at less than
    # a full call's cost
    os.makedirs(os.path.join(work, "warm"), exist_ok=True)
    warm_wl = cls(*ensure_inputs(cache, cls.kind, args.seed, WARM_SCALE * scale),
                  os.path.join(work, "warm"), src["package_digest"])
    meta = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "smoke": args.smoke, "local_n": cpus,
            **sparkstats.host_facts(), **src, "inputs": params}

    ticks0 = sparkstats.cpu_ticks()
    # set-up, SETUP_CYCLES times and each time cold: launch the JVM and
    # the session, run the warm-up query, register the inputs; between
    # cycles the JVM exits. setup_s is the median; the workload runs on
    # the last cycle's session
    setups, spark = [], None
    # the traced run reports no setup_s and needs its time for the calls
    for _ in range(1 if args.trace else SETUP_CYCLES):
        if spark is not None:
            stop_spark(spark)
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", master=f"local[{cpus}]",
                          shuffle_partitions=cpus)
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        t2 = time.perf_counter()
        rows = wl.register(spark)
        t3 = time.perf_counter()
        setups.append({"start_s": t1 - t0, "warmup_s": t2 - t1,
                       "register_s": t3 - t2, "total_s": t3 - t0})
    pids = [os.getpid(), sparkstats.jvm_pid(spark)]

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tracer = Tracer(run_id, on_enter=lambda g: sparkstats.set_group(spark, g),
                    on_exit=lambda g: sparkstats.set_group(spark, g))

    def span_stats(span) -> dict:
        """The span's Spark figures, read once and kept on the span."""
        if not span.counts:
            st = sparkstats.group_stats(spark, tracer.group_of(span))
            st["idle_frac"] = 1 - st["task_s"] / (span.duration * cpus) if span.duration else 0.0
            span.counts = st
        return span.counts

    ops, errors = [], []
    attempted = failed = 0
    t_window = time.perf_counter()
    # untraced runs: timed calls until --seconds and wl.min_ops are
    # reached; the traced run alternates untraced and traced calls,
    # starting and ending untraced, so that every traced call sits
    # between two untraced ones (see overhead below)
    need_timed = 2 if args.trace else wl.min_ops
    while failed < 3:
        timed = sum(1 for o in ops if not o["warmup"] and not o["traced"])
        traced_n = sum(1 for o in ops if o["traced"])
        if (timed >= need_timed and traced_n >= args.trace
                and not (ops and ops[-1]["traced"])
                and time.perf_counter() - t_window >= args.seconds):
            break
        warm = attempted < wl.warmup_ops
        if attempted == wl.warmup_ops:
            t_window = time.perf_counter()  # the window starts after the warm-up
        traced = bool(args.trace) and not warm and (attempted - wl.warmup_ops) % 2 == 1
        t = tracer if traced else Tracer(run_id)
        attempted += 1
        try:
            n_spans = len(t.spans)
            w = warm_wl if warm else wl
            with t.span(f"{wl.name}.op") as top:
                parts = w.op(spark, t)
            rec = {"wall_s": top.duration, "warmup": warm, "traced": traced, **parts}
            if traced:
                op_spans = t.spans[n_spans:]
                rec["spans"] = len(op_spans)
                rec["spark"] = [span_stats(s) for s in op_spans]
            ops.append(rec)
            errs = w.check(spark)
        except Exception as e:  # noqa: BLE001 - a failed call is a result
            errs = [f"{type(e).__name__}: {e}"]
            traceback.print_exc(file=sys.stderr)
        if errs:
            failed += 1
            errors.extend(errs)
            print(f"perfbench: check failed: {errs}", file=sys.stderr)

    walls = [o["wall_s"] for o in ops if not o["warmup"] and not o["traced"]]
    if not walls or (args.trace and not any(o["traced"] for o in ops)):
        stop_spark(spark)
        print(f"perfbench: no successful timed call; errors: {errors}", file=sys.stderr)
        return 1
    report = {"meta": meta, "setups": setups, "ops": ops, "errors": errors}
    metrics: dict[str, float] = {}
    if args.trace == 0:
        lat = summarize(walls)
        metrics = {
            "setup_s": statistics.median(s["total_s"] for s in setups),
            "op_p50_s": lat["p50"],
            "items_per_s": wl.items / lat["p50"],
            "peak_rss_mb": sparkstats.peak_rss_mib(pids),
        }
        detail = {"op_s": lat, "failed_frac": failed / attempted,
                  "items": f"{wl.items} {wl.items_unit}"}
        detail[wl.rate_name] = wl.items / lat["p50"]
        report["detail"] = detail
    else:
        traced_ops = [o for o in ops if o["traced"]]
        agg = [
            {k: sum(s[k] for s in o["spark"]) for k in
             ("jobs", "stages", "tasks", "task_s", "shuffle_bytes", "failed_tasks")}
            | {"max_task_s": max((s["max_task_s"] for s in o["spark"]), default=0.0),
               "wall_s": o["wall_s"]}
            for o in traced_ops
        ]

        # call times still fall as the JIT warms up: compare each traced
        # call with the mean of its two untraced neighbours
        overheads = [
            ops[k]["wall_s"] - (ops[k - 1]["wall_s"] + ops[k + 1]["wall_s"]) / 2
            for k in range(1, len(ops) - 1)
            if ops[k]["traced"] and not ops[k - 1]["traced"] and not ops[k - 1]["warmup"]
            and not ops[k + 1]["traced"]
        ]

        def med(key):
            return statistics.median(a[key] for a in agg)

        attempted += 1
        try:
            standalone, errs = wl.standalone(spark, tracer, span_stats)
        except Exception as e:  # noqa: BLE001 - reported, then the run fails
            traceback.print_exc(file=sys.stderr)
            standalone = {"driver.construct_s": float("nan"), "sinks.write_s": float("nan"),
                          "sinks.bytes_written": 0}
            errs = [f"{type(e).__name__}: {e}"]
        if errs:
            failed += 1
            errors.extend(errs)
            print(f"perfbench: check failed: {errs}", file=sys.stderr)
        metrics = {
            "session.start_s": statistics.median(s["start_s"] for s in setups),
            "session.warmup_s": statistics.median(s["warmup_s"] for s in setups),
            "sources.resolve_s": statistics.median(s["register_s"] for s in setups),
            "driver.construct_s": standalone.pop("driver.construct_s"),
            "spark.jobs": med("jobs"),
            "spark.stages": med("stages"),
            "spark.tasks": med("tasks"),
            "spark.task_s": med("task_s"),
            "spark.max_task_s": med("max_task_s"),
            "spark.idle_frac": statistics.median(
                1 - a["task_s"] / (a["wall_s"] * cpus) for a in agg),
            "spark.shuffle_bytes": med("shuffle_bytes"),
            "spark.failed_tasks": sum(a["failed_tasks"] for a in agg),
            "sinks.write_s": standalone.pop("sinks.write_s"),
            "sinks.bytes_written": standalone["sinks.bytes_written"],
            "trace.overhead_s": statistics.median(overheads) if overheads else float("nan"),
        }
        standalone.update({"sources.input_rows": rows,
                           "sources.input_bytes": params["input_bytes"],
                           "trace.spans_per_call": traced_ops[0]["spans"]})
        report["layers"] = standalone
        report["self_time"] = totals_by_name(tracer.spans)
        faults: dict[str, int] = {}
        for s in tracer.spans:
            st = span_stats(s)
            faults[s.name] = faults.get(s.name, 0) + st["failed_tasks"] + st["retried_stages"]
        report["failed_tasks_by_layer"] = faults
        os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
        tracer.dump(os.path.join(ROOT, ".bench_out", f"{run_id}-spans.json"))
    stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)
    # share of host CPU time the hypervisor gave to other guests during
    # the run: whole runs slow down with it
    steal, total = (b - a for a, b in zip(ticks0, sparkstats.cpu_ticks()))
    meta["cpu_steal_frac"] = steal / total if total else 0.0

    units = E2E_UNITS if args.trace == 0 else LAYER_UNITS
    report["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_out", f"{run_id}.json"), "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    print("meta", json.dumps(meta, default=str))
    for k, v in metrics.items():
        print(f"{k:24s} {v:16.6f} {units[k]}")
    for k, v in (report.get("detail") or report.get("layers") or {}).items():
        print(f"  {k:40s} {json.dumps(v)}")
    if args.trace:
        for name, tt in sorted(report["self_time"].items()):
            print(f"  self {name:40s} calls={tt['calls']} wall={tt['wall_s']:.4f}s self={tt['self_s']:.4f}s")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": report["metrics"]}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
