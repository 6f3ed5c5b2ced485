"""Seeded end-to-end benchmark of entity_resolver_spark.

Run from the repository root:

    python3 perfbench/run.py --workload assign --seed 42 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 42

One run starts a local Spark session on every core this process may use,
generates the workload's inputs from --seed, settles lazy set-up with one
untimed warm-up operation, then repeats the timed operation until --seconds
have passed (at least once; twice when traced). Each operation's output is checked after its
timer stops; a failed check counts as a failed operation and the run goes
on. Human-readable lines come first; the last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 they are the
per-layer ones, and the spans go to .perfbench/trace/. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKDIR = os.path.join(ROOT, ".perfbench")
WORKLOAD_NAMES = ("linear", "viral", "assign", "neardup")
# The Spark driver heap is explicit: the session factory's 16g default is more
# than a small host has.
DRIVER_MEM = "2g"

E2E_METRICS = {
    "setup_s": "s",
    "op_s": "s",
    "turns_per_s": "turns/s",
    "docs_per_s": "docs/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "quality": "ratio",
}
EXTRA_LAYER_METRICS = {
    "blocking.rows_out": "count",
    "blocking.pair_yield": "ratio",
    "pairs.rows_out": "count",
    "checkpoint.write_mb": "MB",
    "lineage.pinned_mb": "MB",
    "predict.rows_out": "count",
    "dedup.rows_out": "count",
    "ann.rows_out": "count",
    "dedup.minhash_recall": "ratio",
    "dedup.simhash_recall": "ratio",
    "dedup.ngram_recall": "ratio",
    "dedup.embedding_recall": "ratio",
    "perfbench.trace_overhead_pct": "%",
}


def per_layer_units() -> dict[str, str]:
    from spans import LAYER_METRICS, LAYERS

    units = {f"{layer}.{m}": u for layer in LAYERS for m, u in LAYER_METRICS.items()}
    units.update(EXTRA_LAYER_METRICS)
    return units


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------

def _prepare_env() -> None:
    """Keep every file Spark, its workers and the C kernels write inside
    the checkout, and let Python workers import the package."""
    tmp = os.path.join(WORKDIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")


def start_session(nproc: int):
    from entity_resolver_spark.session import get_spark

    tmp = os.path.join(WORKDIR, "tmp")
    return get_spark(
        app_name="perfbench",
        cores=nproc,
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(WORKDIR, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every descendant to exit."""
    from pyspark import SparkContext

    from procstat import tree_pids

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while (left := [p for p in tree_pids() if p != os.getpid()]) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


def environment(spark, nproc: int) -> dict:
    import numpy

    return {
        "nproc": nproc,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "numpy": numpy.__version__,
        "driver_heap": spark.conf.get("spark.driver.memory"),
    }


# ---------------------------------------------------------------------------
# one workload
# ---------------------------------------------------------------------------

def run_workload(spark, name: str, seed: int, seconds: float, trace: bool = False,
                 size: str = "bench", session_s: float = 0.0) -> dict:
    """Set up, warm up, time operations for `seconds`, check each one.
    Returns every end-to-end and per-layer figure plus the op records."""
    from procstat import PeakRss, tree_cpu_s
    from spans import Tracer
    from workloads import SIZES, WORKLOADS, pinned_mb, probes

    os.makedirs(WORKDIR, exist_ok=True)
    tracer = Tracer(spark)
    wl = WORKLOADS[name](spark, seed, SIZES[size][name], tracer, WORKDIR)
    setup_problems: list[str] = []
    ops: list[dict] = []
    with PeakRss() as rss, (probes(tracer) if trace else nullcontext()):
        t0 = time.perf_counter()
        wl.make_inputs()
        input_s = time.perf_counter() - t0
        tracer.enabled = trace
        t0 = time.perf_counter()
        setup_problems += wl.warm_up()
        warm_s = time.perf_counter() - t0
        tracer.enabled = False

        start = time.perf_counter()
        while True:
            i = len(ops)
            # a traced run alternates untraced and traced operations, so the
            # tracing overhead is measured within one session
            traced = trace and i % 2 == 1
            tracer.enabled, tracer.op = traced, f"op{i}"
            c0, t0 = tree_cpu_s(), time.perf_counter()
            try:
                out, problems = wl.op(i), None
            except Exception:
                out, problems = None, [traceback.format_exc()]
                tracer.close_open()
            op_s = time.perf_counter() - t0
            cpu_s = tree_cpu_s() - c0
            tracer.enabled = False
            quality = 0.0
            if problems is None:
                try:
                    problems, quality = wl.check(out)
                except Exception:
                    problems = [traceback.format_exc()]
            ops.append({"op_s": op_s, "cpu_s": cpu_s, "turns": wl.n_turns, "docs": wl.n_docs,
                        "traced": traced, "quality": quality, "problems": problems})
            if time.perf_counter() - start >= seconds and len(ops) >= 1 + trace:
                break
        pinned = pinned_mb(spark)

    med = statistics.median
    timed = [o for o in ops if not o["traced"]]
    e2e = {
        "setup_s": session_s + input_s + warm_s,
        "op_s": med(o["op_s"] for o in timed),
        "turns_per_s": med(o["turns"] / o["op_s"] for o in timed),
        "docs_per_s": med(o["docs"] / o["op_s"] for o in timed),
        "cpu_s": med(o["cpu_s"] for o in timed),
        "peak_rss_mb": rss.peak_mb,
        "quality": min(o["quality"] for o in ops),
    }
    failed = sum(1 for o in ops if o["problems"])
    report = {
        "workload": name,
        "seed": seed,
        "size": size,
        "quality_name": wl.quality_name,
        "n_turns": wl.n_turns,
        "n_docs": wl.n_docs,
        "e2e": e2e,
        "error_rate": failed / len(ops),
        "attempted": len(ops),
        "failed": failed,
        "correct": failed == 0 and not setup_problems,
        "setup_problems": setup_problems,
        "ops": ops,
        "setup_parts": {"session_s": session_s, "input_s": input_s, "warm_up_s": warm_s},
    }
    if trace:
        layers = dict.fromkeys(EXTRA_LAYER_METRICS, 0.0)
        layers.update(tracer.layer_metrics())
        layers.update(wl.layer_extras())
        layers["lineage.pinned_mb"] = pinned
        traced_s = [o["op_s"] for o in ops if o["traced"]]
        layers["perfbench.trace_overhead_pct"] = 100.0 * (med(traced_s) / e2e["op_s"] - 1.0)
        report["per_layer"] = layers
        report["layer_totals"] = tracer.layer_totals()
        report["tracer"] = tracer
    return report


# ---------------------------------------------------------------------------
# output
# ---------------------------------------------------------------------------

def print_report(report: dict, env: dict) -> None:
    e = report["e2e"]
    timed = sum(1 for o in report["ops"] if not o["traced"])
    print(f"[{report['workload']}] seed={report['seed']} size={report['size']} "
          f"turns/op={report['n_turns']} docs/op={report['n_docs']} "
          + " ".join(f"{k}={v}" for k, v in env.items()))
    for k, unit in E2E_METRICS.items():
        if k == "quality":
            print(f"  {report['quality_name']:<22} {e[k]:.6f} {unit} (worst of {report['attempted']} ops)")
        else:
            note = "" if k in ("setup_s", "peak_rss_mb") else f" (median of {timed} ops)"
            print(f"  {k:<22} {e[k]:.4f} {unit}{note}")
    print(f"  {'error_rate':<22} {report['error_rate']:.4f} ({report['failed']}/{report['attempted']})")
    print("  op_s of each op: " + " ".join(
        f"{o['op_s']:.3f}{'(traced)' if o['traced'] else ''}" for o in report["ops"]))
    parts = report["setup_parts"]
    print(f"  set-up: session {parts['session_s']:.2f} s, inputs {parts['input_s']:.2f} s, "
          f"warm-up {parts['warm_up_s']:.2f} s")
    for p in report["setup_problems"]:
        print(f"  SET-UP CHECK FAILED: {p}")
    for i, o in enumerate(report["ops"]):
        for p in o["problems"]:
            print(f"  OP {i} CHECK FAILED: {p}")
    if "per_layer" in report:
        print(f"  {'layer':<12} {'self_s':>8} {'jobs':>6} {'shuf_r_mb':>10} {'shuf_w_mb':>10} {'cpu_s':>8}")
        for layer, t in sorted(report["layer_totals"].items(), key=lambda kv: -kv[1]["self_s"]):
            print(f"  {layer:<12} {t['self_s']:8.3f} {int(t['jobs']):6d} "
                  f"{t['shuffle_read'] / 2**20:10.2f} {t['shuffle_write'] / 2**20:10.2f} "
                  f"{t['cpu_ns'] / 1e9:8.3f}")
        print(f"  trace overhead {report['per_layer']['perfbench.trace_overhead_pct']:.2f}% "
              f"(traced vs untraced op_s)")


def result_line(report: dict) -> str:
    if "per_layer" in report:
        units = per_layer_units()
        values = report["per_layer"]
    else:
        units, values = E2E_METRICS, report["e2e"]
    return json.dumps({
        "correct": report["correct"],
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    })


# ---------------------------------------------------------------------------
# command line
# ---------------------------------------------------------------------------

def run_all(args) -> int:
    """Every workload in its own process, one after another."""
    results, rc = {}, 0
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if proc.returncode != 0 or not lines:
            print(f"[{name}] exited with code {proc.returncode}", file=sys.stderr)
            rc = rc or proc.returncode or 1
            continue
        results[name] = json.loads(lines[-1])
    print(json.dumps(results))
    return rc


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "entity_resolver_spark", "__init__.py")):
        print(f"perfbench: no entity_resolver_spark package under {ROOT}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)

    sys.path.insert(0, ROOT)
    _prepare_env()
    nproc = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = start_session(nproc)
    session_s = time.perf_counter() - t0
    try:
        env = environment(spark, nproc)
        report = run_workload(spark, args.workload, args.seed, args.seconds,
                              trace=bool(args.trace), session_s=session_s)
        if args.trace:
            os.makedirs(os.path.join(WORKDIR, "trace"), exist_ok=True)
            path = os.path.join(WORKDIR, "trace", f"{args.workload}-seed{args.seed}.jsonl")
            report["tracer"].write(path, {**env, "workload": args.workload, "seed": args.seed,
                                          "per_layer": report["per_layer"]})
            print(f"  spans: {os.path.relpath(path, ROOT)}")
    finally:
        t0 = time.perf_counter()
        stop_session(spark)
        print(f"  stop: {time.perf_counter() - t0:.2f} s")
    print_report(report, env)
    print(result_line(report), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
