#!/usr/bin/env python3
"""Benchmark for webcrawler_spark: closed-loop, single-client workloads on a
local Spark session fitted to the machine.

    python3 perfbench/run.py --workload crawl_resume --seed 1 --seconds 5 --trace 0

Run from the repository root. One process drives one workload: it makes the
inputs from ``--seed``, sets up, then repeats the workload's operation, one
at a time, until the operations have taken ``--seconds`` in total (at least
one operation). Every operation's output is checked against the
repository's reference implementation; a mismatch counts as a failed
operation.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` traces the
operations (alternating with untraced ones where the spans change the
plan) and prints the per-layer metrics, including the tracing overhead. Human-readable lines come first; the last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (``{name: {"value", "unit"}}``). Exit code 0 means the run
completed, whatever its ``correct`` says.

See perfbench/README.md for the workloads, metrics and their rationale.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def machine() -> dict:
    """Cores from the scheduler's CPU set, driver heap from MemTotal: a
    quarter of physical memory, at most 4 GiB, so the run leaves room for
    the Python workers and for other tenants of the machine."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap_mb = max(1024, min(4096, mem_kb // 1024 // 4))
    return {"cores": cores, "mem_total_mb": mem_kb // 1024, "driver_heap_mb": heap_mb}


def prepare_environment(work: str, mach: dict) -> None:
    """Point every file Spark, the JVM and Python write at ``work``, before
    pyspark starts the JVM."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = f"{mach['driver_heap_mb']}m"
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    java_opts = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's command-builder JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--conf 'spark.driver.extraJavaOptions={java_opts}'",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            # the traced run samples stages by id; keep a whole run's stages
            "--conf spark.ui.retainedStages=100000",
            "--conf spark.ui.retainedJobs=100000",
            "pyspark-shell",
        ]
    )
    # derby.log / metastore_db, if anything creates them, land in work
    os.chdir(work)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of all CPUs from /proc/stat: on a virtual
    machine, steal is time the host ran something else on our CPUs."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def describe(name: str, values: list[float], unit: str) -> str:
    q1, med, q3 = quartiles(values)
    return f"  {name:<24} {med:12.4f} {unit:<6} median of {len(values)}  [q1 {q1:.4f}, q3 {q3:.4f}]"


def check_fingerprint(wl, spark, seed: int, got: dict) -> tuple[bool, str]:
    """Compare the generated inputs' fingerprint with the one recorded for
    this seed. For a seed with no record, generate the lowest recorded seed
    as well and check that one, so every run pins the generator."""
    from perfbench.workloads import load_fingerprints

    recorded = load_fingerprints().get(wl.name, {})
    if str(seed) in recorded:
        ok = recorded[str(seed)]["inputs"] == got
        return ok, f"seed {seed} {'matches' if ok else 'DIFFERS from'} the recorded fingerprint"
    ref = min(int(s) for s in recorded)
    ok = recorded[str(ref)]["inputs"] == wl.fingerprint_of(spark, ref)
    return ok, f"seed {seed} unrecorded; reference seed {ref} {'matches' if ok else 'DIFFERS'}"


def start_spark(name: str, cores: int):
    from webcrawler_spark.session import get_spark

    spark = get_spark(f"perfbench-{name}", cores=cores)
    spark.range(1).count()
    return spark


def record_fingerprints(n: int, names: list[str], work: str) -> None:
    """Rewrite the fingerprints.json entries of seeds 0..n-1 of the named
    workloads."""
    from perfbench.workloads import FINGERPRINTS, WORKLOADS, load_fingerprints

    out = {k: v for k, v in load_fingerprints().items() if k in WORKLOADS}
    spark = start_spark("record", machine()["cores"])
    try:
        for name in names:
            wl = WORKLOADS[name](work=work)
            out[name] = {str(s): wl.record(spark, s) for s in range(n)}
            wl.close(spark)
    finally:
        stop_spark(spark)
    with open(FINGERPRINTS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


def run(args, work: str) -> dict:
    from perfbench.trace import Tracer, spark_metrics, tree_peak_rss_mb
    from perfbench.workloads import LAYER_UNITS, WORKLOADS

    mach = machine()
    wl = WORKLOADS[args.workload](work=work)

    t0 = time.perf_counter()
    spark = start_spark(wl.name, mach["cores"])
    session_s = time.perf_counter() - t0
    try:
        jvm_pid = spark.sparkContext._gateway.proc.pid
        input_s = []
        for _ in range(wl.SETUP_REPS):
            t = time.perf_counter()
            wl.make_inputs(spark, args.seed)
            input_s.append(time.perf_counter() - t)
        fingerprint = wl.inputs_fingerprint()
        wl.prepare(spark)  # reference outputs and warm-up, untimed

        # closed loop, one client: the next operation starts when the last
        # one and its check are done; the window counts operation time only.
        # A traced run alternates untraced and traced operations, starting
        # and ending with an untraced one, when the spans change the plan
        # (they materialize each layer's output); it traces every operation
        # otherwise.
        tracer = Tracer(spark, jvm_pid) if args.trace else None
        alternate = tracer is not None and wl.SPANS_CHANGE_PLAN
        ticks0 = cpu_ticks()
        plain, traced = [], []
        while True:
            use_trace = tracer is not None and (not alternate or len(traced) < len(plain))
            (traced if use_trace else plain).append(
                wl.run_op(spark, tracer if use_trace else None)
            )
            if sum(r["seconds"] for r in plain + traced) >= args.seconds and (
                tracer is None or (traced and (not alternate or len(plain) > len(traced)))
            ):
                break
        steal = [b - a for a, b in zip(ticks0, cpu_ticks())]
        peak_rss = tree_peak_rss_mb(jvm_pid)
        if tracer is not None:
            units = {**LAYER_UNITS, **wl.LAYER_UNITS}
            layer = dict.fromkeys(units, 0.0)
            layer.update(wl.layer_metrics(spark, tracer, traced))
            layer["peak_rss_mb"] = peak_rss
            op = tracer.named("op")
            layer.update(
                spark_metrics(
                    {k: sum(s[k] for s in op) for k in ("cpu_ns", "gc_ms", "spill_b", "shuffle_write_b")},
                    sum(s["end"] - s["start"] for s in op),
                    mach["cores"],
                )
            )
            if plain:
                layer["trace.overhead_frac"] = (
                    statistics.median(r["seconds"] for r in traced)
                    / statistics.median(r["seconds"] for r in plain)
                    - 1.0
                )
            else:  # spans that do not change the plan: bookkeeping share
                busy = sum(r["seconds"] for r in traced)
                layer["trace.overhead_frac"] = tracer.self_s / (busy - tracer.self_s)
        fp_ok, fp_note = check_fingerprint(wl, spark, args.seed, fingerprint)
        wl.close(spark)
    finally:
        stop_spark(spark)

    ops = plain + traced
    attempted = sum(r["attempted"] for r in ops)
    failed = sum(r["failed"] for r in ops)
    setup_s = session_s + statistics.median(input_s)

    print(f"workload {wl.name}  seed {args.seed}  trace {args.trace}  machine {json.dumps(mach)}")
    print(f"  fingerprint: {fp_note}")
    # a run slowed by other tenants of the host shows here, not in its metrics
    print(f"  host steal during the operations: {steal[0] / max(steal[1], 1):.1%} of CPU time")
    for label, rs in (("operations (s)", plain), ("traced operations (s)", traced)):
        if rs:
            print(f"  {label}: " + ", ".join(f"{r['seconds']:.3f}" for r in rs))
    for r in ops:
        for note in r["notes"]:
            print(f"  mismatch: {note}")
    summary = wl.summary(plain or traced)  # a traced analytics run has no plain ops
    summary.append(("setup_s", [setup_s], "s"))
    summary.append(("peak_rss_mb", [peak_rss], "MB"))
    summary.append(("failed_frac", [failed / attempted], "1"))
    for name, values, unit in summary:
        print(describe(name, values, unit))
    print(
        f"  set-up: session {session_s:.3f} s, inputs {', '.join(f'{s:.3f}' for s in input_s)} s"
        f", reference+warm-up {wl.prepare_s:.3f} s"
    )

    if args.trace:
        metrics = {k: {"value": layer[k], "unit": units[k]} for k in sorted(layer)}
        for k, m in metrics.items():
            print(f"  {k:<34} {m['value']:14.4f} {m['unit']}")
    else:
        metrics = {
            "items_per_s": {"value": statistics.median(r["items"] / r["seconds"] for r in ops), "unit": "1/s"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
    return {
        "correct": fp_ok and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-fingerprints", type=int, metavar="N",
                    help="rewrite fingerprints.json for seeds 0..N-1 of --workload "
                         "(default: every workload) and exit")
    args = ap.parse_args(argv)
    # on SIGTERM, unwind so the finally blocks stop Spark and remove the work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, ROOT)
    try:
        import webcrawler_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the webcrawler_spark package from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS and not (args.record_fingerprints and args.workload is None):
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work)
    try:
        prepare_environment(work, machine())
        if args.record_fingerprints:
            record_fingerprints(
                args.record_fingerprints, [args.workload] if args.workload else list(WORKLOADS), work
            )
            return 0
        result = run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
