"""rlv benchmark: one closed-loop, single-client workload per run.

Usage::

    python3 perfbench/run.py --workload encode_tokens --seed 1 \
        --seconds 15 --trace 0

Run from the repository root.  Workloads (``perfbench/README.md`` gives the
reasons and the predicted metric links):

* ``encode_tokens`` -- files-plane encode of a seeded token table into a
  fresh directory, then verify.
* ``query`` -- on a table-plane query table, selective ops (COUNT, string-eq
  scan, conjunctive aggregate, MIN/MAX; each reads <= ~2% of the blocks)
  alternate with scan ops (full scan, GROUP BY, top-k, dim join; each
  decodes most blocks).

Each run starts its own ``local[nproc]`` Spark session and sets up
``SETUP_REPS`` times (``make_session``, the workload's table encodes, one
warm-up operation), reporting the median.  The timed loop then runs whole
rounds of the workload's operations (one of each kind, literals drawn from a
seeded pool) until ``--seconds`` have passed and at least ``MIN_ROUNDS``
rounds ran.  Every result is checked against its oracle.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` traces the odd
rounds, runs the per-layer probes and prints the per-layer metrics.  The last
stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; the lines before it are a readable report and the run record.
Results and traces are written under ``perfbench/.work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# The first round is the first use of most op kinds in the Python workers
# and runs slower; each kind's median over 3 rounds is a warm one.  A
# traced run traces rounds 1, 3, ... and compares them with rounds 2, 4, ...
MIN_ROUNDS = 3
DRIVER_MEM = "2g"  # the workers hold the data; the host's memory is shared

END_TO_END = (
    ("setup_s", "s"), ("latency_p50_s", "s"), ("latency_tail_s", "s"),
    ("ops_per_s", "1/s"), ("bytes_per_unit", "B"),
    ("driver_peak_rss_mb", "MB"),
)


def tail(samples: list[float], floor: float) -> tuple[float, float, int]:
    """The highest percentile with at least 10 samples beyond it, as
    ``(value, percentile, samples_beyond)``, but never below ``floor`` (the
    median): with fewer than 21 samples no percentile above the median has
    10 samples beyond it, and the median is the tail that can be vouched
    for."""
    xs = sorted(samples)
    n = len(xs)
    i = n - 11
    if i < 0 or xs[i] < floor:
        return floor, 50.0, sum(x > floor for x in xs)
    return xs[i], 100.0 * (i + 1) / n, n - 1 - i


def reset_peak_rss() -> bool:
    """Reset the kernel's peak-RSS mark of this process (Linux)."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
        return True
    except OSError:
        return False


def peak_rss_mb() -> float:
    try:
        with open("/proc/self/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def cpu_jiffies() -> tuple[int, int] | None:
    """``(steal, total)`` CPU jiffies of the host so far (Linux).  Steal is
    time the hypervisor ran something else while this VM wanted a CPU; it
    stretches every wall time measured here, so the record keeps it."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def steal_pct(start, end) -> float | None:
    if start is None or end is None or end[1] == start[1]:
        return None
    return 100.0 * (end[0] - start[0]) / (end[1] - start[1])


def git_head() -> str | None:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def isolate_scratch(work: str) -> None:
    """Keep Spark's and Python's scratch files inside the work directory,
    and let the Python workers import rlv from this checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "pyspark-shell")


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_op(tracer, op, entry) -> tuple[float, bool]:
    """Time one operation and check its result; returns ``(wall_s, ok)``.
    An exception counts as a failure and its time stays in the samples."""
    t0 = time.perf_counter()
    try:
        with tracer.trace(f"op.{op.kind}"):
            res = op.run(entry)
    except Exception:  # a failed operation is counted, not fatal
        traceback.print_exc(file=sys.stderr)
        return time.perf_counter() - t0, False
    wall = time.perf_counter() - t0
    try:
        ok = bool(op.check(res, entry))
    except Exception:
        traceback.print_exc(file=sys.stderr)
        ok = False
    if not ok:
        print(f"check failed: {op.kind}: got {res!r}", file=sys.stderr)
    return wall, ok


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a checkout without the engine has nothing to measure: fail here,
    # before any output
    sys.path.insert(0, ROOT)
    import rlv  # noqa: F401
    from perfbench import tracing
    from perfbench import workloads as W

    if args.workload not in W.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(W.WORKLOADS)}")
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", args.workload)
    results_dir = os.path.join(HERE, ".work", "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(results_dir, exist_ok=True)
    isolate_scratch(work)
    from rlv.session import make_session

    tracer = tracing.Tracer(bool(args.trace))
    wl = W.WORKLOADS[args.workload](work, args.seed, tracer)
    wl.prepare()
    rss_reset = reset_peak_rss()

    spark = None
    try:
        setup_s, start_s = [], []
        for rep in range(SETUP_REPS):
            with tracer.trace(f"setup.{rep}"):
                t0 = time.perf_counter()
                spark = tracer.call(
                    "session.make_session", make_session, nproc,
                    app=f"rlv-perfbench-{args.workload}",
                    driver_mem=DRIVER_MEM)
                start_s.append(time.perf_counter() - t0)
                wl.setup(spark, rep)
                warm = wl.ops(spark)[0]
                wl.before_op(warm.entries[0])
                warm_res = warm.run(warm.entries[0])
                setup_s.append(time.perf_counter() - t0)
            if not warm.check(warm_res, warm.entries[0]):
                wl.errors.append(f"warm-up {warm.kind} failed its check")
            wl.after_op()

        ops = wl.ops(spark)
        wl.begin_loop()
        records = []
        rnd = 0
        cpu_loop = cpu_jiffies()
        t_loop = time.perf_counter()
        while True:
            tracer.enabled = bool(args.trace) and rnd % 2 == 1
            for op in ops:
                entry = op.entries[rnd % len(op.entries)]
                wl.before_op(entry)
                wall, ok = run_op(tracer, op, entry)
                records.append({"kind": op.kind, "round": rnd, "wall_s": wall,
                                "ok": ok, "traced": tracer.enabled})
                wl.after_op()
            rnd += 1
            if (rnd >= MIN_ROUNDS
                    and time.perf_counter() - t_loop >= args.seconds):
                break
        loop_s = time.perf_counter() - t_loop
        loop_steal = steal_pct(cpu_loop, cpu_jiffies())
        tracer.enabled = False

        walls = [r["wall_s"] for r in records]
        failed = sum(not r["ok"] for r in records)
        by_kind: dict[str, list[float]] = {}
        for r in records:
            by_kind.setdefault(r["kind"], []).append(r["wall_s"])
        latency_p50 = W.p50(by_kind)
        tail_v, tail_pct, tail_beyond = tail(walls, latency_p50)
        e2e = {
            "setup_s": statistics.median(setup_s),
            "latency_p50_s": latency_p50,
            "latency_tail_s": tail_v,
            "ops_per_s": len(records) / loop_s,
            "bytes_per_unit": wl.bytes_per_unit(),
            "driver_peak_rss_mb": peak_rss_mb(),
        }

        layer = {}
        trace_ok = True
        trace_lines: list[str] = []
        if args.trace:
            layer = {name: 0 for name, _ in W.per_layer_metrics()}
            layer["session.start_s"] = statistics.median(start_s)
            layer["session.cold_start_s"] = start_s[0]
            for n in sorted({W.I.ENCODE_TASKS, W.I.QUERY_TASKS}):
                layer[f"session.dispatch_floor_s.{n}"] = W.dispatch_floor(
                    spark, n)
            layer.update(wl.probes(spark, by_kind))
            traced = [r["wall_s"] for r in records if r["traced"]]
            untraced = [r["wall_s"] for r in records
                        if not r["traced"] and r["round"] > 0]
            layer["trace.latency_p50_s"] = statistics.median(traced)
            layer["trace.untraced_latency_p50_s"] = statistics.median(untraced)
            layer["trace.overhead_s"] = (
                layer["trace.latency_p50_s"]
                - layer["trace.untraced_latency_p50_s"])
            op_traces = [t for t in tracing.analyze(tracer.spans)
                         if t["name"].startswith(tracing.ROOT_PREFIX)]
            for lay in W.TRACE_LAYERS:
                layer[f"trace.self_s.{lay}"] = sum(
                    t["self_ns"].get(lay, 0) for t in op_traces
                ) / 1e9 / len(op_traces)
            doc = {"workload": args.workload, "seed": args.seed}
            trace_path = os.path.join(
                results_dir, f"trace-{args.workload}-seed{args.seed}.json")
            tracer.write(trace_path, doc)
            trace_lines, trace_ok = tracing.summarize(
                {**doc, "spans": tracer.spans})
    finally:
        if spark is not None:
            stop_spark(spark)

    units = dict(END_TO_END)
    report = [(k, v, units[k]) for k, v in e2e.items()]
    report.insert(3, ("failed_frac", failed / len(walls), "ratio"))
    report += wl.report(by_kind)
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "nproc": nproc, "os_cpu_count": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "git_head": git_head(),
        "input_sizes": wl.sizes,
        "samples": len(walls), "rounds": rnd, "loop_s": loop_s,
        "host_steal_pct_loop": loop_steal,
        "samples_by_kind": {k: len(v) for k, v in by_kind.items()},
        "latency_tail_percentile": tail_pct,
        "latency_tail_samples_beyond": tail_beyond,
        "setup_s_reps": setup_s, "session_start_s_reps": start_s,
        "peak_rss_reset": rss_reset,
        "errors": wl.errors,
        "end_to_end": e2e, "report": {n: v for n, v, _ in report},
        "per_layer": layer, "op_walls": records,
    }
    with open(os.path.join(results_dir, f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    print(f"rlv perfbench: workload {args.workload}, seed {args.seed}, "
          f"nproc {nproc}, {len(walls)} ops in {rnd} rounds, {loop_s:.2f} s, "
          f"host CPU steal {loop_steal}%")
    for name, value, unit in report:
        print(f"  {name:<24} {value:>16.6g} {unit}")
    print(f"  latency_tail_s is p{tail_pct:.1f} of {len(walls)} samples, "
          f"{tail_beyond} beyond it")
    if args.trace:
        layer_units = dict(W.per_layer_metrics())
        for name in sorted(layer):
            print(f"  {name:<48} {layer[name]:>16.6g} "
                  f"{layer_units.get(name, '')}")
        print("\n".join(trace_lines))
    print("record " + json.dumps({k: v for k, v in record.items()
                                  if k not in ("op_walls", "per_layer",
                                               "end_to_end", "report")},
                                 default=str))
    correct = failed == 0 and not wl.errors and trace_ok
    metrics = layer if args.trace else e2e
    metric_units = dict(W.per_layer_metrics()) if args.trace else units
    print(json.dumps({
        "correct": correct, "attempted": len(walls), "failed": failed,
        "metrics": {k: {"value": float(v), "unit": metric_units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
