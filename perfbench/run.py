"""The repo benchmark: dashboard, ETL and curation workloads driven from
outside the program, plus a traced run for per-layer numbers.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1          # every workload

Each run builds the program from source if needed (perfbench/build.py),
generates the seed's inputs once (perfbench/gen.py), starts fresh program
JVMs, measures for --seconds, checks the outputs, and prints every metric by
name with its unit. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. A full record of the run
(machine, load, seed, JVM flags, effective Spark conf, input properties) is
written to <build>/results/. Exits 1 when an output is wrong, 2 on error.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import trace  # noqa: E402
from workloads import NPROC, WORKLOADS  # noqa: E402

# name -> unit, in report order
END_TO_END = {"setup_s": "s", "heap_live_mb": "MB", "p50_ms": "ms", "p90_ms": "ms",
              "items_per_s": "1/s"}
# what items_per_s and the op latencies count on each workload
ITEM = {"dashboard": "requests", "etl": "input rows", "curation": "input docs"}


def percentile(values, q):
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))]


def end_to_end(run):
    lat = [o.ms for o in run.ops if o.ok] or [o.ms for o in run.ops]
    wall = run.window[1] - run.window[0]
    return {"setup_s": run.setup_s, "heap_live_mb": run.heap_live_mb,
            "p50_ms": statistics.median(lat), "p90_ms": percentile(lat, 90),
            "items_per_s": run.items / wall}


def git_commit():
    if not os.path.exists(os.path.join(build.ROOT, ".git")):
        return None
    try:
        r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def cpu_calibration_s():
    """Seconds for a fixed pure-Python loop: how fast the host ran just
    before the run, to read timings against (not a metric)."""
    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i * i
    return time.perf_counter() - t0


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def one_run(workload, classes, inputs, props, seed, seconds, traced, staged):
    work = os.path.join(build.build_dir(), "work", f"{workload}-{seed}-{os.getpid()}-{int(traced)}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        run = WORKLOADS[workload](classes, work, inputs, props, seed, seconds, traced, staged)
        layers = trace.per_layer(os.path.join(work, "trace.jsonl"), run, workload,
                                 NPROC) if traced else None
        return run, layers
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_workload(workload, seed, seconds, traced, classes, digest):
    inputs, props = gen.ensure(workload, seed, os.path.join(build.build_dir(), "inputs"))
    record = {"workload": workload, "seed": seed, "seconds": seconds, "trace": traced,
              "nproc": NPROC, "loadavg_start": loadavg(), "git_commit": git_commit(),
              "cpu_calibration_s": cpu_calibration_s(),
              "source_sha256": digest, "inputs": props}
    run, layers = one_run(workload, classes, inputs, props, seed, seconds, traced, traced)
    e2e = end_to_end(run)
    runs = [run]
    if traced:
        # tracing overhead: the same seed again with the listeners off and
        # the same per-stage materialization, so only the listeners differ
        plain, _ = one_run(workload, classes, inputs, props, seed, seconds, False, True)
        runs.append(plain)
        base = end_to_end(plain)["p50_ms"]
        layers["trace.overhead_ms"] = e2e["p50_ms"] - base
        layers["trace.overhead_pct"] = 100.0 * (e2e["p50_ms"] - base) / base
    metrics = layers if traced else e2e
    units = trace.metrics(workload) if traced else END_TO_END
    attempted = sum(len(r.ops) for r in runs)
    failed = sum(r.failed for r in runs)
    errors = [o.error for r in runs for o in r.ops if o.error][:5]
    record.update({"loadavg_end": loadavg(), "jvm_flags": run.flags, "spark_conf": run.conf,
                   "attempted": attempted, "failed": failed, "errors": errors,
                   "end_to_end": e2e, "per_layer": layers, "extra": run.extra,
                   "warmup_s": run.warmup_s, "window_drift": run.drift,
                   "peak_rss_mb": run.peak_rss_mb, "heap_events": run.heap,
                   "op_ms": [[o.kind, round(o.ms, 1)] for o in run.ops]})
    out = os.path.join(build.build_dir(), "results")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{workload}-seed{seed}-trace{int(traced)}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)

    print(f"# {workload} seed={seed} nproc={NPROC} loadavg={record['loadavg_start']}"
          f"->{record['loadavg_end']} ops={len(run.ops)} ({ITEM[workload]}: "
          f"{run.items}) fail_ratio={failed / attempted:.4f}")
    for k, v in sorted(props.items()):
        if k.startswith(("dash.", "etl.", "cur.")):        # measured input shares
            print(f"# input {k} {v:.4f} ratio")
    for e in errors:
        print(f"# error: {e}")
        print(f"{workload} seed {seed}: {e}", file=sys.stderr)
    for name, unit in units.items():
        print(f"{workload}.{name} {metrics[name]:.6g} {unit}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    try:
        classes, digest = build.build()
        names = list(WORKLOADS) if args.workload == "all" else [args.workload]
        results = {w: run_workload(w, args.seed, args.seconds, bool(args.trace),
                                   classes, digest) for w in names}
    except (Exception, SystemExit) as e:
        traceback.print_exc() if isinstance(e, Exception) else print(e, file=sys.stderr)
        return 2
    final = results[names[0]] if len(names) == 1 else results
    print(json.dumps(final))
    return 0 if all(r["correct"] for r in results.values()) else 1


if __name__ == "__main__":
    start = time.time()
    code = main()
    print(f"# wall {time.time() - start:.1f} s", file=sys.stderr)
    sys.exit(code)
