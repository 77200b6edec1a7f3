"""Per-layer metrics of a traced run.

Spans come from two places: the client's own op spans (one per request,
pipeline call or curation pass, plus the curation stage spans), and the
events `perfbench.TraceListener` collected inside the program's JVM. Both
carry epoch-millisecond times, so only events inside the measured window
count. Every workload reports every metric in METRICS; a layer a workload
does not exercise reads 0. The curation workload, which is not one of the
benchmark's gated workloads, adds CUR_METRICS.
"""
import json
import statistics

# the server's stage_counts key (before any "(...)") -> metric suffix
PIPELINE_STAGES = {"null_remover": "null_remover", "deduplicator": "dedup",
                   "quality_scorer": "quality_scorer", "anomaly_detector": "anomaly_detector",
                   "metadata_to_columns": "metadata_to_columns"}
CUR_STAGES = ["filter", "fuzzy", "bpe", "pack"]

# name -> unit, in report order
METRICS = {
    "service.overhead_ms": "ms", "service.http_errors": "count",
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "plan.actions_per_op": "count", "plan.exchanges": "count",
    "plan.codegen_fallback_ops": "count",
    "sched.jobs_per_op": "count", "sched.tasks_per_op": "count", "sched.delay_ms": "ms",
    "exec.cpu_ms": "ms", "exec.run_ms": "ms", "exec.gc_ms": "ms", "exec.busy_ratio": "ratio",
    "exec.input_bytes": "B", "exec.input_records": "count",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B", "shuffle.records": "count",
    "shuffle.fetch_wait_ms": "ms", "spill.memory_bytes": "B", "spill.disk_bytes": "B",
    "exec.peak_memory_bytes": "B",
    **{f"pipeline.stage_rows.{s}": "count" for s in PIPELINE_STAGES.values()},
    "pipeline.pre_sink_ms": "ms", "io.sink_ms.parquet": "ms", "io.sink_ms.json": "ms",
    "io.bytes_written": "B", "io.files_written": "count", "io.out_bytes_per_in_byte": "ratio",
    "jvm.gc_per_op": "count", "jvm.heap_after_gc_peak_mb": "MB",
    "warmup.window_drift_pct": "%",
    "trace.overhead_ms": "ms", "trace.overhead_pct": "%",
}
CUR_METRICS = {**{f"cur.stage_ms.{s}": "ms" for s in CUR_STAGES},
               **{f"cur.stage_rows.{s}": "count" for s in CUR_STAGES}}


def metrics(workload):
    """name -> unit of the per-layer metrics `workload` reports."""
    return {**METRICS, **CUR_METRICS} if workload == "curation" else METRICS


def _load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def per_layer(trace_path, run, workload, nproc):
    """Per-op averages over the window [first op start, last op end]."""
    w0, w1 = run.window[0] * 1000.0, run.window[1] * 1000.0

    def began(e):   # tasks carry their launch, queries their duration
        return e.get("launch", e["t"] - e.get("dur", 0))

    events = [e for e in _load(trace_path) if w0 <= began(e) <= w1]
    ops = max(len(run.ops), 1)
    tasks = [e for e in events if e["ev"] == "task" and "run" in e]
    queries = [e for e in events if e["ev"] == "query"]
    jobs = [e for e in events if e["ev"] == "job"]
    m = dict.fromkeys(metrics(workload), 0)

    def per_op(key, rows):
        return sum(r.get(key, 0) for r in rows) / ops

    served = [o.ms - o.server_ms for o in run.ops if o.ok and o.server_ms is not None]
    if served:
        m["service.overhead_ms"] = statistics.median(served)
    m["service.http_errors"] = sum(1 for o in run.ops if o.error and "HTTP" in o.error)
    for phase in ("analysis", "optimization", "planning"):
        m[f"plan.{phase}_ms"] = per_op(phase, queries)
    m["plan.actions_per_op"] = len(queries) / ops
    m["plan.exchanges"] = per_op("exchanges", queries)
    m["plan.codegen_fallback_ops"] = per_op("fallback", queries)
    m["sched.jobs_per_op"] = len(jobs) / ops
    m["sched.tasks_per_op"] = len(tasks) / ops
    if tasks:
        m["sched.delay_ms"] = statistics.fmean(t["delay"] for t in tasks)
        m["exec.peak_memory_bytes"] = max(t["peak_mem"] for t in tasks)
    for name, key in [("exec.cpu_ms", "cpu"), ("exec.run_ms", "run"), ("exec.gc_ms", "gc"),
                      ("exec.input_bytes", "in_b"), ("exec.input_records", "in_r"),
                      ("shuffle.write_bytes", "sw_b"), ("shuffle.read_bytes", "sr_b"),
                      ("shuffle.records", "sw_r"), ("shuffle.fetch_wait_ms", "fetch_wait"),
                      ("spill.memory_bytes", "spill_mem"), ("spill.disk_bytes", "spill_disk")]:
        m[name] = per_op(key, tasks)
    m["exec.busy_ratio"] = sum(t["run"] for t in tasks) / max((w1 - w0) * nproc, 1.0)
    m["io.out_bytes_per_in_byte"] = run.out_bytes / run.in_bytes
    gcs = run.window_gcs()
    m["jvm.gc_per_op"] = len(gcs) / ops
    m["jvm.heap_after_gc_peak_mb"] = max((g["after"] for g in gcs), default=0) / 2**20
    m["warmup.window_drift_pct"] = 100.0 * run.drift

    if workload == "etl":
        for name, n in run.extra["stage_rows"].items():
            m[f"pipeline.stage_rows.{PIPELINE_STAGES[name.split('(')[0]]}"] = n
        pre, sinks = [], {"parquet": 0.0, "json": 0.0}
        for o in run.ops:
            mine = [q for q in queries if o.start * 1000 <= began(q) <= o.end * 1000]
            writes = []
            for q in mine:
                kind = q.get("write") or ("json" if q["func"] == "foreachPartition" else None)
                if kind in sinks:
                    sinks[kind] += q["dur"]
                    writes.append(began(q))
            if writes:
                pre.append(min(writes) - o.start * 1000)
        m["pipeline.pre_sink_ms"] = statistics.fmean(pre) if pre else 0
        m["io.sink_ms.parquet"] = sinks["parquet"] / ops
        m["io.sink_ms.json"] = sinks["json"] / ops
        m["io.bytes_written"] = run.out_bytes / ops
        m["io.files_written"] = run.extra["io_files"] / ops
    if workload == "curation":
        passes = run.extra["stages"]
        for s in CUR_STAGES:
            m[f"cur.stage_ms.{s}"] = statistics.fmean(p.get(f"stage_ms_{s}", 0) for p in passes)
            m[f"cur.stage_rows.{s}"] = passes[-1].get(f"stage_rows_{s}", 0)
    return m
