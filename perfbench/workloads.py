"""The three workloads. Each one drives the program from outside through a
public entry point, times every op on the client side, checks outputs and
returns a `Run`.

  dashboard  closed loop of nproc clients against graft.service.HttpMain
  etl        closed loop of 1 client posting /api/pipeline/unified
  curation   perfbench.CurationMain calling the library's public functions
"""
import http.client
import json
import os
import random
import shutil
import statistics
import threading
import time
import urllib.parse

import check
from gen import DASH_BLOCK, request_key
from jvm import Instance, Server

NPROC = len(os.sched_getaffinity(0))      # what `nproc` prints
# Warm-up is a fixed number of timed blocks. With a fresh JVM, block times
# kept falling for about five blocks (the JIT settling on four busy cores)
# and were level from the sixth on, so six blocks run before the window; the
# trend left inside the window is measured in every run (Run.drift).
WARM_BLOCKS = 6
# a dashboard warm-up block is half of the stream's 50-slot template; the
# warm-up sends the stream's last three templates
DASH_WARM_BLOCK = sum(DASH_BLOCK.values()) // 2
DASH_CHECKED = 40          # completed requests re-run in DuckDB per run
CUR_MERGES, CUR_BUDGET, CUR_SHARD = 64, 2048, 500   # BPE merges; packing budget, shard width


class Op:
    __slots__ = ("index", "kind", "start", "end", "ok", "error", "body",
                 "in_bytes", "out_bytes", "server_ms")

    def __init__(self, index, kind, start, end, ok, error=None, body=None,
                 in_bytes=0, out_bytes=0, server_ms=None):
        self.index, self.kind, self.start, self.end = index, kind, start, end
        self.ok, self.error, self.body = ok, error, body
        self.in_bytes, self.out_bytes, self.server_ms = in_bytes, out_bytes, server_ms

    @property
    def ms(self):
        return (self.end - self.start) * 1000.0


class Run:
    """What one workload run measured."""

    def __init__(self, inst, setup_s, warmup_s, ops, items, in_bytes, out_bytes, extra=None):
        self.setup_s, self.warmup_s, self.ops = setup_s, warmup_s, ops
        self.items, self.in_bytes, self.out_bytes = items, in_bytes, out_bytes
        self.flags, self.conf, self.extra = inst.flags, inst.conf(), extra or {}
        self.window = (min(o.start for o in ops), max(o.end for o in ops))
        self.heap = inst.heap_events()
        self.peak_rss_mb = inst.rss_mb

    @property
    def heap_live_mb(self):
        """Heap still in use after the full collection HeapListener forces
        once the work is done: what the program retains."""
        return next(e["after"] for e in self.heap if e["gc"] == "end") / 2**20

    def window_gcs(self):
        """The garbage collections that ended inside the window."""
        w0, w1 = self.window[0] * 1000.0, self.window[1] * 1000.0
        return [e for e in self.heap if e["gc"] != "end" and w0 <= e["t"] <= w1]

    @property
    def drift(self):
        """Mean latency of the window's second half over its first half,
        minus 1: the trend inside the window, negative while the JIT is
        still settling."""
        ms = [o.ms for o in sorted(self.ops, key=lambda o: o.start)]
        half = len(ms) // 2
        if half == 0:
            return 0.0
        return statistics.fmean(ms[-half:]) / statistics.fmean(ms[:half]) - 1

    @property
    def failed(self):
        return sum(not o.ok for o in self.ops)


# ---- HTTP client -----------------------------------------------------------
def _send(conn, req):
    if req["method"] == "POST":
        payload = json.dumps(req["body"]).encode()
        conn.request("POST", req["path"], body=payload,
                     headers={"Content-Type": "application/json"})
        sent = len(payload)
    else:
        path = req["path"] + "?" + urllib.parse.urlencode(req["query"])
        conn.request("GET", path)
        sent = len(path)
    resp = conn.getresponse()
    return resp.status, resp.read(), sent


def closed_loop(port, requests, clients, seconds, keep_body=lambda i: False):
    """`clients` connections, each sending its next request as soon as the
    previous answer arrives, until `seconds` have passed (or the requests
    run out). Returns one Op per request sent."""
    lock = threading.Lock()
    nxt = [0]
    ops = []
    deadline = time.time() + seconds

    def worker():
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
        try:
            while time.time() < deadline:
                with lock:
                    i = nxt[0]
                    nxt[0] += 1
                if i >= len(requests):
                    return
                req = requests[i]
                t0 = time.time()
                try:
                    status, body, sent = _send(conn, req)
                    err = None if status == 200 else f"HTTP {status}: {body[:200]!r}"
                except (OSError, http.client.HTTPException) as e:
                    conn.close()
                    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
                    status, body, sent, err = 0, b"", 0, f"{type(e).__name__}: {e}"
                t1 = time.time()
                server_ms = None
                if err is None:
                    try:
                        server_ms = json.loads(body).get("query_time_ms")
                    except ValueError:
                        err = "response is not JSON"
                op = Op(i, req.get("kind", "op"), t0, t1, err is None, err,
                        body if err is None and keep_body(i) else None,
                        sent, len(body), server_ms)
                with lock:
                    ops.append(op)
        finally:
            conn.close()

    threads = [threading.Thread(target=worker) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return sorted(ops, key=lambda o: o.index)


def warm_up(block):
    """Runs the warm-up blocks; `block(i)` runs block i and returns its ops.
    A failed op stops the run. Returns each block's time in seconds."""
    times = []
    for i in range(WARM_BLOCKS):
        t0 = time.time()
        bad = [o for o in block(i) if not o.ok]
        if bad:
            raise RuntimeError(f"warm-up op failed: {bad[0].error}")
        times.append(time.time() - t0)
    return times


def _start_server(classes, work, traced, data_dir):
    srv = Server(classes, work, traced, data_dir)
    try:
        srv.wait_ready()
    except Exception:
        srv.stop()
        raise
    return srv


# ---- dashboard ---------------------------------------------------------------
def dashboard(classes, work, inputs, props, seed, seconds, traced, staged):
    with open(os.path.join(inputs, "requests.jsonl")) as f:
        requests = [json.loads(line) for line in f]
    # every kind is warmed; the window starts at the stream's head
    tail = len(requests) - WARM_BLOCKS * DASH_WARM_BLOCK
    srv = _start_server(classes, work, traced, inputs)
    try:
        warm = warm_up(lambda i: closed_loop(
            srv.port, requests[tail + i * DASH_WARM_BLOCK:][:DASH_WARM_BLOCK], NPROC, 600))
        setup_s = time.time() - srv.start
        ops = closed_loop(srv.port, requests[:tail], NPROC, seconds, keep_body=lambda i: True)
        srv.sample_rss()
        srv.end()                 # the JVM shuts down while the answers are checked
        oracle = check.DashboardOracle(inputs)
        answered = [o for o in ops if o.ok]
        sample = random.Random(seed).sample(answered, min(DASH_CHECKED, len(answered)))
        for o in sample:
            req = requests[o.index]
            why = oracle.check(req, request_key(req), o.body)
            if why:
                o.ok, o.error = False, f"wrong answer to request {o.index}: {why}"
        for o in ops:
            o.body = None
    finally:
        srv.stop()
    return Run(srv, setup_s, warm, ops, items=len(ops), in_bytes=sum(o.in_bytes for o in ops),
               out_bytes=sum(o.out_bytes for o in ops), extra={"checked": len(sample)})


# ---- etl ---------------------------------------------------------------------
def _pipeline_request(csv, out):
    return {"method": "POST", "path": "/api/pipeline/unified", "kind": "pipeline", "body": {
        "source": {"type": "csv", "path": csv},
        "transformers": [
            {"type": "null_remover", "config": {"strategy": "drop"}},
            {"type": "dedup", "config": {"match_fields": ["l_orderkey", "l_linenumber"],
                                         "merge_strategy": "keep_first"}},
            {"type": "quality_scorer", "config": {"min_score": 0.5}},
            {"type": "anomaly_detector", "config": {
                "method": "statistical", "fields": ["l_extendedprice"], "threshold": 3.0}},
            {"type": "metadata_to_columns"}],
        "destinations": [{"type": "parquet", "path": os.path.join(out, "parquet")},
                         {"type": "json", "path": os.path.join(out, "out.json")}]}}


def etl(classes, work, inputs, props, seed, seconds, traced, staged):
    csv = os.path.join(inputs, "dirty.csv")
    outs = os.path.join(work, "etl-out")
    requests = [_pipeline_request(csv, os.path.join(outs, f"op_{i}")) for i in range(1000)]
    srv = _start_server(classes, work, traced, inputs)
    try:
        warm = warm_up(lambda i: closed_loop(srv.port, [_pipeline_request(
            csv, os.path.join(outs, f"warmup_{i}"))], 1, 600))
        setup_s = time.time() - srv.start
        ops = closed_loop(srv.port, requests, 1, seconds, keep_body=lambda i: True)
        srv.sample_rss()
        srv.end()                 # the JVM shuts down while the outputs are checked
        sink_bytes, files, stage_rows = 0, 0, {}
        for o in ops:
            out = os.path.join(outs, f"op_{o.index}")
            written = check.data_files(out) if os.path.isdir(out) else []
            sink_bytes += sum(os.path.getsize(f) for f in written)
            files += len(written)
            if o.ok:
                resp = json.loads(o.body)
                stage_rows = resp.get("stage_counts", {})
                why = check.check_etl_op(resp, props, os.path.join(out, "parquet"),
                                         os.path.join(out, "out.json"))
                if why:
                    o.ok, o.error = False, f"pipeline {o.index}: {why}"
            o.body = None
    finally:
        srv.stop()
    shutil.rmtree(outs, ignore_errors=True)
    return Run(srv, setup_s, warm, ops, items=props["rows"] * len(ops),
               in_bytes=props["input_bytes"] * len(ops), out_bytes=sink_bytes,
               extra={"io_files": files, "stage_rows": stage_rows})


# ---- curation ------------------------------------------------------------------
def curation(classes, work, inputs, props, seed, seconds, traced, staged):
    outs = os.path.join(work, "cur-out")
    inst = Instance(classes, work, traced, "perfbench.CurationMain",
                    [os.path.join(inputs, "corpus.parquet"), "1" if staged else "0",
                     str(CUR_MERGES), str(CUR_BUDGET), str(CUR_SHARD)],
                    "curation", capture=True)

    def reply():
        """The main's next `READY` or `OP` line, skipping any other output."""
        for line in inst.proc.stdout:
            if line.startswith(("READY", "OP ")):
                return line
        raise RuntimeError("curation main stopped:\n" + inst.log_tail())

    def one_pass(i, out):
        t0 = time.time()
        inst.proc.stdin.write(out + "\n")
        inst.proc.stdin.flush()
        stages = json.loads(reply()[3:])
        return Op(i, "pass", t0, time.time(), True), stages

    try:
        reply()
        warm = warm_up(lambda i: [one_pass(i, os.path.join(outs, f"warmup_{i}"))[0]])
        setup_s = time.time() - inst.start
        deadline = time.time() + seconds
        passes = []
        while time.time() < deadline:
            passes.append(one_pass(len(passes), os.path.join(outs, f"op_{len(passes)}")))
        inst.sample_rss()
        inst.end()                # the JVM shuts down while the outputs are checked
        with open(os.path.join(inputs, "expected_survivors.json")) as f:
            expected = json.load(f)
        ops, out_bytes, stages = [], 0, []
        for op, spans in passes:
            out = os.path.join(outs, f"op_{op.index}")
            why = check.check_curation_op(out, expected, CUR_BUDGET, CUR_SHARD)
            out_bytes += sum(os.path.getsize(f) for f in check.data_files(out))
            if why:
                op.ok, op.error = False, f"pass {op.index}: {why}"
            ops.append(op)
            # the pack stage's rows are the checked output rows
            stages.append(dict(spans, stage_rows_pack=len(expected) if why is None else -1))
    finally:
        inst.stop()
    shutil.rmtree(outs, ignore_errors=True)
    return Run(inst, setup_s, warm, ops, items=props["docs"] * len(ops),
               in_bytes=props["input_bytes"] * len(ops), out_bytes=out_bytes,
               extra={"stages": stages})


# Each takes (classes, work dir, inputs, input props, seed, seconds, traced,
# staged): `traced` attaches TraceListener; `staged` makes curation
# materialize each stage on its own, for stage spans (dashboard and etl have
# no stages and ignore it).
WORKLOADS = {"dashboard": dashboard, "etl": etl, "curation": curation}
