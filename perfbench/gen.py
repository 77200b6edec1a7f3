"""Seeded input generators for the three benchmark workloads.

Every input is a pure function of (workload, seed): the same seed gives
byte-identical files, a different seed gives different ones. Each generator
writes its files into one directory and a `props.json` beside them that holds
the planted counts and the measured input properties the checks rely on.

    python3 perfbench/gen.py --self-test     # determinism self-test
"""
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- sizes -----------------------------------------------------------------
# dashboard: lineitem at the TPC-H sf0.01 row count, plus a claims table that
# carries the provider/diagnosis/amount/date columns the canned dashboard
# kinds auto-detect
LINEITEM_ROWS = 60_000
CLAIMS_ROWS = 12_000
DASH_REQUESTS = 8_000        # more than any window can send
# The request mix per 50-slot block, the repeat chance and the share of
# requests sent to claims (see _request_stream) are assumptions, not measured
# traffic: no request log of the service exists to draw them from. Results
# hold for this synthetic mix.
DASH_BLOCK = {"query": 26, "drill": 8, "values": 8, "canned": 7, "schema": 1}
DASH_REPEAT = 0.25           # chance that a slot re-sends an earlier request
# etl: a dirty lineitem-shaped CSV
ETL_ROWS = 30_000
ETL_NULL_RATE = 0.02         # rows with one blanked field
ETL_DUP_RATE = 0.03          # extra rows that repeat an earlier row's key
ETL_OUTLIER_RATE = 0.005     # rows whose price is set far out of range
# curation: word-bag documents with planted families
CUR_FAMILIES = 400
CUR_NEARDUP_RATE = 0.3       # families that get 1-2 near-duplicate variants
CUR_EXACT_RATE = 0.2         # families that get an exact copy of a member
CUR_SHORT = 100              # docs under 50 chars
CUR_LOWQ = 100               # punctuation soup, fails qualityScore

WORDS = ("spark batch line column order small sort fast value scan hash slow "
         "group agg filter query big key window row part table stream merge "
         "data join vector customer shuffle stage task cache plan index "
         "token corpus model train score rank graph edge node path frame "
         "record field schema parquet writer reader buffer page block").split()
STOPWORDS = "the a of and to in is it for on with as".split()


def _rng(workload, seed):
    digest = hashlib.sha256(f"{workload}:{seed}".encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(digest[:8], "little")))


def _write_parquet(table, path):
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _lineitem(rng, n):
    lines = rng.integers(1, 8, size=n)                  # lines per order
    orderkey = np.repeat(np.arange(1, n + 1, dtype=np.int64), lines)[:n]
    start = np.r_[0, np.flatnonzero(np.diff(orderkey)) + 1]
    linenumber = (np.arange(n) - np.repeat(start, np.diff(np.r_[start, n])) + 1)
    partkey = rng.integers(1, 20_001, size=n)
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    price = np.round(qty * (900.0 + (partkey % 1000) + partkey / 100.0), 2)
    day0 = np.datetime64("1992-01-02", "D")
    ship = day0 + rng.integers(0, 2526, size=n).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": orderkey,
        "l_partkey": partkey.astype(np.int64),
        "l_suppkey": rng.integers(1, 1001, size=n).astype(np.int64),
        "l_linenumber": linenumber.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, size=n) / 100.0,
        "l_tax": rng.integers(0, 9, size=n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, size=n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, size=n)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    })


def _claims(rng, n):
    day0 = np.datetime64("2020-01-01", "D")
    svc = day0 + rng.integers(0, 730, size=n).astype("timedelta64[D]")
    return pa.table({
        "claim_id": np.arange(1, n + 1, dtype=np.int64),
        "provider_id": np.char.add("P", np.char.zfill(
            rng.integers(1, 301, size=n).astype(str), 4)),
        "diagnosis_code": np.char.add("D", np.char.zfill(
            rng.integers(1, 81, size=n).astype(str), 3)),
        "billed_amount": np.round(rng.gamma(2.0, 400.0, size=n), 2),
        "patient_age": rng.integers(0, 96, size=n).astype(np.int32),
        "service_date": pa.array(svc.astype("datetime64[us]")),
    })


# ---- dashboard request stream ---------------------------------------------
LI_NUM = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
AGGS = ["sum", "avg", "min", "max", "count", "count_distinct"]
CL_NUM = ["billed_amount", "patient_age"]


def _filters(rng, table, count):
    def one():
        r = rng.random()
        if table == "claims":
            if r < 0.3:
                return {"column": "provider_id", "operator": "in", "value":
                        sorted({f"P{int(v):04d}" for v in rng.integers(1, 301, 8)})}
            if r < 0.5:
                return {"column": "diagnosis_code", "operator": "neq",
                        "value": f"D{int(rng.integers(1, 81)):03d}"}
            if r < 0.75:
                return {"column": "billed_amount", "operator": "gt",
                        "value": float(rng.integers(100, 1500))}
            lo = int(rng.integers(0, 600))
            return {"column": "service_date", "operator": "between", "value": [
                str(np.datetime64("2020-01-01") + lo),
                str(np.datetime64("2020-01-01") + lo + int(rng.integers(30, 200)))]}
        if r < 0.15:
            return {"column": "l_returnflag", "operator": "in",
                    "value": sorted(set(rng.choice(["A", "N", "R"], 2).tolist()))}
        if r < 0.25:
            return {"column": "l_linestatus", "operator": "eq",
                    "value": str(rng.choice(["O", "F"]))}
        if r < 0.4:
            return {"column": "l_quantity", "operator": str(rng.choice(["gt", "lte"])),
                    "value": int(rng.integers(5, 45))}
        if r < 0.5:
            lo = int(rng.integers(0, 8))
            return {"column": "l_discount", "operator": "between",
                    "value": [lo / 100.0, (lo + int(rng.integers(1, 4))) / 100.0]}
        if r < 0.7:
            lo = int(rng.integers(0, 2000))
            return {"column": "l_shipdate", "operator": "between", "value": [
                str(np.datetime64("1992-01-02") + lo),
                str(np.datetime64("1992-01-02") + lo + int(rng.integers(60, 500)))]}
        if r < 0.8:
            return {"column": "l_suppkey", "operator": "in",
                    "value": sorted({int(v) for v in rng.integers(1, 1001, 40)})}
        if r < 0.9:
            return {"column": "l_returnflag", "operator": "contains",
                    "value": str(rng.choice(["a", "n", "r"]))}
        return {"column": "l_tax", "operator": "gte", "value": float(rng.integers(0, 8)) / 100.0}
    out, seen = [], set()
    for _ in range(count):
        f = one()
        if f["column"] not in seen:
            seen.add(f["column"])
            out.append(f)
    return out


def _query(rng, table, n):
    if table == "claims":
        groups = [["provider_id"], ["diagnosis_code"], ["patient_age"]]
        nums, cd = CL_NUM, "provider_id"
    else:
        groups = [["l_returnflag"], ["l_linestatus"], ["l_linenumber"],
                  ["l_suppkey"], ["l_returnflag", "l_linestatus"]]
        nums, cd = LI_NUM, "l_partkey"
    # the query's shape (group-by, metric count and functions) cycles with
    # n, so each seed sends the same shapes; the seed draws columns and filters
    group_by = groups[n % len(groups)]
    metrics = []
    for i in range(1 + n // len(groups) % 3):
        fn = AGGS[(n + i) % len(AGGS)]
        col = cd if fn == "count_distinct" else str(rng.choice(nums))
        metrics.append({"column": col, "agg": fn, "alias": f"m{i}_{fn}"})
    agg = {"group_by": group_by, "metrics": metrics}
    if rng.random() < 0.3:
        agg["order_by"] = metrics[-1]["alias"]
        agg["order_desc"] = bool(rng.random() < 0.5)
    if rng.random() < 0.5 or group_by == ["l_suppkey"] or group_by == ["provider_id"]:
        agg["limit"] = int(rng.choice([10, 20, 50]))
    return {"kind": "query", "method": "POST", "path": "/api/analytics/dashboard/query",
            "body": {"table": table, "filters": _filters(rng, table, 1 + n % 3),
                     "aggregation": agg}}


def _drill(rng, table, n):
    if table == "claims":
        cols = ["claim_id", "provider_id", "diagnosis_code", "billed_amount", "service_date"]
        keys = ["claim_id", "billed_amount"]
        dim = ("diagnosis_code", f"D{int(rng.integers(1, 81)):03d}")
    else:
        cols = ["l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
                "l_returnflag", "l_shipdate"]
        keys = ["l_extendedprice", "l_orderkey", "l_partkey"]
        dim = ("l_returnflag", str(rng.choice(["A", "N", "R"])))
    key = str(rng.choice(keys))
    pick = sorted(set(rng.choice(cols, int(rng.integers(2, len(cols) + 1)), replace=False)) | {key})
    body = {"table": table, "filters": _filters(rng, table, 1 + n % 3), "columns": pick,
            "sort_key": key, "limit": (20, 50, 100)[n % 3],
            "offset": int(rng.integers(0, 5)) * 100}
    if rng.random() < 0.4:
        body["dimension"], body["dimension_value"] = dim
    return {"kind": "drill", "method": "POST",
            "path": "/api/analytics/dashboard/drill-down", "body": body}


def _values(rng, n):
    table, col = [("lineitem", "l_returnflag"), ("lineitem", "l_linestatus"),
                  ("lineitem", "l_suppkey"), ("lineitem", "l_linenumber"),
                  ("claims", "provider_id"), ("claims", "diagnosis_code")][n % 6]
    q = {"table": table, "column": col, "limit": int(rng.choice([20, 100]))}
    if n // 6 % 2 == 0:                      # half of them search
        q["search"] = {"l_returnflag": "r", "l_linestatus": "f", "l_suppkey": "7",
                       "l_linenumber": "3", "provider_id": "p01",
                       "diagnosis_code": "d0"}[col] + ("" if rng.random() < 0.5 else
                                                     str(int(rng.integers(0, 10))))
    return {"kind": "values", "method": "GET",
            "path": "/api/analytics/dashboard/filter-values", "query": q}


def _canned(n):
    kind = ("summary", "by_provider", "by_category", "by_date")[n % 4]
    table = "claims" if kind in ("by_provider", "by_category") or n // 4 % 2 else "lineitem"
    return {"kind": "canned", "method": "GET", "path": "/api/analytics/dashboard",
            "query": {"kind": kind, "table": table}}


def _schema(rng, n):
    if n % 2:
        table, cols = "claims", ["provider_id", "diagnosis_code", "billed_amount", "patient_age"]
    else:
        table, cols = "lineitem", ["l_returnflag", "l_linestatus", "l_quantity", "l_discount", "l_suppkey"]
    pick = [c for c in cols if rng.random() < 0.6] or cols[:2]
    return {"kind": "schema", "method": "GET", "path": "/api/analytics/dashboard/schema",
            "query": {"table": table, "columns": ",".join(pick)}}


def _block_template():
    """One block's kinds in a fixed order, each kind spread evenly over the
    block, so every window of the stream sends the same mix of kinds
    whatever the seed (the rare schema profile sits at slot 12 of 50)."""
    slots = sorted(((i + 0.2) / c, k) for k, c in DASH_BLOCK.items() for i in range(c))
    return [k for _, k in slots]


def _request_stream(rng, n):
    """Blocks of the fixed kind template. Each kind's request shapes cycle
    and every fifth query and drill-down goes to `claims`, so every seed
    sends the same shapes; the seed draws columns and values, and whether a
    slot repeats an earlier request of its kind (probability DASH_REPEAT)."""
    out, by_kind, seen = [], {k: [] for k in DASH_BLOCK}, dict.fromkeys(DASH_BLOCK, 0)
    fresh = {}                                # (kind, table) -> requests drawn
    template = _block_template()
    while len(out) < n:
        for kind in template:
            prev = by_kind[kind]
            table = "claims" if seen[kind] % 5 == 4 else "lineitem"
            seen[kind] += 1
            if prev and rng.random() < DASH_REPEAT:
                req = prev[int(rng.integers(0, len(prev)))]
            else:
                j = fresh.get((kind, table), 0)
                fresh[(kind, table)] = j + 1
                req = {"query": lambda: _query(rng, table, j), "drill": lambda: _drill(rng, table, j),
                       "values": lambda: _values(rng, j), "canned": lambda: _canned(j),
                       "schema": lambda: _schema(rng, j)}[kind]()
                prev.append(req)
            out.append(req)
    return out[:n]


def request_key(req):
    return json.dumps([req["path"], req.get("body"), req.get("query")], sort_keys=True)


def gen_dashboard(seed, out):
    rng = _rng("dashboard", seed)
    li = _lineitem(rng, LINEITEM_ROWS)
    cl = _claims(rng, CLAIMS_ROWS)
    _write_parquet(li, os.path.join(out, "lineitem.parquet"))
    _write_parquet(cl, os.path.join(out, "claims.parquet"))
    reqs = _request_stream(rng, DASH_REQUESTS)
    with open(os.path.join(out, "requests.jsonl"), "w") as f:
        for r in reqs:
            f.write(json.dumps(r, sort_keys=True) + "\n")
    seen, repeats = set(), 0
    for r in reqs:
        k = request_key(r)
        repeats += k in seen
        seen.add(k)
    kinds = {k: sum(r["kind"] == k for r in reqs) for k in DASH_BLOCK}
    return {"lineitem_rows": li.num_rows, "claims_rows": cl.num_rows,
            "requests": len(reqs), "request_kinds": kinds,
            "planted_repeat_rate": DASH_REPEAT,
            "dash.repeat_share": repeats / len(reqs),
            "input_bytes": sum(os.path.getsize(os.path.join(out, t))
                               for t in ("lineitem.parquet", "claims.parquet"))}


# ---- etl dirty CSV ---------------------------------------------------------
ETL_COLUMNS = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity",
               "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
               "l_linestatus", "l_shipdate"]


def gen_etl(seed, out):
    rng = _rng("etl", seed)
    n_clean = ETL_ROWS
    base = _lineitem(rng, n_clean).to_pydict()
    rows = [[base[c][i] for c in ETL_COLUMNS] for i in range(n_clean)]
    for r in rows:
        r[10] = r[10].strftime("%Y-%m-%d")
    n_dup = int(round(n_clean * ETL_DUP_RATE))
    n_null = int(round(n_clean * ETL_NULL_RATE))
    n_out = int(round(n_clean * ETL_OUTLIER_RATE))
    # disjoint row sets: dup sources, null rows, outlier rows
    picks = rng.permutation(n_clean)
    dup_src, null_rows, out_rows = (picks[:n_dup], picks[n_dup:n_dup + n_null],
                                    picks[n_dup + n_null:n_dup + n_null + n_out])
    for i in null_rows:                       # blank one non-key field
        rows[i][int(rng.integers(2, len(ETL_COLUMNS)))] = None
    for i in out_rows:                         # far beyond 3 sigma
        rows[i][5] = round(1e9 * (1.0 + rng.random() / 10.0), 2)
    dups = []
    for i in dup_src:                          # same key, changed quantity
        d = list(rows[i])
        d[4] = float(rng.integers(1, 51))
        dups.append(d)
    # each copy lands somewhere after its source row
    pos = np.r_[np.arange(n_clean, dtype=np.float64),
                dup_src + rng.uniform(0.5, 1.0, size=n_dup) * (n_clean - dup_src)]
    every = rows + dups
    merged = [every[k] for k in np.argsort(pos, kind="stable")]
    path = os.path.join(out, "dirty.csv")
    with open(path, "w") as f:
        f.write(",".join(ETL_COLUMNS) + "\n")
        for r in merged:
            f.write(",".join("" if v is None else (repr(v) if isinstance(v, float) else str(v))
                             for v in r) + "\n")
    keys = [(r[0], r[1]) for r in merged]
    n_rows = len(merged)
    return {"rows": n_rows, "planted_nulls": n_null, "planted_dups": n_dup,
            "planted_outliers": n_out,
            "expect_after_nulls": n_rows - n_null,
            "expect_loaded": n_rows - n_null - n_dup,
            "etl.null_share": sum(any(v is None for v in r) for r in merged) / n_rows,
            "etl.dup_share": (n_rows - len(set(keys))) / n_rows,
            "etl.outlier_share": n_out / n_rows,
            "input_bytes": os.path.getsize(path)}


# ---- curation corpus ------------------------------------------------------
def _doc(rng, lo, hi):
    n = int(rng.integers(lo, hi))
    ws = rng.choice(WORDS, n).tolist()
    for p in rng.choice(n, max(1, n // 8), replace=False):
        ws[p] = str(rng.choice(STOPWORDS))
    return " ".join(ws)


def gen_curation(seed, out):
    rng = _rng("curation", seed)
    docs, family = [], []                     # family id per doc; -1 = drop
    n_neardup = n_exact = 0
    for fam in range(CUR_FAMILIES):
        members = [_doc(rng, 15, 80)]
        if rng.random() < CUR_NEARDUP_RATE:
            w = members[0].split(" ")
            members.append(" ".join(w[1:]))        # drop first word
            if rng.random() < 0.5:
                members.append(" ".join(w[:-1]))   # drop last word
            n_neardup += len(members) - 1
        if rng.random() < CUR_EXACT_RATE:
            members.append(members[int(rng.integers(0, len(members)))])
            n_exact += 1
        docs += members
        family += [fam] * len(members)
    for _ in range(CUR_SHORT):
        docs.append(" ".join(rng.choice(WORDS, int(rng.integers(2, 5))).tolist())[:45])
        family.append(-1)
    punct = list("!@#$%^&*;:?")
    for _ in range(CUR_LOWQ):
        docs.append(" ".join("".join(rng.choice(punct, 12).tolist()) for _ in range(6)))
        family.append(-1)
    perm = rng.permutation(len(docs))           # ids in random order
    ids = np.empty(len(docs), dtype=np.int64)
    ids[perm] = np.arange(len(docs))
    texts = [docs[i] for i in perm]
    fams = [family[i] for i in perm]
    table = pa.table({"doc_id": np.arange(len(docs), dtype=np.int64),
                      "text": texts,
                      "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    path = os.path.join(out, "corpus.parquet")
    _write_parquet(table, path)
    survivors = {}
    for i, f in enumerate(fams):
        if f >= 0 and f not in survivors:
            survivors[f] = i                   # ids ascend, so first = min
    with open(os.path.join(out, "expected_survivors.json"), "w") as fh:
        json.dump(sorted(survivors.values()), fh)
    n = len(docs)
    return {"docs": n, "families": CUR_FAMILIES, "planted_neardup": n_neardup,
            "planted_exact": n_exact, "planted_short": CUR_SHORT,
            "planted_lowq": CUR_LOWQ, "expect_survivors": len(survivors),
            "cur.neardup_share": n_neardup / n, "cur.exact_share": n_exact / n,
            "input_bytes": os.path.getsize(path)}


GENERATORS = {"dashboard": gen_dashboard, "etl": gen_etl, "curation": gen_curation}


def ensure(workload, seed, root):
    """Inputs for (workload, seed) under `root`, generated once and cached;
    the cache key includes this file's digest, so edited generators never
    reuse stale inputs."""
    with open(os.path.abspath(__file__), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(root, workload, f"{seed}-{version}")
    props_path = os.path.join(out, "props.json")
    if not os.path.exists(props_path):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        props = GENERATORS[workload](seed, tmp)
        props.update({"workload": workload, "seed": seed})
        with open(os.path.join(tmp, "props.json"), "w") as f:
            json.dump(props, f, indent=1, sort_keys=True)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    with open(props_path) as f:
        return out, json.load(f)


def _digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def self_test(root):
    shutil.rmtree(root, ignore_errors=True)
    ok = True
    for wl in GENERATORS:
        a = _digest(ensure(wl, 1, os.path.join(root, "a"))[0])
        b = _digest(ensure(wl, 1, os.path.join(root, "b"))[0])
        c = _digest(ensure(wl, 2, os.path.join(root, "a"))[0])
        same, diff = a == b, a != c
        ok &= same and diff
        print(f"{wl}: same seed identical={same} other seed differs={diff}")
    shutil.rmtree(root, ignore_errors=True)
    return ok


if __name__ == "__main__":
    if sys.argv[1:] != ["--self-test"]:
        sys.exit("usage: python3 perfbench/gen.py --self-test")
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    build = os.path.join(here, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    sys.exit(0 if self_test(os.path.join(build, "gen-selftest")) else 1)
