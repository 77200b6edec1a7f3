"""Output checks. Each returns None when the output is right and a short
reason string when it is wrong; a wrong op counts as failed.

Dashboard responses are compared with the same request re-run as SQL in
DuckDB over the same parquet files. ETL and curation outputs are compared
with the counts planted by the generators."""
import json
import math
import os

import duckdb
import pyarrow.parquet as pq

AMOUNT = {"lineitem": "l_extendedprice", "claims": "billed_amount"}
DATE = {"lineitem": "l_shipdate", "claims": "service_date"}


def _lit(v):
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return f"CAST('{v!r}' AS DOUBLE)"
    return "'" + str(v).replace("'", "''") + "'"


def _pred(f):
    c, op, v = f["column"], f["operator"], f.get("value")
    return {
        "eq": lambda: f"{c} = {_lit(v)}",
        "neq": lambda: f"{c} <> {_lit(v)}",
        "in": lambda: f"{c} IN ({', '.join(map(_lit, v))})",
        "not_in": lambda: f"NOT ({c} IN ({', '.join(map(_lit, v))}))",
        "between": lambda: f"{c} BETWEEN {_lit(v[0])} AND {_lit(v[1])}",
        "gt": lambda: f"{c} > {_lit(v)}", "gte": lambda: f"{c} >= {_lit(v)}",
        "lt": lambda: f"{c} < {_lit(v)}", "lte": lambda: f"{c} <= {_lit(v)}",
        "contains": lambda: f"CAST({c} AS VARCHAR) ILIKE {_lit('%' + v + '%')}",
        "is_null": lambda: f"{c} IS NULL", "is_not_null": lambda: f"{c} IS NOT NULL",
    }[op]()


def _where(filters):
    return " WHERE " + " AND ".join(map(_pred, filters)) if filters else ""


def _exact_sum(c):
    return f"round(sum({c}), 4)"


def _exact_avg(c):
    return f"floor(sum({c}) / count({c}) * 10000 + 0.5) / 10000"


def _metric(m):
    fn, c, a = m["agg"], m["column"], m["alias"]
    return {"sum": _exact_sum(c), "avg": _exact_avg(c), "min": f"min({c})",
            "max": f"max({c})", "count": "count(*)",
            "count_distinct": f"count(DISTINCT {c})"}[fn] + f" AS {a}"


def request_sql(req):
    """(sql, how) for one dashboard request; `how` names the comparison."""
    kind = req["kind"]
    if kind == "query":
        b = req["body"]
        agg, t = b["aggregation"], b["table"]
        g = agg["group_by"]
        alias = agg.get("order_by", agg["metrics"][0]["alias"])
        asc = "order_by" in agg and agg.get("order_desc") is False
        order = [f"{alias} {'ASC NULLS FIRST' if asc else 'DESC NULLS LAST'}"] + \
            [f"{c} ASC NULLS FIRST" for c in g]
        sql = (f"SELECT {', '.join(g + [_metric(m) for m in agg['metrics']])} FROM {t}"
               f"{_where(b['filters'])} GROUP BY {', '.join(g)} ORDER BY {', '.join(order)}")
        if "limit" in agg:
            sql += f" LIMIT {agg['limit']}"
        return sql, "rows"
    if kind == "drill":
        b = req["body"]
        filters = list(b["filters"])
        if "dimension" in b:
            filters.insert(0, {"column": b["dimension"], "operator": "eq",
                               "value": b["dimension_value"]})
        key = b["sort_key"]
        return (f"SELECT {key} FROM {b['table']}{_where(filters)} ORDER BY {key} "
                f"LIMIT {b['limit']} OFFSET {b['offset']}"), "key:" + key
    if kind == "values":
        q = req["query"]
        c = q["column"]
        where = f"{c} IS NOT NULL"
        if q.get("search"):
            where += f" AND contains(lower(CAST({c} AS VARCHAR)), {_lit(q['search'].lower())})"
        return (f"SELECT DISTINCT {c} FROM {q['table']} WHERE {where} "
                f"ORDER BY {c} LIMIT {q.get('limit', 100)}"), "rows"
    if kind == "canned":
        q = req["query"]
        t, k = q["table"], q["kind"]
        a = AMOUNT[t]
        five = (f"count(*) AS record_count, {_exact_sum(a)} AS total_amount, "
                f"{_exact_avg(a)} AS mean_amount")
        if k == "summary":
            return (f"SELECT {five}, CAST(min({a}) AS DOUBLE) AS min_amount, "
                    f"CAST(max({a}) AS DOUBLE) AS max_amount FROM {t}"), "rows"
        if k == "by_provider":
            return (f"SELECT provider_id, {five}, CAST(min({a}) AS DOUBLE) AS min_amount, "
                    f"CAST(max({a}) AS DOUBLE) AS max_amount FROM {t} GROUP BY provider_id "
                    f"ORDER BY total_amount DESC, provider_id"), "rows"
        if k == "by_category":
            return (f"SELECT diagnosis_code, {five} FROM {t} GROUP BY diagnosis_code "
                    f"ORDER BY record_count DESC, diagnosis_code"), "rows"
        d = DATE[t]
        return (f"SELECT CAST(CAST({d} AS DATE) AS VARCHAR) AS service_date, {five} "
                f"FROM {t} WHERE {d} IS NOT NULL GROUP BY 1 ORDER BY 1"), "rows"
    if kind == "schema":
        q = req["query"]
        parts = [f"SELECT '{c}' AS column_name, count(*) AS total_count, "
                 f"count(*) - count({c}) AS null_count, count(DISTINCT {c}) AS n_distinct "
                 f"FROM {q['table']}" for c in q["columns"].split(",")]
        return " UNION ALL ".join(parts), "profile"
    raise ValueError(kind)


def _same(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=2e-4)
    return a == b


class DashboardOracle:
    """DuckDB over the generated parquet files; answers are cached per
    distinct request."""

    def __init__(self, data_dir):
        self.db = duckdb.connect()
        self.db.execute("SET threads TO 2")
        for t in ("lineitem", "claims"):
            path = os.path.join(data_dir, f"{t}.parquet")
            self.db.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.cache = {}

    def expected(self, req, key):
        if key not in self.cache:
            sql, how = request_sql(req)
            cur = self.db.execute(sql)
            cols = [d[0] for d in cur.description]
            self.cache[key] = (cols, cur.fetchall(), how)
        return self.cache[key]

    def check(self, req, key, body):
        cols, rows, how = self.expected(req, key)
        got = json.loads(body)["data"]
        if len(got) != len(rows):
            return f"{len(got)} rows, expected {len(rows)}"
        if how == "profile":
            by_col = {r["column_name"]: r for r in got}
            for exp in rows:
                g = by_col.get(exp[0])
                if g is None or [g["total_count"], g["null_count"], g["n_distinct"]] != list(exp[1:]):
                    return f"profile of {exp[0]} differs: {g} vs {exp}"
            return None
        if how.startswith("key:"):
            key_col = how[4:]
            got_rows = [[r[key_col]] for r in got]
        else:
            got_rows = [[r.get(c) for c in cols] for r in got]
        for i, (g, e) in enumerate(zip(got_rows, rows)):
            if not all(_same(x, y) for x, y in zip(g, e)):
                return f"row {i} differs: {g} vs {list(e)}"
        return None


def data_files(path):
    """Data files a sink wrote under `path` (a file or a directory), without
    the commit markers and checksums."""
    if os.path.isfile(path):
        return [path]
    out = []
    for d, _, names in os.walk(path):
        out += [os.path.join(d, n) for n in names if not n.startswith((".", "_"))]
    return out


def check_etl_op(resp, props, parquet_dir, json_path):
    loaded = resp.get("rows_loaded")
    if loaded != props["expect_loaded"]:
        return f"rows_loaded {loaded}, expected {props['expect_loaded']}"
    stages = resp.get("stage_counts", {})
    want = {"null_remover": props["expect_after_nulls"]}
    for name, n in stages.items():
        expect = want.get(name.split("(")[0], props["expect_loaded"])
        if n != expect:
            return f"stage {name} counted {n}, expected {expect}"
    if len(stages) != 5:
        return f"{len(stages)} stage counts, expected 5"
    files = [f for f in data_files(parquet_dir) if f.endswith(".parquet")]
    if sum(pq.ParquetFile(f).metadata.num_rows for f in files) != props["expect_loaded"]:
        return "parquet sink row count differs from the planted count"
    flagged = sum(pq.read_table(f, columns=["_meta_is_anomaly"]).column(0)
                  .to_pylist().count(True) for f in files)
    if flagged != props["planted_outliers"]:
        return f"{flagged} anomalies flagged, {props['planted_outliers']} planted"
    with open(json_path, "rb") as f:
        head = f.read(1)
        f.seek(-1, os.SEEK_END)
        if head != b"[" or f.read(1) != b"]":
            return "json sink is not one JSON array"
    return None


def check_curation_op(out_dir, expected_ids, budget, shard_width):
    files = [f for f in data_files(out_dir) if f.endswith(".parquet")]
    if not files:
        return "no parquet output"
    rows = []
    for f in files:
        rows += pq.read_table(f, columns=["doc_id", "text", "tokens", "n_tokens",
                                          "window_id"]).to_pylist()
    ids = sorted(r["doc_id"] for r in rows)
    if ids != expected_ids:
        return f"{len(ids)} survivors, expected {len(expected_ids)} planted families"
    cum = {}
    for r in sorted(rows, key=lambda r: r["doc_id"]):
        norm = " ".join(r["text"].lower().split())
        if "".join(r["tokens"]) != norm:
            return f"BPE does not round-trip doc {r['doc_id']}"
        if r["n_tokens"] != len(norm.split(" ")):
            return f"n_tokens of doc {r['doc_id']} is {r['n_tokens']}"
        shard = r["doc_id"] // shard_width
        cum[shard] = cum.get(shard, 0) + r["n_tokens"]
        window = (shard << 32) + max(math.ceil(cum[shard] / budget) - 1, 0)
        if r["window_id"] != window:
            return f"doc {r['doc_id']} packed into window {r['window_id']}, expected {window}"
    return None
