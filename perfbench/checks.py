"""Output checks run after the JVM exits: the replies and row counts the
harness handed back, compared against DuckDB over the generated inputs and
against the counts the plan fixes. Each function returns a list of failure
messages (empty when everything matches)."""
import fnmatch
import json
import math
import os

import duckdb


def _close(a, b):
    return a == b or (a is not None and b is not None and
                      math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9))


def views_5m(con, reply, oracle):
    """A resolution=5m views reply against DuckDB's per-5-minute
    count/avg/min/max over the generated points."""
    want = con.execute(
        """SELECT ts_ms - ts_ms % 300000 AS b, count(*), avg(value), min(value), max(value)
           FROM points WHERE tenant_id = ? AND metric_name = ? AND ts_ms >= ? AND ts_ms < ?
           GROUP BY b ORDER BY b""",
        [oracle["tenant"], oracle["name"], oracle["from"], oracle["to"]]).fetchall()
    metrics = json.loads(reply)["metrics"]
    if len(metrics) != 1:
        return [f"views_5m: {len(metrics)} metrics"]
    got = [(v["timestamp"], v["num_points"], v["average"], v["min_v"], v["max_v"])
           for v in metrics[0]["values"]]
    if not want:
        return ["views_5m: the oracle range holds no points"]
    if len(got) != len(want):
        return [f"views_5m: {len(got)} buckets, DuckDB has {len(want)}"]
    bad = [(g, w) for g, w in zip(got, want)
           if g[0] != w[0] or g[1] != w[1] or not all(_close(x, y) for x, y in zip(g[2:], w[2:]))]
    return [f"views_5m: bucket {g} != DuckDB {w}" for g, w in bad[:3]]


def _glob_names(names, pattern):
    return sorted(n for n in names if fnmatch.fnmatchcase(n, pattern))


def dashboard(inputs_dir, plan, reference):
    """The reference reply of every rotation request: series, metric and
    node counts from the plan, series names from the corpus' locators, and
    the views_5m buckets from DuckDB."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW points AS SELECT * FROM read_parquet('{os.path.join(inputs_dir, 'points.parquet')}')")
    names = [r[0] for r in con.execute("SELECT DISTINCT metric_name FROM points").fetchall()]
    fails = []
    for req in plan["requests"]:
        body = reference.get(req["kind"])
        if body is None:
            fails.append(f"{req['kind']}: no reply recorded")
            continue
        e = req["expect"]
        j = json.loads(body)
        if req["route"] == "render":
            if len(j) != e["series"] or any(not s["datapoints"] for s in j):
                fails.append(f"{req['kind']}: {len(j)} series, expected {e['series']} non-empty")
            if req["kind"] == "render_raw":
                target = req["path"].split("target=")[1].split("&")[0].replace("%2A", "*")
                want = _glob_names(names, target)
                if sorted(s["target"] for s in j) != want:
                    fails.append(f"render_raw: series {sorted(s['target'] for s in j)} != {want}")
        elif req["route"] in ("views", "views_batch"):
            if len(j["metrics"]) != e["metrics"]:
                fails.append(f"{req['kind']}: {len(j['metrics'])} metrics, expected {e['metrics']}")
            if "oracle" in e:
                fails += views_5m(con, body, e["oracle"])
        elif req["route"] == "find":
            want = sorted({n.split(".")[1] for n in names
                           if n.startswith(req["path"].split("query=")[1].replace(".%2A", "."))})
            if sorted(x["text"] for x in j) != want:
                fails.append(f"find: nodes {sorted(x['text'] for x in j)} != {want}")
    return fails


def batch(inputs_dir, rows, oracle_sql):
    """Each batch query's row count against count(*) over its oracle SQL."""
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(inputs_dir, t + '.parquet')}')")
    fails = []
    for q, sql in oracle_sql.items():
        if sql is None:
            fails.append(f"{q}: no oracle SQL")
            continue
        want = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        if rows.get(q) != want:
            fails.append(f"{q}: {rows.get(q)} rows, DuckDB oracle {want}")
        elif want == 0:
            fails.append(f"{q}: the oracle returns no rows, so the check proves nothing")
    return fails
