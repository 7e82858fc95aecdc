#!/usr/bin/env python3
"""Compare query_mix's generated tables with a reference copy of the
catalog's test tables, on the figures that drive the queries' cost.

    python3 perfbench/shape.py --ref DIR [--sf 0.1] [--bench-sf 0.02] [--seed 1] [--trace FILE]

DIR holds the reference tables as `<table>.parquet` at scale factor --sf.
The script generates the benchmark's tables at the same scale factor, and
at the scale factor query_mix runs at (--bench-sf), and prints, for all
three: row counts, join fan-outs, the co-activity graph's edges
and average degree (users active in the same minute for the same event
type, the graph the catalog's graph queries build), and each query's output
rows, by running its oracle SQL in DuckDB. The oracle SQL comes from a
query_mix trace file (default: the newest in .bench_runs/traces/).
Run from the root of the checkout.
"""
import argparse
import glob
import json
import os
import shutil
import tempfile

import duckdb

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
TRACES = os.path.join(os.path.dirname(HERE), ".bench_runs", "traces")

FIGURES = {
    "lineitem per order": "SELECT count(*) * 1.0 / (SELECT count(*) FROM orders) FROM lineitem",
    "orders per customer": "SELECT count(*) * 1.0 / (SELECT count(*) FROM customer) FROM orders",
    "distinct l_orderkey": "SELECT count(DISTINCT l_orderkey) FROM lineitem",
    "events per user": "SELECT count(*) * 1.0 / count(DISTINCT user_id) FROM events",
    "events per (minute, type)": """SELECT avg(n) FROM (SELECT count(*) AS n FROM events
        GROUP BY date_trunc('minute', ts), event_type)""",
    "co-activity edges": """WITH b AS (SELECT DISTINCT date_trunc('minute', ts) AS h,
        event_type, user_id FROM events)
        SELECT count(*) FROM (SELECT DISTINCT x.user_id AS a, y.user_id AS b FROM b x
        JOIN b y ON x.h = y.h AND x.event_type = y.event_type AND x.user_id < y.user_id)""",
    "co-activity avg degree": """WITH b AS (SELECT DISTINCT date_trunc('minute', ts) AS h,
        event_type, user_id FROM events),
        e AS (SELECT DISTINCT x.user_id AS a, y.user_id AS b FROM b x
        JOIN b y ON x.h = y.h AND x.event_type = y.event_type AND x.user_id < y.user_id)
        SELECT 2.0 * count(*) / (SELECT count(DISTINCT user_id) FROM events) FROM e""",
    "words per document": """SELECT avg(len(string_split(text, ' '))) FROM documents""",
}


def connect(d):
    con = duckdb.connect()
    for p in glob.glob(os.path.join(d, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def scalar(con, sql):
    try:
        v = con.execute(sql).fetchone()[0]
        return round(v, 2) if isinstance(v, float) else v
    except duckdb.Error as e:
        return f"error: {str(e)[:60]}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--ref", required=True)
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--bench-sf", type=float, default=0.02)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--trace")
    a = ap.parse_args()
    trace = a.trace or max(glob.glob(os.path.join(TRACES, "query_mix-*.json")),
                           key=os.path.getmtime, default=None)
    sql = json.load(open(trace))["prepared"]["oracle_sql"] if trace else {}
    os.makedirs(os.path.dirname(TRACES), exist_ok=True)
    tmp = tempfile.mkdtemp(dir=os.path.dirname(TRACES))
    try:
        gen.tables(f"{tmp}/same", a.seed, a.sf)
        gen.tables(f"{tmp}/bench", a.seed, a.bench_sf)
        cons = [connect(a.ref), connect(f"{tmp}/same"), connect(f"{tmp}/bench")]
        rows = [(f"rows {t}", f"SELECT count(*) FROM {t}") for t in
                sorted(os.path.basename(p)[:-8] for p in glob.glob(f"{tmp}/same/*.parquet"))]
        rows += list(FIGURES.items())
        rows += [(f"query {q} rows", f"SELECT count(*) FROM ({s})") for q, s in sorted(sql.items())]
        print(f"{'figure':36s} {'reference':>12s} {'generated':>12s} {'sf' + str(a.bench_sf):>12s}")
        for name, s in rows:
            print(f"{name:36s}" + "".join(f" {str(scalar(c, s)):>12s}" for c in cons))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
