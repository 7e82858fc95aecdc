#!/usr/bin/env python3
"""Benchmark command: build, generate seeded inputs, run one workload in one
JVM, check its outputs, print one JSON result line.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds the engine and
the benchmark from source with sbt (outputs under .bench_build/, target/ and
perfbench/target/); later runs reuse the build while the sources are
unchanged. Every file a run writes goes under .bench_runs/ in the checkout:
the run's temp root (inputs, outputs, ledger, warehouse, Spark scratch) is
deleted at the end, and the trace file stays in .bench_runs/traces/.

With --trace 0 the result carries the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics (see perfbench/README.md).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
BUILD = os.path.join(CHECKOUT, ".bench_build")
RUNS = os.path.join(CHECKOUT, ".bench_runs")
DEADLINE_S = 170          # a run must end within 180 s
SETUP_ROUNDS = 3

# Workload sizes; the seed comes from --seed.
WORKLOADS = {
    "etl_batch": {"files": 4, "rows": 5000, "extra_every": 3, "bad_every": 4,
                  "customers": 2000},
    "query_mix": {"sf": 0.02, "queries": [
        "customer_mart", "sales_mart_incentive", "tpch_q3",
        "median_pcts", "try_cast_funcs",
        "pagerank_bipartite", "link_prediction",
        "tfidf_top_terms", "bm25_scores",
        "embedding_neardup_exact"],
        "warm": ["customer_mart"]},
}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    pats = ["src/main/**/*", "perfbench/src/**/*", "build.sbt", "project/*.sbt",
            "project/build.properties", "perfbench/build.sbt",
            "perfbench/project/build.properties"]
    files = sorted({f for p in pats for f in glob.glob(os.path.join(CHECKOUT, p), recursive=True)
                    if os.path.isfile(f)})
    for f in files:
        h.update(os.path.relpath(f, CHECKOUT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(deadline):
    """Compile graft + the benchmark (sbt); return the runtime classpath."""
    if not os.path.isdir(os.path.join(CHECKOUT, "src", "main", "scala", "graft")):
        fail("no graft sources beside the benchmark (src/main/scala/graft)")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "perfbench.stamp")
    cp_file = os.path.join(BUILD, "perfbench.classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building graft and the benchmark with sbt ...")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    with open(os.path.join(BUILD, "sbt.log"), "w") as logf:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=logf, text=True, timeout=max(60, deadline - time.time()))
        logf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"sbt build failed (exit {p.returncode}); see .bench_build/sbt.log")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# ---------------------------------------------------------------- inputs

def generate(workload, seed, inputs):
    """Write the run's inputs; return (seconds taken, expected outputs)."""
    w = WORKLOADS[workload]
    t0 = time.perf_counter()
    expected = None
    if workload == "etl_batch":
        expected = gen.sales(inputs, seed, w["files"], w["rows"], w["extra_every"],
                             w["bad_every"], w["customers"])
    else:
        gen.tables(os.path.join(inputs, "tables"), seed, w["sf"])
    return time.perf_counter() - t0, expected


# ---------------------------------------------------------------- JVM

def heap():
    """2-8 GB from MemTotal, the rule the repo's tier-1 tests use."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def run_jvm(cp, workload, seed, seconds, trace, root, inputs, cores, deadline):
    out = os.path.join(root, "result.json")
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{heap()}", "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
            "-XX:-UseDynamicNumberOfCompilerThreads", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.sql.codegen.cache.maxEntries=2000",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={root}",
            f"-Dderby.stream.error.file={root}/derby.log",
            "-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--root", root, "--inputs", inputs,
            "--cores", str(cores), "--setup-rounds", str(SETUP_ROUNDS), "--out", out]
    w = WORKLOADS[workload]
    for k in ("queries", "warm"):
        if k in w:
            cmd += [f"--p.{k}", ",".join(w[k])]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(root, "local"))
    with open(os.path.join(root, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=root, env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(root, "jvm.log")) as f:
            tail = f.read()[-3000:]
        log(f"JVM exited with {code}; log tail:\n{tail}")
        return None
    with open(out) as f:
        return json.load(f)


# ---------------------------------------------------------------- checks

def check_oracle(prepared):
    """Each query's result against its oracle SQL run by DuckDB on the same
    parquet tables: same columns, same rows (exact), same hash."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for p in glob.glob(os.path.join(prepared["data_dir"], "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    res = {}
    for name, sql in sorted(prepared["oracle_sql"].items()):
        try:
            want = con.execute(sql).df()
            got = duckdb.connect().execute(
                f"SELECT * FROM read_parquet('{prepared['check_dir']}/{name}/*.parquet')").df()
            want = want[sorted(want.columns)]
            got = got[sorted(got.columns)]
            if list(want.columns) != list(got.columns) or len(want) != len(got):
                res[name] = {"ok": False, "why": f"shape {got.shape} != {want.shape}"}
                continue
            ws = want.sort_values(by=list(want.columns)).reset_index(drop=True)
            gs = got.sort_values(by=list(got.columns)).reset_index(drop=True)
            pd.testing.assert_frame_equal(ws, gs, check_dtype=False, check_exact=True)
            h = hashlib.sha256(gs.to_csv(index=False).encode()).hexdigest()[:16]
            res[name] = {"ok": True, "rows": len(gs), "hash": h}
        except Exception as e:  # a mismatch or an unreadable result
            res[name] = {"ok": False, "why": f"{type(e).__name__}: {str(e)[:300]}"}
    return res


def check(workload, r, expected):
    """(per-op ok flags, named checks) from the JVM's observations."""
    ops_ok = [o["ok"] for o in r["ops"]]
    checks = {}
    if workload == "etl_batch":
        for i, o in enumerate(r["ops"]):
            good = (o.get("fact_rows") == expected["fact_rows"]
                    and o.get("quarantined") == expected["quarantined"]
                    and o.get("customer_mart_rows") == expected["customer_mart_rows"]
                    and o.get("sales_mart_rows") == expected["sales_mart_rows"])
            ops_ok[i] = ops_ok[i] and good
        f = r["finished"]
        for k in ("customer_mart_rows", "customer_mart_total_cents", "sales_mart_rows",
                  "sales_mart_total_cents", "rank1_incentive_cents", "rank1_rows"):
            checks[k] = f[k] == expected[k]
        checks["no_active_ledger_files"] = f["active_files"] == []
        checks["batch_outputs"] = all(ops_ok)
    else:
        oracle = check_oracle(r["prepared"])
        r["oracle"] = oracle
        checks["check_pass"] = r["prepared"]["failed"] == []
        checks["oracle"] = all(v["ok"] for v in oracle.values())
        checks["oracle_covers_all"] = set(oracle) == set(WORKLOADS[workload]["queries"])
    return ops_ok, checks


# ---------------------------------------------------------------- metrics

def tail(xs):
    """(value, percentile, n): the highest of p99/p95/p90/p80/p75/p50 with at
    least 10 samples beyond it; p50 when the run has fewer than 20 samples."""
    n = len(xs)
    for p in (99, 95, 90, 80, 75, 50):
        if n * (100 - p) / 100 >= 10:
            break
    else:
        p = 50
    s = sorted(xs)
    k = (n - 1) * p / 100
    lo = int(k)
    hi = min(lo + 1, n - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo), p, n


def p50_of(ops, kind, key="s"):
    xs = [o[key] for o in ops if o["kind"] == kind]
    return statistics.median(xs) if xs else 0.0


def end_to_end(r, setup_s):
    lat = [o["s"] for o in r["ops"]]
    t, p, n = tail(lat)
    r["op_tail"] = {"value_s": t, "percentile": p, "samples": n}
    kinds = sorted({o["kind"] for o in r["ops"]})

    def geomean_p50(key):
        return statistics.geometric_mean([p50_of(r["ops"], k, key) for k in kinds])
    return {
        "setup_s": setup_s,
        "op_p50_s": geomean_p50("s"),
        "op_cpu_s": geomean_p50("cpu_s"),
        "ops_per_s": len(lat) / sum(lat),
        "heap_after_gc_mb": r["heap_after_gc_mb"],
    }


def workload_numbers(workload, ops, r):
    """Headline numbers of each workload (0 where they do not apply)."""
    out = {k: 0.0 for k in (
        "etl.rows_per_s", "mix.queries_total_s", "mix.query_geomean_s")}
    if workload == "etl_batch":
        rows = sum(o.get("fact_rows", 0) for o in ops)
        out["etl.rows_per_s"] = rows / sum(o["s"] for o in ops)
    else:
        per = {}
        for o in ops:
            per.setdefault(o["kind"], []).append(o["s"])
        meds = [statistics.median(v) for v in per.values()]
        out["mix.queries_total_s"] = sum(meds)
        out["mix.query_geomean_s"] = statistics.geometric_mean(meds)
    return out


LAYERS = ("io", "etl", "meta", "ops", "catalog", "catalyst", "exec", "driver")


def per_layer(workload, r):
    ops = r["ops"]
    untraced = [o for o in ops if not o["traced"]]
    traced = [o for o in ops if o["traced"]]
    m = dict(r["layers"])
    m.update(workload_numbers(workload, untraced or ops, r))
    # wall time per op by layer, averaged over the traced ops of every kind
    split = r["layer_split"]
    n = sum(1 for o in traced)
    for layer in LAYERS:
        m[f"split.{layer}_s"] = sum(
            v.get(layer, 0.0) * sum(1 for o in traced if o["kind"] == k)
            for k, v in split.items()) / max(1, n)
    # tracing overhead: traced over untraced median, summed over op kinds
    kinds = sorted({o["kind"] for o in traced} & {o["kind"] for o in untraced})
    t = sum(p50_of(traced, k) for k in kinds)
    u = sum(p50_of(untraced, k) for k in kinds)
    m["trace.overhead_ratio"] = t / u if u else 1.0
    return m


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    start = time.time()
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build(start + 850)
    deadline = time.time() + DEADLINE_S
    root = os.path.join(RUNS, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    try:
        inputs = os.path.join(root, "inputs")
        gen_s, expected = generate(a.workload, a.seed, inputs)
        # two task threads: the JIT compiler threads stay busy through the
        # whole run (2-4 CPU-s per etl batch), and with as many task threads
        # as cores they compete for the CPU; at these input sizes neither
        # workload is faster with four
        cores = min(2, os.cpu_count() or 1)
        r = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, root, inputs, cores, deadline)
        if r is None:
            fail("the workload did not finish", 1)
        t0 = time.perf_counter()
        ops_ok, checks = check(a.workload, r, expected)
        r["check_s"] = time.perf_counter() - t0
        # the engine's CPU seconds per set-up round, not wall time, which on a
        # shared host follows the hypervisor's steal
        setup_s = statistics.median(r["setup_rounds_cpu_s"])
        computed = per_layer(a.workload, r) if a.trace else end_to_end(r, setup_s)
        declared = spec["per_layer" if a.trace else "end_to_end"]
        missing = [m["name"] for m in declared if m["name"] not in computed]
        if missing:
            fail(f"metrics not computed: {missing}", 1)
        metrics = {m["name"]: (computed[m["name"]], m["unit"]) for m in declared}
        attempted = len(ops_ok)
        failed = sum(1 for ok in ops_ok if not ok)
        correct = failed == 0 and all(checks.values())
        r.update({"gen_s": gen_s, "checks": checks, "setup_s": setup_s,
                  "failed_frac": failed / max(1, attempted),
                  "metrics": computed})
        os.makedirs(os.path.join(RUNS, "traces"), exist_ok=True)
        with open(os.path.join(RUNS, "traces",
                               f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
            json.dump(r, f)
        if not correct:
            log(f"output checks failed: {json.dumps(checks)}")
        print(json.dumps({
            "correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
        if not correct:
            sys.exit(1)
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
