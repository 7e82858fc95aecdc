#!/usr/bin/env python3
"""Steadiness and comparison of benchmark runs.

Run a set (one benchmark run per seed and workload; results and trace files
kept under .bench_runs/steady/<tag>/):

    python3 perfbench/steady.py run --tag base --seeds 1-10 [--workloads etl_batch,query_mix] [--trace 0]

Report one set (median, quartiles and quartile spread per metric) or two
(adds the ratio of medians and the fraction of paired runs that B wins,
ties counting for neither; runs pair by seed, or in seed order when the two
sets used different seeds):

    python3 perfbench/steady.py report --a base [--b change]

Layer table (wall time per operation by layer, from a set run with --trace 1):

    python3 perfbench/steady.py layers --tag traced

Run from the root of the checkout.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
STEADY = os.path.join(CHECKOUT, ".bench_runs", "steady")
TRACES = os.path.join(CHECKOUT, ".bench_runs", "traces")


def spec():
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run(a):
    s = spec()
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in s["workloads"]]
    d = os.path.join(STEADY, a.tag)
    os.makedirs(d, exist_ok=True)
    for w in workloads:
        for seed in seeds(a.seeds):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(seed), "--seconds", str(s["run_seconds"]),
                   "--trace", str(a.trace)]
            p = subprocess.run(cmd, cwd=CHECKOUT, stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if lines else None
            row = {"workload": w, "seed": seed, "trace": a.trace, "exit": p.returncode,
                   "result": res}
            with open(os.path.join(d, "runs.jsonl"), "a") as f:
                f.write(json.dumps(row) + "\n")
            trace = os.path.join(TRACES, f"{w}-seed{seed}-trace{a.trace}.json")
            if os.path.exists(trace):
                shutil.copy(trace, os.path.join(d, os.path.basename(trace)))
            ok = res is not None and res["correct"] and p.returncode == 0
            vals = {k: round(v["value"], 4) for k, v in (res or {}).get("metrics", {}).items()}
            print(f"{a.tag} {w} seed={seed} ok={ok} {vals if not a.trace else ''}", flush=True)


def load(tag):
    """The set's runs; each run's metrics are every metric its trace file
    holds (the printed ones and those kept out of BENCHMARK.json), plus the
    run's steal share and calib anchor as `ctx.*`."""
    rows = []
    with open(os.path.join(STEADY, tag, "runs.jsonl")) as f:
        for line in f:
            r = json.loads(line)
            if r["result"] is None:
                continue
            r["metrics"] = {k: v["value"] for k, v in r["result"]["metrics"].items()}
            trace = os.path.join(STEADY, tag, f"{r['workload']}-seed{r['seed']}-trace{r['trace']}.json")
            if os.path.exists(trace):
                with open(trace) as fh:
                    t = json.load(fh)
                r["metrics"].update(t["metrics"])
                r["metrics"]["ctx.steal_frac"] = t["steal_frac"]
                r["metrics"]["ctx.calib_s"] = t["calib_s"]
            rows.append(r)
    return rows


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def report(a):
    s = spec()
    better = {m["name"]: m["better"] for m in s["end_to_end"] + s["per_layer"]}
    bound = {m["name"]: m.get("bound") for m in s["end_to_end"]}
    sets = [(a.a, load(a.a))] + ([(a.b, load(a.b))] if a.b else [])
    workloads = sorted({r["workload"] for _, rows in sets for r in rows})
    for w in workloads:
        print(f"\n== {w}")
        names = sorted({k for _, rows in sets for r in rows if r["workload"] == w
                        for k in r["metrics"]})
        head = f"{'metric':28} " + " ".join(
            f"{t + ' q1/med/q3 (spread)':>44}" for t, _ in sets)
        if a.b:
            head += f" {'B/A':>7} {'B wins':>7}"
        print(head)
        for n in names:
            cols, meds, by_seed = [], [], []
            for _, rows in sets:
                vals = {r["seed"]: r["metrics"][n] for r in rows
                        if r["workload"] == w and n in r["metrics"]}
                xs = list(vals.values())
                if not xs:
                    cols.append(""); meds.append(0.0); by_seed.append(vals)
                    continue
                q1, med, q3 = quartiles(xs)
                spread = (q3 - q1) / med if med else 0.0
                flag = " !" if bound.get(n) and spread > bound[n] / 3 else ""
                cols.append(f"{q1:12.4g} {med:12.4g} {q3:12.4g} ({spread:5.1%}){flag:2}")
                meds.append(med)
                by_seed.append(vals)
            line = f"{n:28} " + " ".join(f"{c:>44}" for c in cols)
            if a.b:
                sa, sb = by_seed
                pairs = [(sa[k], sb[k]) for k in sorted(set(sa) & set(sb))] or list(
                    zip([sa[k] for k in sorted(sa)], [sb[k] for k in sorted(sb)]))
                lower = better.get(n, "higher" if n.endswith("per_s") else "lower") == "lower"
                sign = -1 if lower else 1
                wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
                ratio = meds[1] / meds[0] if meds[0] else float("nan")
                line += f" {ratio:7.3f} {wins}/{len(pairs):<5}"
            print(line)
    print("\nspread = (q3 - q1) / median over the set's runs; '!' marks a spread above a"
          " third of the metric's bound.")


def layers(a):
    d = os.path.join(STEADY, a.tag)
    order = ("io", "etl", "meta", "ops", "catalog", "catalyst", "exec", "driver")
    print(f"{'workload':12} {'op s':>7} " + " ".join(f"{l:>9}" for l in order))
    for w in sorted({f.split("-seed")[0] for f in os.listdir(d) if "-seed" in f}):
        splits = []
        for f in sorted(os.listdir(d)):
            if f.startswith(w + "-seed") and f.endswith("trace1.json"):
                with open(os.path.join(d, f)) as fh:
                    m = json.load(fh)["metrics"]
                splits.append([m.get(f"split.{l}_s", 0.0) for l in order])
        if not splits:
            continue
        mean = [statistics.mean(c) for c in zip(*splits)]
        total = sum(mean)
        print(f"{w:12} {total:7.3f} " + " ".join(
            f"{v:5.3f}{v / total:4.0%}" for v in mean))


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--tag", required=True)
    r.add_argument("--seeds", required=True)
    r.add_argument("--workloads")
    r.add_argument("--trace", type=int, default=0)
    c = sub.add_parser("report")
    c.add_argument("--a", required=True)
    c.add_argument("--b")
    l = sub.add_parser("layers")
    l.add_argument("--tag", required=True)
    a = ap.parse_args()
    {"run": run, "report": report, "layers": layers}[a.cmd](a)


if __name__ == "__main__":
    main()
