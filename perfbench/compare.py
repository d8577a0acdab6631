#!/usr/bin/env python3
"""Run sets of benchmark runs and compare them under the benchmark's bounds.

usage:
  python3 perfbench/compare.py run OUT.jsonl [--workloads a,b] [--seeds 1-10] [--trace 0]
      run perfbench/run.py once per (workload, seed) and append one record per
      run to OUT.jsonl: {"workload", "seed", "trace", "exit", "result"}
  python3 perfbench/compare.py spread RUNS.jsonl
      steadiness of one set: per (metric, workload) the median, the quartiles
      and the interquartile range as a share of the median, against the bound
  python3 perfbench/compare.py diff BASE.jsonl CHANGE.jsonl
      per (metric, workload): both medians and quartiles, and a verdict

Verdicts (the bound is the metric's `bound` in BENCHMARK.json, as a share of
the base median):
  worse       the change's median is worse than the base's by more than the bound
  better      the change wins at least 9 in 10 seed-paired runs and its median
              beats the base's by more than the base's own quartile spread
  same        neither, and the base's spread is within the bound
  unresolved  the base's spread exceeds the bound, and not every change run
              beats (or loses to) every base run
Each workload is reported in its own row.
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def bench():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def load(path):
    runs = []
    with open(path) as f:
        for line in f:
            if line.strip():
                runs.append(json.loads(line))
    return runs


def seeds_arg(s):
    out = []
    for part in s.split(","):
        if "-" in part:
            a, b = part.split("-")
            out += list(range(int(a), int(b) + 1))
        else:
            out.append(int(part))
    return out


def cmd_run(argv):
    out = argv[0]
    opts = dict(zip(argv[1::2], argv[2::2]))
    b = bench()
    workloads = opts.get("--workloads", ",".join(w["name"] for w in b["workloads"])).split(",")
    seeds = seeds_arg(opts.get("--seeds", "1-10"))
    trace = opts.get("--trace", "0")
    for seed in seeds:
        for w in workloads:
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(b["run_seconds"]),
                                "--trace", trace], cwd=REPO, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            result = None
            if lines:
                try:
                    result = json.loads(lines[-1])
                except ValueError:
                    pass
            rec = {"workload": w, "seed": seed, "trace": int(trace), "exit": p.returncode,
                   "result": result}
            with open(out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            status = "ok" if p.returncode == 0 and result else "FAILED"
            print(f"{w} seed={seed}: {status}", flush=True)
            if status != "ok":
                print(p.stderr[-2000:], file=sys.stderr)


def series(runs, workload, metric):
    vals = {}
    for r in runs:
        res = r.get("result") or {}
        m = res.get("metrics", {}).get(metric)
        if r["workload"] == workload and m is not None:
            vals[r["seed"]] = float(m["value"])
    return vals


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def metric_rows(b, runs_list):
    workloads = sorted({r["workload"] for runs in runs_list for r in runs})
    for m in b["end_to_end"]:
        for w in workloads:
            yield m, w


def cmd_spread(argv):
    runs = load(argv[0])
    b = bench()
    bad = 0
    failed = [r for r in runs if r["exit"] != 0 or not r["result"] or not r["result"]["correct"]]
    print(f"{len(runs)} runs, {len(failed)} failed or incorrect")
    print(f"{'metric':<24} {'workload':<16} {'n':>3} {'q1':>12} {'median':>12} {'q3':>12} "
          f"{'spread':>7} {'bound':>6}")
    for m, w in metric_rows(b, [runs]):
        vals = list(series(runs, w, m["name"]).values())
        if not vals:
            continue
        q1, med, q3 = quartiles(vals)
        spread = (q3 - q1) / med if med else float("inf")
        flag = ""
        if spread > m["bound"]:
            flag = "  OVER BOUND"
            bad += 1
        elif spread > m["bound"] / 3:
            flag = "  over a third of the bound"
        print(f"{m['name']:<24} {w:<16} {len(vals):>3} {q1:>12.4g} {med:>12.4g} {q3:>12.4g} "
              f"{spread:>7.3f} {m['bound']:>6}{flag}")
    return 1 if bad or failed else 0


def verdict(m, base, change):
    lower = m["better"] == "lower"
    bq1, bmed, bq3 = quartiles(list(base.values()))
    cq1, cmed, cq3 = quartiles(list(change.values()))
    worse_by = (cmed - bmed) / bmed if lower else (bmed - cmed) / bmed
    spread = (bq3 - bq1) / bmed if bmed else float("inf")
    beats = (lambda c, x: c < x) if lower else (lambda c, x: c > x)
    all_better = all(beats(c, x) for c in change.values() for x in base.values())
    all_worse = all(beats(x, c) for c in change.values() for x in base.values())
    if spread > m["bound"] and not (all_better or all_worse):
        return "unresolved"
    if worse_by > m["bound"] or (spread > m["bound"] and all_worse):
        return "worse"
    paired = [s for s in change if s in base]
    pairs = paired if paired else []
    wins = sum(1 for s in pairs if beats(change[s], base[s]))
    if pairs and wins >= 0.9 * len(pairs) and -worse_by * bmed > (bq3 - bq1):
        return "better"
    if spread > m["bound"] and all_better:
        return "better"
    return "same"


def cmd_diff(argv):
    base_runs, change_runs = load(argv[0]), load(argv[1])
    b = bench()
    print(f"{'metric':<24} {'workload':<16} {'base q1/med/q3':>32} {'change q1/med/q3':>32}  verdict")
    worse = 0
    for m, w in metric_rows(b, [base_runs, change_runs]):
        base, change = series(base_runs, w, m["name"]), series(change_runs, w, m["name"])
        if not base or not change:
            continue
        v = verdict(m, base, change)
        worse += v == "worse"
        bq, cq = quartiles(list(base.values())), quartiles(list(change.values()))
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
        print(f"{m['name']:<24} {w:<16} {fmt(bq):>32} {fmt(cq):>32}  {v}")
    return 1 if worse else 0


def main():
    if len(sys.argv) < 3 or sys.argv[1] not in ("run", "spread", "diff"):
        print(__doc__)
        return 2
    return {"run": cmd_run, "spread": cmd_spread, "diff": cmd_diff}[sys.argv[1]](sys.argv[2:]) or 0


if __name__ == "__main__":
    sys.exit(main())
