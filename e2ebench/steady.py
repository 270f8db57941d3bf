#!/usr/bin/env python3
"""Steadiness check of the end-to-end benchmark on one commit.

    python3 e2ebench/steady.py [--seeds 10] [--sets 2] [--workloads a,b]
                               [--no-trace-repeat]

Runs the benchmark command of BENCHMARK.json `--sets` times over `--seeds`
seeds per workload (seed i of every set is the same), untraced, and
reports for each end-to-end metric of each workload:

  * the spread of each set: (Q3 - Q1) / median of its runs, with Python's
    statistics.quantiles(values, n=4), which must stay within the metric's
    bound;
  * whether the sets agree: no set's median differs from the first set's,
    in either direction, by more than the bound.

It then runs one seed traced twice and checks that every count (unit
`count`: shuffle records, jobs, stages, tasks, pairs, products, clusters,
...) repeats exactly. Exits 1 if any check fails. Run from the
repository root; the raw results go to e2ebench/.out/steady-<time>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(bench, workload, seed, trace):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{' '.join(cmd)} failed with exit code {p.returncode}")
    res = json.loads(lines[-1])
    print(f"  {workload} seed={seed} trace={trace}: {time.time() - t0:.0f} s, correct={res['correct']} "
          f"failed={res['failed']}/{res['attempted']}", flush=True)
    return res


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--no-trace-repeat", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    seeds = list(range(1, a.seeds + 1))
    results = {w: [] for w in workloads}
    ok = True
    for s in range(a.sets):
        print(f"set {s + 1}", flush=True)
        for w in workloads:
            results[w].append([run(bench, w, seed, 0) for seed in seeds])
    report = {"sets": results}
    print(f"\n{'workload':18} {'metric':16} {'bound':>6} " +
          " ".join(f"{'median' + str(i + 1):>12} {'spread' + str(i + 1):>8}" for i in range(a.sets)) +
          "  verdict")
    for w in workloads:
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            meds, sprs = [], []
            for runs in results[w]:
                vals = [r["metrics"][name]["value"] for r in runs]
                meds.append(statistics.median(vals))
                sprs.append(spread(vals) if len(vals) >= 2 else 0.0)
            good = (all(abs(md - meds[0]) / meds[0] <= bound for md in meds[1:])
                    and all(x <= bound for x in sprs))
            ok &= good
            print(f"{w:18} {name:16} {bound:6.2f} " +
                  " ".join(f"{md:12.4f} {sp:8.4f}" for md, sp in zip(meds, sprs)) +
                  f"  {'ok' if good else 'OUT OF BOUND'}")
        fails = sum(r["failed"] for runs in results[w] for r in runs)
        print(f"{w:18} failed operations over all runs: {fails}")
        ok &= fails == 0
    if not a.no_trace_repeat:
        print("\ntraced repeat (counts must match exactly)", flush=True)
        report["traced"] = {}
        for w in workloads:
            t1, t2 = run(bench, w, seeds[0], 1), run(bench, w, seeds[0], 1)
            report["traced"][w] = [t1, t2]
            counts = [n for n, v in t1["metrics"].items() if v["unit"] == "count"]
            diff = [n for n in counts if t1["metrics"][n]["value"] != t2["metrics"][n]["value"]]
            print(f"{w:18} {len(counts)} counts, {len(diff)} differ {diff if diff else ''}")
            ok &= not diff and t1["correct"] and t2["correct"]
    os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
    out = os.path.join(HERE, ".out", f"steady-{time.strftime('%Y%m%d-%H%M%S')}.json")
    with open(out, "w") as fh:
        json.dump(report, fh)
    print(f"\n{'STEADY' if ok else 'NOT STEADY'} (raw results: {os.path.relpath(out, ROOT)})")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
