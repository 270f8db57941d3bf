#!/usr/bin/env python3
"""Per-query fresh-JVM bench driver: one graft.BenchOne process per query.

Why this exists: the long-lived single-process catalog run (graft.Bench)
degrades progressively in this environment at big scale factors — the
SAME query measured 24.6 s in a fresh process and 510 s as the second
query of a full-family sf10 run, while a pure-CPU 32-process calibration
loop holds a flat ~20 GB/s aggregate md5 for minutes (so it is not host
CPU throttling; the degradation tracks accumulated JVM/page-cache state,
grows with process age, and partially leaks across processes). Short
per-query processes stay inside the reproducible window (observed
run-to-run spread ~1.4x, vs 20x inside a long run). The same mode must
be used at EVERY scale factor an exponent is computed from, so the
numerator and denominator carry the same harness bias.

Each BenchOne process: warms its own tables via count(), then times
`repeats` noop-write executions; we keep the min. Output JSON matches
graft.Bench's {"queries": {...}} shape so scripts/scale_exponents.py
can eat it directly.

Usage: bench_perq.py <sfDir> <out.json> [--repeats N] [--mem 60g]
           [--skip name=reason]... q1 q2 ...

--skip records the query as deliberately not run, with the reason in the
output JSON's "skipped" map — distinct from a FAILURE. Use it for catalog
entries whose parameters are known to mismatch the scale regime (e.g.
x9b's small-eval bloom-join arm at sf10, where the auto entry would never
pick that plan), so a heavy run can report n_failed=0 without silently
pretending the entry was measured.
"""
import json
import re
import subprocess
import sys
import time


def main():
    args = [a for a in sys.argv[1:]]
    repeats, mem = "1", "60g"
    skipped = {}
    if "--repeats" in args:
        i = args.index("--repeats"); repeats = args[i + 1]; del args[i:i + 2]
    if "--mem" in args:
        i = args.index("--mem"); mem = args[i + 1]; del args[i:i + 2]
    while "--skip" in args:
        i = args.index("--skip")
        name, _, reason = args[i + 1].partition("=")
        skipped[name] = reason or "skipped"
        del args[i:i + 2]
    sf_dir, out_path, queries = args[0], args[1], args[2:]
    queries = [q for q in queries if q not in skipped]
    for q, why in skipped.items():
        print(f"[perq] {q} SKIPPED: {why}", flush=True)
    results, failed = {}, []
    for q in queries:
        t0 = time.time()
        p = subprocess.run(
            ["scripts/run_main.sh", "graft.BenchOne", q, repeats],
            env={**__import__("os").environ,
                 "SPARK_GRAFT_SF_DIR": sf_dir, "SPARK_DRIVER_MEM": mem},
            capture_output=True, text=True)
        times = [float(m) for m in re.findall(
            rf"\[bench-one\] {re.escape(q)} run\d+ ([0-9.]+) s", p.stdout)]
        if p.returncode != 0 or not times:
            failed.append(q)
            results[q] = -1.0
            print(f"[perq] {q} FAILED rc={p.returncode}: "
                  f"{p.stderr.strip().splitlines()[-1] if p.stderr.strip() else '?'}",
                  flush=True)
        else:
            results[q] = min(times)
            print(f"[perq] {q:28s} {min(times):8.2f} s   "
                  f"(proc wall {time.time() - t0:.0f} s)", flush=True)
    total = sum(v for v in results.values() if v >= 0)
    doc = {"metric": "total", "value": total, "unit": "sec",
           "queries": results, "n_failed": len(failed), "failed": failed,
           "skipped": skipped,
           "sf": sf_dir,
           "mode": f"per-query fresh JVM, min of {repeats}"}
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1)
    print(f"[perq] total {total:.1f} s over {len(results)} queries -> {out_path}",
          flush=True)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
