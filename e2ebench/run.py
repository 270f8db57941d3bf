#!/usr/bin/env python3
"""End-to-end benchmark of the marketeye programs.

    python3 e2ebench/run.py --workload <ep1_daily|curation>
                            --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout builds the
program and the harness from source with sbt (the repository root is a
source dependency of e2ebench/build.sbt) and records the classpath; later
runs start the JVM directly. One run generates the seed's inputs, runs the
workload for --seconds in one JVM and prints, as the last line of stdout,
one JSON object: correct, attempted, failed and metrics (the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1). The
traced run also writes its spans to e2ebench/.out/.

For ep1_daily this script adds the DuckDB recount of the seed's statistics
from the merged stage parquet, outside the timed program.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORKLOADS = ("ep1_daily", "curation")
HEAP = "3g"
DEADLINE_S = 170  # a run must end within 180 s; the first one may build
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[e2ebench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Hash of everything the build reads, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for pattern in ("project/*.sbt", "project/*.properties", "src/main/**/*",
                    "e2ebench/project/*.properties", "e2ebench/src/**/*"):
        files += glob.glob(os.path.join(ROOT, pattern), recursive=True)
    for f in sorted(set(files)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Builds (if the sources changed) and returns the runtime classpath."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    digest = sources_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    log("building the program and the harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    proc = subprocess.run(["sbt", "-batch"] + opts + ["export Runtime/fullClasspath"],
                          cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          stdin=subprocess.DEVNULL, text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("e2ebench: build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(digest)
    return lines[-1].strip()


def run_jvm(cp, args, work, deadline):
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "graft.e2ebench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # the JVM's stdout joins our stderr: our stdout ends with the result line
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()

    def interrupted(signum, _frame):
        stop()
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, interrupted)
    try:
        return proc.wait(timeout=max(5, deadline - time.time()))
    except subprocess.TimeoutExpired:
        log("time limit reached; stopping the JVM")
        stop()
        return None


def duckdb_recount(merged_dir, stats_dir):
    """Recomputes the statistics stage's numbers from the merged parquet."""
    import duckdb
    stats = {}
    for f in sorted(glob.glob(os.path.join(stats_dir, "*.json"))):
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    stats = json.loads(line)
    con = duckdb.connect()
    files = os.path.join(merged_dir, "*.parquet")
    products, offers = con.execute(
        f"SELECT count(*), sum(len(offers)) FROM read_parquet('{files}')").fetchone()
    mn, mx, avg = con.execute(
        f"SELECT min(o.price), max(o.price), avg(o.price) FROM "
        f"(SELECT unnest(offers) AS o FROM read_parquet('{files}')) WHERE o.price > 0").fetchone()
    con.close()
    ok = (stats.get("total_products") == products and stats.get("total_offers") == offers
          and stats.get("min_price") == mn and stats.get("max_price") == mx
          and abs(stats.get("average_price", 0) - avg) <= 1e-9 * max(1.0, abs(avg)))
    if not ok:
        log(f"DuckDB recount differs: stage={stats} duckdb="
            f"{dict(total_products=products, total_offers=offers, min=mn, max=mx, avg=avg)}")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("e2ebench: the program's sources (build.sbt, src/main/scala) "
                         "are not next to e2ebench/; run from a full checkout")
    cp = classpath()
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_file = os.path.join(work, "result.json")
    trace_file = os.path.join(HERE, ".out", f"trace-{a.workload}-{a.seed}.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--result", result_file,
            "--trace-file", trace_file, "--cores", str(len(os.sched_getaffinity(0)))]
    try:
        # a build may have used the first run's extra time; the JVM gets the rest
        deadline = max(time.time(), start) + DEADLINE_S
        code = run_jvm(cp, args, work, deadline)
        if code != 0 or not os.path.exists(result_file):
            raise SystemExit(f"e2ebench: benchmark JVM failed (exit {code})")
        with open(result_file) as fh:
            res = json.load(fh)
        if "duckdb_merged" in res:
            res["attempted"] += 1
            if not duckdb_recount(res["duckdb_merged"], res["duckdb_statistics"]):
                res["failed"] += 1
                res["correct"] = False
    finally:
        shutil.rmtree(work, ignore_errors=True)
    share = res["failed"] / res["attempted"]
    log(f"inputs: {res['inputs']}; iterations: {res['iterations']}")
    for e in res["errors"]:
        log(f"error: {e}")
    for name, m in res["metrics"].items():
        print(f"{a.workload} {name} {m['value']} {m['unit']}")
    print(f"{a.workload} failed_share {share} ratio")
    print(json.dumps({"correct": bool(res["correct"]) and res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
