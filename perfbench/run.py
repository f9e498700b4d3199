#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload etl_soql --seed 1 --seconds 18 --trace 0

Run from the repository root. The first run builds the program and the
harness with sbt (offline) and caches the classpath under .bench_build/;
later runs start the JVM directly. Each run generates its inputs from the
seed, times the workload in a local Spark session (graft.perfbench.Main),
checks every operation's output against DuckDB (check.py) and prints, as
its last stdout line, one JSON object: correct, attempted, failed and the
metrics (end-to-end with --trace 0, per-layer with --trace 1).

Options: --cores N runs local[N] (default min(4, nproc); at most nproc).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("etl_soql", "corpus_small")
DEADLINE_S = 170  # every run must end within 180 s of its start
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def args():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--cores", type=str, default=None)
    a = p.parse_args()
    nproc = os.cpu_count() or 1
    if not -2 ** 63 <= a.seed < 2 ** 63:
        fail("--seed must be a 64-bit integer")
    if not 1 <= a.seconds <= 60:
        fail("--seconds must be in [1, 60]")
    if a.cores is None:
        a.cores = min(4, nproc)
    elif not a.cores.isdigit() or not 1 <= int(a.cores) <= nproc:
        fail("--cores must be a whole number in [1, %d]" % nproc)
    a.cores = int(a.cores)
    return a


def sources_key():
    """Hash of everything the build reads, so a stale classpath is never used."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in paths:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def classpath():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's sources (build.sbt, src/main/scala) are not here")
    cached = os.path.join(BUILD, "classpath-%s.txt" % sources_key())
    if os.path.isfile(cached):
        with open(cached) as fh:
            return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp")]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " " + " ".join(opts)).strip()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l and not l.startswith("[")]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cached, "w") as fh:
        fh.write(lines[-1])
    return lines[-1]


UNITS = {"setup_s": "s", "pass_s": "s", "query_ms_p50": "ms", "query_ms_p90": "ms",
         "peak_rss_mb": "MB"}


def unit(name):
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ms", ".ms")) or "batch_ms" in name:
        return "ms"
    if name.endswith("rows_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("bytes", "bytes_out")):
        return "bytes"
    if name.endswith(("_ratio", "share")):
        return "ratio"
    return "count"


def main():
    a = args()
    cp = classpath()  # the first run in a checkout builds; the deadline starts after
    start = time.time()
    run_dir = os.path.join(BUILD, "runs", "%s-seed%d-trace%d-%d" % (
        a.workload, a.seed, a.trace, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = ["java"] + [x for p in JVM_OPENS for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
    # a fixed, pre-touched heap: with a growable one, G1 sizes the heap
    # from GC timing, and peak RSS spread 2.7-4.6 GB over five seeds of
    # the same work. Peak RSS is then the heap plus native memory; the
    # heap the program keeps live is the per-layer jvm.live_heap_peak_mb
    cmd += ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-Dspark.ui.enabled=false", "-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(a.cores), "--work", run_dir]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(cmd, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT,
                                timeout=max(10, DEADLINE_S - (time.time() - start))).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    result_file = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.isfile(result_file):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail("benchmark JVM failed (%s)" % rc)
    with open(result_file) as fh:
        res = json.load(fh)

    sys.path.insert(0, HERE)
    import check
    t_check = time.time()
    verdict = check.run(res["ops"], os.path.join(run_dir, "in"))
    print("phases: %s, check %.1f s, run %.1f s" % (
        ", ".join("%s %.1f" % (m["phase"], m["at_s"]) for m in res["marks"]),
        time.time() - t_check, time.time() - start))

    # every timed execution is attempted; it fails if it threw, if its
    # output differs from the checked (last) one, or if the check failed
    execs = [e for p in res["passes"] for e in p["execs"]]
    last_fp = {}
    for e in execs:
        if e["error"] is None:
            last_fp[e["op"]] = e["fingerprint"]
    failed = 0
    for e in execs:
        bad_check = verdict.get(e["op"]) is not None
        if e["error"] is not None or e["fingerprint"] != last_fp.get(e["op"]) or bad_check:
            failed += 1
    for op, why in sorted(verdict.items()):
        print("%-6s %s%s" % ("ok" if why is None else "FAIL", op, "" if why is None else ": " + why))
    for e in execs:
        if e["error"] is not None:
            print("ERROR  %s (pass %d): %s" % (e["op"], e["pass"], e["error"]))
    for op, status in sorted(res["known_failures"].items()):
        print("known failure, untimed: %s: %s" % (op, status))
    print("cores=%s seed=%d versions=%s" % (res["cores"], res["seed"], json.dumps(res["versions"])))
    kept = os.path.join(BUILD, "results", "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace))
    os.makedirs(kept, exist_ok=True)
    for f in ("result.json", "trace.json"):
        if os.path.isfile(os.path.join(run_dir, f)):
            shutil.copy(os.path.join(run_dir, f), kept)
    print("result%s: %s" % (" and trace" if a.trace else "", os.path.relpath(kept, ROOT)))
    shutil.rmtree(run_dir, ignore_errors=True)

    values = res["per_layer"] if a.trace else res["end_to_end"]
    print(json.dumps({
        "correct": failed == 0 and all(v is None for v in verdict.values()),
        "attempted": len(execs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in sorted(values.items())},
    }))


if __name__ == "__main__":
    main()
