#!/usr/bin/env python3
"""Run one benchmark measurement from the root of a repository checkout.

    python3 perfbench/run.py --workload marts|curation --seed N \
        --seconds S --trace 0|1 [--sweep] [--runs-dir DIR]

Builds the repository and the harness with sbt on first use (cached in
.bench_build/ under a digest of every source and build file), runs the
harness JVM on a fresh per-run temp root under .bench_build/, removes the
root afterwards, and prints two lines: the run's provenance, then the
result object {"correct", "attempted", "failed", "metrics"}. The full run
record (per-operation timings, failures, session confs) is kept under
--runs-dir (default .bench_build/runs) for compare.py.

--sweep times every registry query of the workload once instead of the
workload's panel; it is for by-hand ledgers and takes several minutes.
--record-fingerprints (alone) re-records expected/fingerprints.tsv.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HOME = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HOME)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HOME, "data", "sf0.1")
WORKLOADS = ("marts", "curation")

# JDK 17 module opens Spark needs outside spark-submit, as in the
# repository's own build.sbt
OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file whose change must trigger a rebuild, sorted."""
    out = []
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HOME, "src"),
                os.path.join(ROOT, "project"), os.path.join(HOME, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            out += [os.path.join(d, f) for f in files
                    if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    out += [os.path.join(ROOT, "build.sbt"), os.path.join(HOME, "build.sbt")]
    return sorted(out)


def digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath(src_digest):
    """Build if the sources changed since the cached build; return the
    harness classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "classpath.digest")
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == src_digest:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "export perfbench/Runtime/fullClasspath"],
                         cwd=HOME, env=sbt_env(), stdout=out, timeout=840)
    with open(log) as f:
        lines = [x.strip() for x in f if x.strip()]
    if rc != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        print("\n".join(lines[-30:]), file=sys.stderr)
        die(f"build failed (exit {rc}); see {log}")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    with open(stamp, "w") as f:
        f.write(src_digest + "\n")
    return cp


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group
    and wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def heap_size():
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(x.split()[1]) for x in f if x.startswith("MemTotal"))
        return f"{max(2, min(6, kb // (4 * 1048576)))}g"
    except (OSError, StopIteration, ValueError):
        return "4g"


def harness(cp, workload, seed, seconds, trace, extra, budget):
    """Run the harness JVM on a fresh temp root, removed afterwards; return
    its run record, or None when `extra` asks for a fingerprint file."""
    run_id = f"{workload}-s{seed}-t{trace}-{os.getpid()}"
    root = os.path.join(BUILD, "tmp", run_id)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "tmp"))
    out = os.path.join(root, "record.json")
    log = os.path.join(BUILD, "logs", run_id + ".log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    cmd = (["java"] +
           [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Xms{heap_size()}", f"-Xmx{heap_size()}", "-XX:+UseG1GC",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}",
            f"-Dderby.system.home={root}",
            "-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", trace,
            "--home", HOME, "--data", DATA, "--root", root, "--out", out,
            "--trace-out", os.path.join(BUILD, "traces", run_id + ".jsonl")]
           + extra)
    try:
        with open(log, "w") as lf:
            rc = run_bounded(cmd, cwd=root, stdout=lf,
                             stderr=subprocess.STDOUT, timeout=budget)
        done = extra[-1] if "--record" in extra else out
        if rc != 0 or not os.path.exists(done):
            with open(log) as f:
                tail = f.read().splitlines()[-40:]
            print("\n".join(tail), file=sys.stderr)
            die(f"harness exited with {rc}; log in {log}", 3)
        if done != out:
            return None
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def record_fingerprints(cp):
    """Fingerprint every registry query twice, in separate JVMs, and write
    expected/fingerprints.tsv; a hash that differs between the two
    recordings is kept as count-only, a row count that differs stops."""
    rows = []
    for w in WORKLOADS:
        got = []
        for rep in (1, 2):
            path = os.path.join(BUILD, f"fingerprints-{w}-{rep}.tsv")
            harness(cp, w, 1, 1, "0", ["--record", path], 3600)
            with open(path) as f:
                got.append(dict((x.split("\t")[0], x.split("\t")[1:])
                                for x in f.read().splitlines() if x))
        a, b = got
        for q in a:
            if a[q][0] != b[q][0]:
                die(f"{q}: row count differs between recordings")
            rows.append((q, a[q][0], a[q][1] if a[q][1] == b[q][1]
                         else "count-only"))
    rows.sort(key=lambda r: int(r[0][1:].split("_")[0]))
    with open(os.path.join(HOME, "expected", "fingerprints.tsv"), "w") as f:
        f.write("# query\trows\thash (count-only: the hash differed "
                "between two recordings)\n")
        f.writelines(f"{q}\t{n}\t{h}\n" for q, n, h in rows)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", choices=("0", "1"))
    ap.add_argument("--sweep", action="store_true")
    ap.add_argument("--record-fingerprints", action="store_true")
    ap.add_argument("--runs-dir", default=os.path.join(BUILD, "runs"))
    a = ap.parse_args()
    if not a.record_fingerprints and None in (a.workload, a.seed, a.seconds,
                                              a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")

    for need in (os.path.join(ROOT, "build.sbt"),
                 os.path.join(ROOT, "src", "main", "scala", "graft",
                              "SparkEntry.scala"),
                 os.path.join(DATA, "lineitem.parquet")):
        if not os.path.exists(need):
            die(f"{os.path.relpath(need, ROOT)} is missing: run from the "
                "root of a full repository checkout")
    started = time.time()
    src_digest = digest()
    cp = classpath(src_digest)
    if a.record_fingerprints:
        record_fingerprints(cp)
        return

    budget = 3600 if a.sweep else max(60, 175 - (time.time() - started))
    rec = harness(cp, a.workload, a.seed, a.seconds, a.trace,
                  ["--sweep"] if a.sweep else [], budget)
    rec["git_commit"] = git_commit()
    rec["source_digest"] = src_digest
    os.makedirs(a.runs_dir, exist_ok=True)
    name = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}-{int(time.time())}"
    with open(os.path.join(a.runs_dir, name + ".json"), "w") as f:
        json.dump(rec, f)
    prov = {k: rec[k] for k in (
        "workload", "seed", "trace", "cores", "sf_dir", "git_commit",
        "source_digest", "confs", "env", "fail_ratio", "failures",
        "count_only", "samples", "setup_reps_s")}
    prov["sf_dir"] = os.path.relpath(prov["sf_dir"], ROOT)
    print(json.dumps({"provenance": prov}))
    metrics = rec["metrics"]
    bad = [] if a.sweep else [k for k, v in metrics.items()
                              if v["value"] is None]
    for f in rec["failures"]:
        print(f"FAILED {f['op']}: {f['exception']}: {f['message']}",
              file=sys.stderr)
    if bad:
        print(f"unmeasured metrics: {', '.join(bad)}", file=sys.stderr)
    print(json.dumps({"correct": rec["failed"] == 0 and not bad,
                      "attempted": rec["attempted"], "failed": rec["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
