#!/usr/bin/env python3
"""Benchmark of the graft Spark engine, run from the root of a checkout:

    python3 perfbench/run.py --workload ref_sql --seed 1 --seconds 20 --trace 0

Builds the engine and the driver from source (once per checkout, into
$CARGO_TARGET_DIR or .bench_build), runs one workload in one JVM, checks
the results against the DuckDB oracles, and prints one JSON object as the
last line of standard output. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no caches beside the sources

import oracle  # noqa: E402
import report  # noqa: E402

# A run ends within three minutes: the driver JVM is stopped after
# DRIVER_LIMIT_S, which leaves time for the oracle check. A build, on the
# first run in a checkout, gets BUILD_LIMIT_S more.
DRIVER_LIMIT_S = 140
BUILD_LIMIT_S = 700

TRAINERS = list(report.TRAINERS.values())

WORKLOADS = {
    # The reference's own suites (TPC-H, TPC-DS, ClickBench): short join and
    # aggregate queries where planning, scheduling and exchanges do the
    # work. A fixed stride through each suite keeps a run inside its budget.
    "ref_sql": {
        "blocks": [[f"h{i:02d}" for i in range(1, 23, 8)],
                   [f"d{i:02d}" for i in range(1, 100, 20)],
                   [f"c{i:02d}" for i in range(0, 43, 11)]],
        "fresh": [], "lead": 1, "reps": 3, "check": 3,
    },
    # LLM-pipeline queries that read no per-application memo, one per
    # mechanism, and the five trainers whose output is the trained model.
    # Every trainer execution gets a fresh SparkContext: the memos key on
    # the application id, so each one must train.
    "pipeline": {
        "blocks": [["p04", "p78",    # custom expressions
                    "p58",           # image decode
                    "p18",           # eager multi-round dedup
                    "p104",          # parquet sink beside reads
                    "p149"],         # file-stream ingest
                   TRAINERS],
        "fresh": TRAINERS, "lead": 0, "reps": 2, "check": 2,
    },
}

# Fixtures of TESTDATA.md's sf0.001 scale, copied beside the benchmark.
DATA = os.path.join(HERE, "data", "sf0.001")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))


def source_digest():
    """Digest of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"), os.path.join(ROOT, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the driver with sbt; return (classpath, jvm options)."""
    out = os.path.join(build_dir(), "sbt")
    launch, stamp = os.path.join(out, "launch.txt"), os.path.join(out, "stamp")
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise RuntimeError("no engine sources next to the benchmark: run from the root of a checkout")
    digest = source_digest()
    if not (os.path.exists(launch) and os.path.exists(stamp) and open(stamp).read() == digest):
        log("building the engine and the driver")
        env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
        flags = ["-Dsbt.log.noformat=true", f"-Dperfbench.target={out}", "-Dsbt.server.forcestart=false"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos) and "sbt.repository.config" not in env.get("SBT_OPTS", ""):
            flags += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
                      "-Dsbt.offline=true"]
        r = subprocess.run(["sbt", "--batch", *flags, "perfbench/launchFile"], cwd=HERE, env=env,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           timeout=BUILD_LIMIT_S)
        if r.returncode != 0 or not os.path.exists(launch):
            sys.stderr.write(r.stdout[-4000:])
            raise RuntimeError("build failed")
        with open(stamp, "w") as f:
            f.write(digest)
    lines = open(launch).read().splitlines()
    return lines[0], [o for o in lines[1:] if o and not o.startswith("-Xmx")]


def control():
    """A fixed CPU-only task; its time flags a slow or noisy window."""
    t0 = time.perf_counter()
    h = b"perfbench"
    for _ in range(200_000):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t0


def steal_s():
    """CPU time the hypervisor gave to others so far; 0 where the system
    does not report it."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def plan(workload, seed):
    """The seed's query order and the queries it checks. Blocks stay
    contiguous; the blocks and the queries within each are shuffled. One
    query in `check` of each block is checked, chosen by the seed, so the
    runs of a workload together cover all of its results."""
    rng = random.Random(seed)
    w = WORKLOADS[workload]
    blocks = [list(b) for b in w["blocks"]]
    for b in blocks:
        rng.shuffle(b)
    rng.shuffle(blocks)
    every = w["check"]
    checked = [q for b in blocks for q in sorted(b)[seed % every::every]]
    return blocks, checked


def run_driver(classpath, opts, args, run_dir, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # The TPC-DS adapter tables are synthesized once per checkout and read
    # back by every later run, like the fixture ingest of a deployment.
    dsport = os.path.join(build_dir(), "dsport")
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dgraft.dsport.cache.dir={dsport}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}", *opts,
           "-cp", classpath, "graft.perfbench.Driver", *args,
           "--out", run_dir]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(run_dir, "driver.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=max(1, deadline - time.time()))
        except BaseException as e:  # out of time or interrupted: stop the JVM first
            p.kill()
            p.wait()
            if isinstance(e, subprocess.TimeoutExpired):
                raise RuntimeError("driver ran out of time") from e
            raise
    if code != 0:
        sys.stderr.write(open(os.path.join(run_dir, "driver.log")).read()[-4000:])
        raise RuntimeError(f"driver exited with {code}")
    with open(os.path.join(run_dir, "raw.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    w = WORKLOADS[a.workload]

    classpath, opts = build()
    deadline = time.time() + DRIVER_LIMIT_S
    controls = [control()]
    steal0 = steal_s()
    run_dir = os.path.join(build_dir(), "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    blocks, checked = plan(a.workload, a.seed)
    args = ["--data", DATA, "--blocks", ";".join(",".join(b) for b in blocks),
            "--check", ",".join(checked), "--fresh", ",".join(w["fresh"]),
            "--lead", str(w["lead"]), "--reps", str(w["reps"]),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    try:
        raw = run_driver(classpath, opts, args, run_dir, deadline)
        shutil.copy(os.path.join(run_dir, "raw.json"),
                    os.path.join(build_dir(), f"last-{a.workload}-{a.trace}.json"))
        t0 = time.time()
        checks = oracle.check_results(DATA, run_dir, raw, os.path.join(build_dir(), "oracle"))
        check_s = time.time() - t0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    controls.append(control())
    stolen = steal_s() - steal0

    execs = raw["executions"]
    threw = sum(not e["ok"] for e in execs)
    mismatched = [q for q, why in checks.items() if why]
    attempted = len(execs) + len(checks)
    failed = threw + len(mismatched)
    for q, why in sorted(checks.items()):
        if why:
            log(f"MISMATCH {q}: {why}")
    for e in execs:
        if not e["ok"]:
            log(f"FAILED {e['query']}@{e['pass']}: {e['error']}")
    hits = report.memo_hits([e for e in execs if e["fresh"]])
    for h in hits:
        log(f"MEMO HIT timed in {a.workload}: {h}")
    correct = failed == 0 and not hits

    if a.trace:
        metrics = report.per_layer(raw, controls, stolen, failed / attempted)
    else:
        metrics = report.end_to_end(raw)
    side = {"workload": a.workload, "seed": a.seed, "passes": raw["passes"], "setups": raw["setups"],
            "host.control_s": {"start": controls[0], "end": controls[1]}, "host.steal_s": stolen,
            "memo_suspects": report.memo_suspects(report.timed(raw)),
            "tail": report.tail(raw),
            "leftover": sorted({e["query"] for e in execs if e["leftover"]}),
            "mismatched": mismatched, "setup_total_s": raw["setup_total_s"],
            "warm_s": raw["warm_s"], "timed_s": raw["timed_s"], "check_s": check_s,
            "wall_s": time.time() - started}
    print(json.dumps(side))
    print(json.dumps(report.result(metrics, correct, attempted, failed)))


if __name__ == "__main__":
    main()
