#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                           [--size full|tiny] [--record <file>]

Workloads (closed loop, one client, one JVM with a local[nproc] session):
  query-mix        the ten headline queries over a generated sf0.01 corpus
  medallion-batch  etl.Pipeline.run over fresh seeded FixtureGen batches
  ledger-commits   append / upsert / delete / optimize cycles on a
                   SnapshotLog table, each commit followed by two reads

The first run in a checkout builds the program and this harness with sbt;
later runs reuse the build while the sources are unchanged. Every run
checks the workload's outputs against DuckDB outside the timed region.
The last line of standard output is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics untraced (--trace 0) and the per-layer
metrics traced (--trace 1). --record writes the full result (raw timings,
spans, checks, host context) to a file.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import layers
import checks

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
STATE = os.path.join(BENCH, ".work")
LAUNCH = os.path.join(BENCH, "target", "launch.txt")
DEADLINE_S = 170  # per run, after the build
BUILD_TIMEOUT_S = 700
HEAP = "-Xmx3g"

# Sizes per workload: "full" is what BENCHMARK.json measures, "tiny" is
# the smoke test's.
QUERY_SF = {"full": "0.01", "tiny": "0.001"}
CORPUS_SEED = 42
LEDGER = {  # days kept, rows per day, corrections per cycle
    "full": (15, 10000, 1000),
    "tiny": (6, 300, 30),
}
LEDGER_MIN_CYCLES = 4  # Ledger.MinCycles

START = time.time()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every input of the build: sources and build files."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
                os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\0".encode())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Builds with sbt unless the last build saw the same sources."""
    stamp_file = os.path.join(STATE, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(LAUNCH) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return
    log("building with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    with open(os.path.join(STATE, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                           cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(LAUNCH):
        sys.exit(f"build failed; see {os.path.join(STATE, 'build.log')}")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def prepare_inputs(workload, seed, size, seconds):
    """Generates the workload's inputs from the seed (cached per input)."""
    if workload == "query-mix":
        sf = QUERY_SF[size]
        d = os.path.join(STATE, f"corpus-sf{sf}-s{CORPUS_SEED}")
        if not os.path.exists(os.path.join(d, "_DONE")):
            shutil.rmtree(d, ignore_errors=True)
            run_py(["gen_corpus.py", d, sf, str(CORPUS_SEED)])
            open(os.path.join(d, "_DONE"), "w").close()
        return d
    if workload == "ledger-commits":
        days, rows, corr = LEDGER[size]
        # the warm-up cycle, then the timed cycles: at least the minimum,
        # and enough for the measured time at 2 s a cycle (faster than
        # measured); the loop ends early if the program outruns its inputs
        cycles = 1 + max(LEDGER_MIN_CYCLES, int(seconds / 2) + 1)
        d = os.path.join(STATE, f"ledger-{size}-s{seed}-c{cycles}")
        if not os.path.exists(os.path.join(d, "_DONE")):
            shutil.rmtree(d, ignore_errors=True)
            run_py(["gen_ledger.py", d, str(seed), str(days), str(rows), str(corr), str(cycles)])
            open(os.path.join(d, "_DONE"), "w").close()
        return d
    return ""


def run_py(args):
    subprocess.run([sys.executable] + [os.path.join(BENCH, args[0])] + args[1:],
                   check=True, stdin=subprocess.DEVNULL)


def run_jvm(args, work, traced, deadline):
    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    cp, opts = lines[0], [o for o in lines[1:] if o and not o.startswith("-Xmx")]
    if traced:
        # counting file system for the `file:` scheme, picked up by every
        # Hadoop Configuration the program creates
        conf = os.path.join(work, "traced-conf")
        os.makedirs(conf, exist_ok=True)
        with open(os.path.join(conf, "core-site.xml"), "w") as f:
            f.write('<?xml version="1.0"?>\n<configuration><property>'
                    '<name>fs.file.impl</name><value>perfbench.CountingFileSystem</value>'
                    '</property></configuration>\n')
        cp = conf + os.pathsep + cp
    cmd = ["java"] + opts + [HEAP, f"-Djava.io.tmpdir={work}", "-cp", cp,
                             "perfbench.Main"] + args
    remaining = deadline - time.time()
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1, remaining))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit("benchmark JVM exceeded the run deadline")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"benchmark JVM failed with code {rc}")


def end_to_end(raw):
    return {
        "setup_s": (raw["setup_s"], "s"),
        "iteration_s": (layers.iteration_s(raw), "s"),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["query-mix", "medallion-batch", "ledger-commits"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--record", help="write the full result to this file")
    a = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "build.sbt")):
        sys.exit("the program's sources are not in this checkout")
    os.makedirs(STATE, exist_ok=True)
    build()
    deadline = time.time() + DEADLINE_S
    inputs = prepare_inputs(a.workload, a.seed, a.size, a.seconds)
    work = os.path.join(STATE, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out = os.path.join(work, "result.json")
        run_jvm(["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--work", work, "--input", inputs, "--out", out,
                 "--size", a.size], work, a.trace == 1, deadline)
        with open(out) as f:
            raw = json.load(f)
        verdict = checks.check(a.workload, raw, inputs)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(raw["ops"])
    failed = sum(1 for o in raw["ops"] if not verdict["op_ok"](o))
    if a.trace:
        metrics = layers.per_layer(a.workload, raw)
    else:
        metrics = end_to_end(raw)
    figures = layers.figures(a.workload, raw)
    host = dict(raw["host"], wall_s=time.time() - START)
    for name, (value, unit) in metrics.items():
        log(f"{name:40s} {value:.6g} {unit}")
    if not a.trace:
        for name, value in figures.items():
            log(f"{name:40s} {value:.6g}")
    log("host " + " ".join(f"{k}={v:.4g}" for k, v in sorted(host.items())))
    log(f"correct={verdict['correct']} attempted={attempted} failed={failed} "
        f"error_rate={failed / attempted:.4g} {verdict['detail']}")
    if a.record:
        rec = json.dumps({"args": vars(a), "metrics": metrics, "figures": figures, "host": host,
                          "verdict": verdict["detail"], "attempted": attempted,
                          "failed": failed, "raw": raw}, indent=1)
        with open(a.record, "w") as f:
            f.write(rec.replace(ROOT + os.sep, ""))  # checkout-relative paths
    print(json.dumps({
        "correct": verdict["correct"] and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
