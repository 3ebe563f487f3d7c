#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

Usage (from the repository root): python3 perfbench/smoke_test.py

Runs every workload of BENCHMARK.json at tiny size (an sf0.001 corpus, a
2000-row batch, a six-day ledger), untraced and traced, and asserts that
  - every metric BENCHMARK.json names is emitted, with its unit;
  - every span's self time is non-negative;
  - every child span lies inside its parent. Spark jobs carry the
    listener's millisecond event times, so they may stick out of their
    parent by up to JOB_CLOCK_NS.
It also reports each run's correctness verdict. Exits non-zero on any
failed assertion or failed run.
"""
import json
import os
import subprocess
import sys
import tempfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import layers  # noqa: E402

JOB_CLOCK_NS = 2_000_000


def check_spans(raw):
    spans = layers.spans_of(raw)
    by_id = {s["id"]: s for s in spans}
    errors = []
    for sid, t in layers.self_times(spans).items():
        if t < 0:
            errors.append(f"span {sid} has self time {t}")
    for s in spans:
        p = by_id.get(s["parent"])
        if p is None:
            continue
        slack = JOB_CLOCK_NS if s["name"] == "spark.job" else 0
        if s["start"] < p["start"] - slack or s["end"] > p["end"] + slack:
            errors.append(f"span {s['id']} {s['name']} lies outside parent {p['id']} {p['name']}")
    return errors


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []
    os.makedirs(os.path.join(BENCH, ".work"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(BENCH, ".work")) as tmp:
        for w in spec["workloads"]:
            for trace, wanted in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
                record = os.path.join(tmp, f"{w['name']}-{trace}.json")
                r = subprocess.run(
                    [sys.executable, os.path.join(BENCH, "run.py"), "--workload", w["name"],
                     "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny",
                     "--record", record],
                    cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
                tag = f"{w['name']} trace={trace}"
                if r.returncode != 0:
                    failures.append(f"{tag}: run failed with code {r.returncode}")
                    continue
                line = json.loads(r.stdout.strip().splitlines()[-1])
                errors = []
                for m in wanted:
                    got = line["metrics"].get(m["name"])
                    if got is None:
                        errors.append(f"metric {m['name']} missing")
                    elif got["unit"] != m["unit"]:
                        errors.append(f"metric {m['name']} unit {got['unit']} != {m['unit']}")
                with open(record) as f:
                    errors += check_spans(json.load(f)["raw"])
                print(f"{tag}: correct={line['correct']} attempted={line['attempted']} "
                      f"failed={line['failed']} assertions {'ok' if not errors else 'FAILED'}")
                failures += [f"{tag}: {e}" for e in errors]
    for f in failures:
        print(f)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
