"""Exact-count repeat check of the benchmark.

Two traced runs of one seed must produce the same op sequence, the same
Spark jobs, stages and tasks per op, and the same file, job and stored-byte
counts (counts.json of each traced run). With one client these repeat
exactly; a difference means hidden nondeterminism in graft or in the
benchmark. Run from the root of a graft checkout:

    python3 benchmark/test_repeat.py [--workload W ...] [--seed N] [--seconds S]

Exits 1 and prints the differing entries when a count drifts.
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def traced_counts(workload, seed, seconds, build_dir):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "1"],
                       stdout=subprocess.DEVNULL)
    if r.returncode != 0:
        raise SystemExit(f"repeat: traced run of {workload} failed ({r.returncode})")
    with open(os.path.join(build_dir, "trace", f"{workload}-seed{seed}",
                           "counts.json")) as fh:
        return json.load(fh)


def diff(a, b, path=""):
    if isinstance(a, dict) and isinstance(b, dict):
        for k in sorted(set(a) | set(b)):
            yield from diff(a.get(k), b.get(k), f"{path}.{k}")
    elif isinstance(a, list) and isinstance(b, list) and len(a) == len(b):
        for i, (x, y) in enumerate(zip(a, b)):
            yield from diff(x, y, f"{path}[{i}]")
    elif a != b:
        yield f"{path}: {a} != {b}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", nargs="*")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    seconds = a.seconds or spec["run_seconds"]
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    bad = 0
    for w in workloads:
        first = traced_counts(w, a.seed, seconds, build_dir)
        second = traced_counts(w, a.seed, seconds, build_dir)
        d = list(diff(first, second))
        print(f"{w}: {len(first['ops'])} ops, {len(d)} differing counts")
        for line in d[:20]:
            print("  " + line)
        bad += len(d)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
