"""Self-tests of the benchmark itself.

1. Exact counts: two traced runs on the same seed must report identical
   exec.jobs, exec.stages and exec.shuffle_write_mb, per workload.
2. Negative check: a run with one expected output corrupted must report
   correct=false with at least one failure, per workload.

    python3 perfbench/selftest.py [--seed 7] [--seconds 6] [workload ...]

Exits 0 when every test passes.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
EXACT = ["exec.jobs", "exec.stages", "exec.shuffle_write_mb"]


def run(workload, seed, seconds, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), *extra]
    p = subprocess.run(cmd, capture_output=True, text=True)
    if p.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} failed:\n{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    sys.path.insert(0, HERE)
    sys.dont_write_bytecode = True
    from run import WORKLOADS
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("workloads", nargs="*", default=WORKLOADS)
    a = ap.parse_args()
    failures = 0
    for w in a.workloads:
        r1 = run(w, a.seed, a.seconds, 1)
        r2 = run(w, a.seed, a.seconds, 1)
        for m in EXACT:
            v1, v2 = r1["metrics"][m]["value"], r2["metrics"][m]["value"]
            ok = v1 == v2
            failures += not ok
            print(f"{'ok  ' if ok else 'FAIL'} {w} {m}: {v1} vs {v2}")
        bad = run(w, a.seed, a.seconds, 0, "--corrupt-expected")
        ok = not bad["correct"] and bad["failed"] >= 1
        failures += not ok
        print(f"{'ok  ' if ok else 'FAIL'} {w} corrupted expected output "
              f"counted: failed={bad['failed']} of {bad['attempted']}")
    print("ALL PASS" if failures == 0 else f"{failures} FAILURES")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
