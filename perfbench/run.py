"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload spj_adhoc --seed 1 --seconds 12 --trace 0

Run from the root of a graft checkout. Builds graft and the benchmark
program (build.py), generates the tables (datagen.py) and the workload's inputs
from the seed (gen.py), runs the workload in one JVM (src/perfbench),
checks every output (check.py) and prints, as the last line, one JSON
object: `correct`, `attempted`, `failed` and `metrics` — the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`.
Everything it writes goes under $CARGO_TARGET_DIR (default
.bench_build); the spans of a traced run are kept in
<build_dir>/traces/. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import check  # noqa: E402
import datagen  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["spj_adhoc", "operator_suite", "event_stream", "corpus_fold"]
# scale factors of each workload's (timed, warm-up) tables
SCALE = {"spj_adhoc": (0.1, None), "operator_suite": (0.01, 0.001),
         "event_stream": (0.1, None), "corpus_fold": (0.01, None)}
JVM_TIMEOUT_S = 150
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# metric names and units, as BENCHMARK.json declares them
SPEC = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
END_TO_END = [(m["name"], m["unit"]) for m in SPEC["end_to_end"]]
PER_LAYER = [(m["name"], m["unit"]) for m in SPEC["per_layer"]]


# Median time of the calibration job (a fixed Spark core job in
# Main.scala) on the 4-core host the benchmark was built on. The host's
# speed drifts by half within minutes, so the end-to-end times of the
# calibrated workloads are reported scaled to it; the raw times are
# printed above the result line.
CAL_REF_MS = 150.0


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classpath, plan_path, result_path, run_dir, log_path):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-Xss4m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", plan_path, result_path]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=run_dir, env=env)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return -9


def raw_times(result):
    return {"setup_s": result["setup_s"],
            "op_p50_ms": statistics.median(
                [o["latency_ms"] for o in result["ops"]])}


def end_to_end(result):
    """Times in reference-host units (raw × CAL_REF_MS ÷ this run's
    calibration median) for calibrated workloads, raw otherwise; heap as
    measured."""
    cal = result["calibration_ms"]
    f = CAL_REF_MS / statistics.median(cal) if cal else 1.0
    out = {k: v * f for k, v in raw_times(result).items()}
    out["peak_heap_mb"] = result["peak_heap_mb"]
    return out


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="self-test: corrupt one expected output")
    a = ap.parse_args(argv)

    root = os.getcwd()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR",
                                               ".bench_build"))
    try:
        classpath = build.ensure(root, build_dir)
    except SystemExit as e:
        print(e, file=sys.stderr)
        return 2
    dirs = {f"{k}_dir": datagen.ensure(
                os.path.join(build_dir, "data", f"sf{sf}"), sf)
            for k, sf in zip(["timed", "warm"], SCALE[a.workload]) if sf}
    run_dir = os.path.join(build_dir, "runs", a.workload)  # kept until the next run
    shutil.rmtree(run_dir, ignore_errors=True)
    out_dir = os.path.join(run_dir, "out")
    os.makedirs(out_dir)
    plan = gen.plan(a.workload, a.seed, a.seconds, a.trace,
                    dict(dirs, out_dir=out_dir), cores())
    if a.corrupt_expected:
        plan["corrupt_expected"] = 1
    plan_path = os.path.join(run_dir, "plan.json")
    result_path = os.path.join(run_dir, "result.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    log_path = os.path.join(build_dir, f"last-{a.workload}.log")
    rc = run_jvm(classpath, plan_path, result_path, run_dir, log_path)
    if rc != 0 or not os.path.exists(result_path):
        print(f"benchmark JVM failed (exit {rc}); log: {log_path}",
              file=sys.stderr)
        return 1
    result = json.load(open(result_path))
    checks = check.run(a.workload, plan, result, run_dir, build_dir,
                       corrupt=a.corrupt_expected)

    failed_ops = [o for o in result["ops"] if not o["ok"]]
    failed_checks = [c for c in checks if not c[1]]
    for o in failed_ops:
        print(f"FAILED op {o['name']}: {o['error']}", file=sys.stderr)
    for c in failed_checks:
        print(f"WRONG {c[0]}: {c[2]}", file=sys.stderr)
    attempted = len(result["ops"]) + len(checks)
    failed = len(failed_ops) + len(failed_checks)

    e2e = end_to_end(result)
    if a.trace:
        layers = result["layers"]
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u in PER_LAYER}
        os.makedirs(os.path.join(build_dir, "traces"), exist_ok=True)
        trace_path = os.path.join(build_dir, "traces",
                                  f"{a.workload}-seed{a.seed}.json")
        shutil.copyfile(os.path.join(out_dir, "trace.json"), trace_path)
        print(f"trace: {trace_path}")
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    print(f"workload {a.workload} seed {a.seed}: {len(result['ops'])} ops, "
          f"{len(checks)} output checks, error_rate "
          f"{failed / attempted:.4f}; generator {json.dumps(plan['generator'])}")
    raw = raw_times(result)
    if result["calibration_ms"]:
        print(f"  calibration    "
              f"{statistics.median(result['calibration_ms']):12.4f} ms "
              f"(reference {CAL_REF_MS})")
    for n, u in END_TO_END:
        extra = f"   raw {raw[n]:.4f}" if n in raw else ""
        print(f"  {n:14s} {e2e[n]:12.4f} {u}{extra}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
