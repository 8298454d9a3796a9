#!/bin/bash
# Alternating A/B of one perfbench workload: a parent checkout against a
# change checkout, one pair of runs per seed.
#
#   scripts/ab.sh <workload> <seed>...
#
# Environment:
#   AB_PARENT   checkout of the parent (default: `git archive` of
#               AB_PARENT_REV, default HEAD~1, into $AB_OUT/parent)
#   AB_CHANGE   checkout of the change (default: this repository)
#   AB_OUT      output directory (default: ${TMPDIR:-/tmp}/graft-ab)
#   AB_SECONDS  --seconds of each run (default 6)
#   AB_TRACE    --trace of each run (default 0)
#
# Each side builds and runs with its own CARGO_TARGET_DIR under $AB_OUT,
# so the two never share build output. The side that runs first
# alternates from pair to pair, so a drifting host does not favour one
# side. Each run's last line (perfbench's result JSON) is kept as
# $AB_OUT/<side>_<workload>_<seed>.json; at the end every end-to-end
# metric (every per-layer metric when AB_TRACE=1, since a traced run
# reports only those) is printed per pair, with both sides'
# Q1/median/Q3 and the number of pairs the change won.
set -euo pipefail
[ $# -ge 2 ] || { sed -n '2,22p' "$0"; exit 2; }
workload=$1; shift
here=$(cd "$(dirname "$0")/.." && pwd)
out=${AB_OUT:-${TMPDIR:-/tmp}/graft-ab}
change=${AB_CHANGE:-$here}
mkdir -p "$out"
if [ -z "${AB_PARENT:-}" ]; then
  AB_PARENT=$out/parent
  if [ ! -d "$AB_PARENT" ]; then
    mkdir -p "$AB_PARENT"
    git -C "$here" archive "${AB_PARENT_REV:-HEAD~1}" | tar -x -C "$AB_PARENT"
  fi
fi

run() { # side dir seed
  local side=$1 dir=$2 seed=$3
  local res=$out/${side}_${workload}_${seed}.json
  echo "== $side seed $seed" >&2
  (cd "$dir" && CARGO_TARGET_DIR=$out/build_$side python3 perfbench/run.py \
    --workload "$workload" --seed "$seed" \
    --seconds "${AB_SECONDS:-6}" --trace "${AB_TRACE:-0}") \
    > "$out/${side}_${workload}_${seed}.log" 2>&1 || true
  tail -n 1 "$out/${side}_${workload}_${seed}.log" > "$res"
}

i=0
for seed in "$@"; do
  if [ $((i % 2)) -eq 0 ]; then
    run parent "$AB_PARENT" "$seed"; run change "$change" "$seed"
  else
    run change "$change" "$seed"; run parent "$AB_PARENT" "$seed"
  fi
  i=$((i + 1))
done

python3 - "$out" "$workload" "$here/BENCHMARK.json" "${AB_TRACE:-0}" "$@" <<'EOF'
import json, statistics, sys
out, workload, spec, trace = sys.argv[1:5]
seeds = sys.argv[5:]
metrics = json.load(open(spec))["per_layer" if trace == "1" else "end_to_end"]

def load(side, seed):
    try:
        return json.load(open(f"{out}/{side}_{workload}_{seed}.json"))
    except (OSError, ValueError):
        return None

def quartiles(xs):
    if len(xs) < 2:
        return xs * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return [q1, q2, q3]

pairs = [(s, load("parent", s), load("change", s)) for s in seeds]
for s, p, c in pairs:
    for side, r in (("parent", p), ("change", c)):
        if r is None or not r.get("correct") or r.get("failed"):
            print(f"seed {s} {side}: not a clean run: {r}")
pairs = [(s, p, c) for s, p, c in pairs if p and c]
for m in metrics:
    name, lower = m["name"], m["better"] == "lower"
    rows = [(s, p["metrics"].get(name, {}).get("value"),
             c["metrics"].get(name, {}).get("value")) for s, p, c in pairs]
    rows = [r for r in rows if r[1] is not None and r[2] is not None]
    if not any(a or b for _, a, b in rows):
        continue  # a layer this workload does not run
    print(f"{name} ({m['unit']}), parent/change per seed:")
    print("  " + ", ".join(f"{s} {a:g}/{b:g}" for s, a, b in rows))
    pa, ch = [r[1] for r in rows], [r[2] for r in rows]
    wins = sum((b < a) if lower else (b > a) for _, a, b in rows)
    qp, qc = quartiles(pa), quartiles(ch)
    print(f"  parent Q1/median/Q3 {qp[0]:.4g}/{qp[1]:.4g}/{qp[2]:.4g} "
          f"(IQR {qp[2] - qp[0]:.4g})")
    print(f"  change Q1/median/Q3 {qc[0]:.4g}/{qc[1]:.4g}/{qc[2]:.4g} "
          f"(IQR {qc[2] - qc[0]:.4g})")
    ratio = f"{qc[1] / qp[1]:.3f}" if qp[1] else "n/a"
    print(f"  change/parent median {ratio}; "
          f"change better in {wins}/{len(rows)} pairs")
EOF
