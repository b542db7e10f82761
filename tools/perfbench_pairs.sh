#!/bin/bash
# Alternating parent/change pairs of the end-to-end benchmark.
#
#   tools/perfbench_pairs.sh PARENT CHANGE WORKLOAD N [FIRST_SEED]
#
# PARENT and CHANGE are two checkouts of the repository.  Pair i runs
# `perfbench/run.py --workload WORKLOAD --seed i` in each (seeds
# FIRST_SEED..FIRST_SEED+N-1, default FIRST_SEED 1, so a claim can be
# re-checked on seeds not used while developing; run length from PARENT's
# BENCHMARK.json), one run at a time; the first pair runs the parent first,
# the next the change, and so on.  Every result line is kept under
# $PAIRS_OUT (default: a new directory under /tmp).  Prints each pair's
# parent → change value of every end-to-end metric, then per metric both
# medians, how many pairs the change won (ties count for neither side) and
# the parent's quartile distance (IQR).  Exits non-zero when any run fails,
# reports `correct: false` or counts a failed operation.
set -euo pipefail
if [ $# -ne 4 ] && [ $# -ne 5 ]; then
  echo "usage: $0 PARENT CHANGE WORKLOAD N [FIRST_SEED]" >&2
  exit 2
fi
PARENT=$(cd "$1" && pwd)
CHANGE=$(cd "$2" && pwd)
WORKLOAD=$3
N=$4
FIRST=${5:-1}
OUT=${PAIRS_OUT:-$(mktemp -d /tmp/perfbench_pairs.XXXXXX)}
mkdir -p "$OUT"
SECONDS_PER_RUN=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$PARENT/BENCHMARK.json")

run() {  # run SIDE DIR SEED
  (cd "$2" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$3" \
     --seconds "$SECONDS_PER_RUN" --trace 0 2>"$OUT/$1-$3.err") | tail -n 1 > "$OUT/$1-$3.json" \
    || true  # a failed run leaves no result line; the summary reports it
  echo "pair $3 $1: $(cat "$OUT/$1-$3.json")" >&2
}

for i in $(seq "$FIRST" $((FIRST + N - 1))); do
  if [ $(((i - FIRST) % 2)) -eq 0 ]; then
    run parent "$PARENT" "$i"; run change "$CHANGE" "$i"
  else
    run change "$CHANGE" "$i"; run parent "$PARENT" "$i"
  fi
done

python3 - "$OUT" "$N" "$FIRST" "$PARENT/BENCHMARK.json" <<'EOF'
import json
import statistics
import sys

out, n, first = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
spec = json.load(open(sys.argv[4]))
seeds = range(first, first + n)
ok = True
runs = {"parent": [], "change": []}
for side, rs in runs.items():
    for i in seeds:
        with open(f"{out}/{side}-{i}.json") as f:
            line = f.read().strip()
        r = json.loads(line) if line else {}
        if not r.get("correct") or r.get("failed", 1) > 0:
            print(f"{side} seed {i}: correct={r.get('correct')} "
                  f"failed={r.get('failed')}", file=sys.stderr)
            ok = False
        rs.append(r.get("metrics", {}))


def iqr(xs):
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return q[2] - q[0]


def values(side, name):
    return [r[name]["value"] for r in runs[side] if name in r]


names = [m["name"] for m in spec["end_to_end"]]
print("seed " + " ".join(f"{name:>26}" for name in names))
for i, (p, c) in zip(seeds, zip(runs["parent"], runs["change"])):
    print(f"{i:<4} " + " ".join(
        f"{p[name]['value']:>12.4g} → {c[name]['value']:<11.4g}"
        if name in p and name in c else f"{'missing':>26}" for name in names))
print()
print(f"{'metric':24} {'parent':>12} {'change':>12} {'won':>7} {'parent IQR':>11}")
for m in spec["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    p, c = values("parent", name), values("change", name)
    if len(p) != n or len(c) != n:
        print(f"{name:24} missing in some runs")
        ok = False
        continue
    won = sum((b < a) if lower else (b > a) for a, b in zip(p, c))
    print(f"{name:24} {statistics.median(p):12.4g} {statistics.median(c):12.4g}"
          f" {won:>3}/{n:<3} {iqr(p):11.4g}")
sys.exit(0 if ok else 1)
EOF
