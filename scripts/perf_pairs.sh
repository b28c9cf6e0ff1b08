#!/usr/bin/env bash
# Alternating parent/change pairs of one perfbench workload.
#
#   scripts/perf_pairs.sh PARENT_DIR CHANGE_DIR WORKLOAD FIRST_SEED N
#
# Runs `python3 perfbench/run.py --workload WORKLOAD --seed S --seconds 10
# --trace 0` in each checkout for seeds FIRST_SEED .. FIRST_SEED+N-1, one
# pair per seed. Pair i runs the parent first when i is even and the change
# first when it is odd, so neither side always runs on a box the other has
# just warmed. Each checkout builds itself on its first run (perfbench
# stamps its build), so build both before timing anything.
#
# Prints one line per run with its end-to-end metrics (the `end_to_end`
# list of BENCHMARK.json in CHANGE_DIR), then per metric each side's median
# and quartiles, the number of pairs the change won (ties count for
# neither), and whether the median gap is wider than the parent's quartile
# spread — the two conditions a claimed gain must meet. Raw result lines go
# to $PERF_PAIRS_OUT (default: a fresh file under /tmp) as
# `side seed json`.
set -euo pipefail

if [ $# -ne 5 ]; then
  echo "usage: $0 PARENT_DIR CHANGE_DIR WORKLOAD FIRST_SEED N" >&2
  exit 2
fi
parent=$(cd "$1" && pwd)
change=$(cd "$2" && pwd)
workload=$3
first=$4
n=$5
out=${PERF_PAIRS_OUT:-$(mktemp /tmp/perf_pairs.XXXXXX)}
: > "$out"

run() { # side dir seed
  local line
  line=$(cd "$2" && python3 perfbench/run.py --workload "$workload" \
    --seed "$3" --seconds 10 --trace 0 2>/dev/null | tail -n 1)
  echo "$1 $3 $line" >> "$out"
  python3 - "$1" "$3" "$line" "$change/BENCHMARK.json" <<'EOF'
import json, sys
side, seed, line, bench = sys.argv[1:5]
names = [m["name"] for m in json.load(open(bench))["end_to_end"]]
r = json.loads(line)
vals = " ".join(f"{k}={r['metrics'][k]['value']:.4g}" for k in names)
print(f"{side:6} seed {seed}: correct={r['correct']} "
      f"failed={r['failed']}/{r['attempted']} {vals}", flush=True)
EOF
}

for ((i = 0; i < n; i++)); do
  seed=$((first + i))
  if ((i % 2 == 0)); then
    run parent "$parent" "$seed"; run change "$change" "$seed"
  else
    run change "$change" "$seed"; run parent "$parent" "$seed"
  fi
done

python3 - "$out" "$change/BENCHMARK.json" <<'EOF'
import json, statistics, sys
out, bench = sys.argv[1:3]
metrics = json.load(open(bench))["end_to_end"]
runs = {}
for l in open(out):
    side, seed, line = l.split(" ", 2)
    runs[(side, int(seed))] = json.loads(line)["metrics"]
seeds = sorted({s for _, s in runs})
def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 \
        else [xs[0]] * 3
    return q[0], statistics.median(xs), q[2]
for m in metrics:
    name, lower = m["name"], m["better"] == "lower"
    p = [runs[("parent", s)][name]["value"] for s in seeds]
    c = [runs[("change", s)][name]["value"] for s in seeds]
    pq, cq = quartiles(p), quartiles(c)
    wins = sum((b < a) if lower else (b > a) for a, b in zip(p, c))
    gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
    spread = pq[2] - pq[0]
    print(f"{name} ({m['unit']}, {len(seeds)} pairs): "
          f"parent median {pq[1]:.4g} (quartiles {pq[0]:.4g}-{pq[2]:.4g}), "
          f"change median {cq[1]:.4g} (quartiles {cq[0]:.4g}-{cq[2]:.4g}), "
          f"change {100 * (cq[1] - pq[1]) / pq[1]:+.1f} %; "
          f"change better in {wins}/{len(seeds)} pairs; "
          f"median gap {gap:+.4g} vs parent quartile spread {spread:.4g}: "
          f"{'beats' if gap > spread else 'does not beat'} it")
print(f"raw results: {out}")
EOF
