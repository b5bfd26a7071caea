#!/usr/bin/env bash
# A/B one perfbench workload: a parent revision against this working tree.
#
# Usage: tools/perfbench_ab.sh PARENT_REV WORKLOAD PAIRS [SEED0]
#
# Exports PARENT_REV (git archive) and the working tree (the files
# `git ls-files -co --exclude-standard` names, so build output and
# ignored scratch stay behind) into two fresh directories under a new
# `mktemp -d` (set TMPDIR to choose where), then runs
# `python3 perfbench/run.py --workload WORKLOAD --seed S --seconds 10` in
# each, PAIRS times with seeds SEED0.. (default 1), alternating which side
# runs first. Prints each side's median and interquartile range per
# end-to-end metric and how many pairs the change wins (lower or higher
# is better as BENCHMARK.json says), and each side's median live heap
# (`live_heap_mb`, read after the first timed pass), so memory a change
# moves shows too. The per-run JSON lines and each run's raw.json stay in
# <dir>/runs; both source copies are deleted on exit.
set -euo pipefail

[ $# -ge 3 ] || { sed -n '2,17p' "$0" >&2; exit 2; }
rev="$1" workload="$2" pairs="$3" seed0="${4:-1}"
repo="$(cd "$(dirname "$0")/.." && pwd)"

dir="$(mktemp -d)"
mkdir -p "$dir/parent" "$dir/change" "$dir/runs"
trap 'rm -rf "$dir/parent" "$dir/change"' EXIT
git -C "$repo" archive "$rev" | tar -x -C "$dir/parent"
# tracked files deleted in the working tree are left out
(cd "$repo" && git ls-files -co --exclude-standard -z |
  while IFS= read -r -d '' f; do [ -e "$f" ] && printf '%s\0' "$f"; done |
  tar --null -T - -c) | tar -x -C "$dir/change"
echo "perfbench_ab: $rev vs working tree, $workload, $pairs pairs, runs in $dir/runs"

run() {  # side pair seed
  local out="$dir/runs/$1.$2.json"
  if (cd "$dir/$1" && python3 perfbench/run.py --workload "$workload" \
      --seed "$3" --seconds 10) > "$dir/runs/$1.$2.log" 2>&1; then
    tail -n 1 "$dir/runs/$1.$2.log" > "$out"
    cp "$dir/$1/.bench_run/$workload/raw.json" "$dir/runs/$1.$2.raw.json"
    echo "pair $2 seed $3 $1: ok"
  else
    echo "pair $2 seed $3 $1: FAILED (see $dir/runs/$1.$2.log)"
  fi
}

for ((i = 1; i <= pairs; i++)); do
  seed=$((seed0 + i - 1))
  if ((i % 2)); then run parent "$i" "$seed"; run change "$i" "$seed"
  else run change "$i" "$seed"; run parent "$i" "$seed"; fi
done

python3 - "$dir/runs" "$pairs" "$repo/BENCHMARK.json" <<'EOF'
import json, os, statistics, sys
runs, pairs, bench = sys.argv[1], int(sys.argv[2]), json.load(open(sys.argv[3]))
better = {m["name"]: m["better"] for m in bench["end_to_end"]}

def load(side, i, ext="json"):
    p = os.path.join(runs, f"{side}.{i}.{ext}")
    return json.load(open(p)) if os.path.exists(p) else None

res = {s: [load(s, i) for i in range(1, pairs + 1)] for s in ("parent", "change")}
for s, rs in res.items():
    ok = [r for r in rs if r]
    print(f"{s}: {len(ok)}/{pairs} runs finished, "
          f"{sum(1 for r in ok if r['correct'])} correct")

def quart(v):
    if len(v) < 2:
        return v[0], 0.0
    q1, q2, q3 = statistics.quantiles(v, n=4, method="inclusive")
    return q2, q3 - q1

print(f"{'metric':14s} {'parent med':>11s} {'IQR':>9s} {'change med':>11s} {'IQR':>9s}  wins")
for m, b in better.items():
    pv = [r["metrics"][m]["value"] for r in res["parent"] if r and m in r["metrics"]]
    cv = [r["metrics"][m]["value"] for r in res["change"] if r and m in r["metrics"]]
    if not pv or not cv:
        continue
    wins = n = 0
    for p, c in zip(res["parent"], res["change"]):
        if p and c and m in p["metrics"] and m in c["metrics"]:
            n += 1
            x, y = p["metrics"][m]["value"], c["metrics"][m]["value"]
            wins += (y < x) if b == "lower" else (y > x)
    (pm, pi), (cm, ci) = quart(pv), quart(cv)
    print(f"{m:14s} {pm:11.4g} {pi:9.3g} {cm:11.4g} {ci:9.3g}  {wins}/{n}")

for s in res:
    heap = [r["live_heap_mb"] for r in
            (load(s, i, "raw.json") for i in range(1, pairs + 1)) if r]
    if heap:
        print(f"{s}: median live_heap_mb {statistics.median(heap):.1f} over {len(heap)} runs")
EOF
