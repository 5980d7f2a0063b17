#!/usr/bin/env bash
# A/B the perfbench benchmark between a parent commit and this checkout.
#
#   scripts/perfbench_ab.sh <parent-ref> <workload> <seed> [<seed> ...]
#
# Both sides are built from `git archive` copies in one temporary
# directory: the parent from <parent-ref>, the change from the tracked
# files of the working tree (HEAD when the tree is clean; untracked files
# are not included). Each seed is one pair of untraced
# `perfbench/run.py --workload <workload> --seed <seed> --seconds 15`
# runs, one per side; the side that runs first alternates from pair to
# pair. The summary gives, for each end-to-end metric in BENCHMARK.json:
# both sides' medians, the parent's quartiles, the pairs the change won,
# and every run's value with its steal-tick delta.
#
# Needs SPARK_HOME (as perfbench/run.py does). The temporary directory
# (under $TMPDIR, else /tmp) is removed on exit.
set -euo pipefail

if [ $# -lt 3 ]; then
  echo "usage: $0 <parent-ref> <workload> <seed> [<seed> ...]" >&2
  exit 2
fi
parent_ref=$1; workload=$2; shift 2
root=$(git rev-parse --show-toplevel)
parent=$(git -C "$root" rev-parse --verify "$parent_ref^{commit}")
change=$(git -C "$root" stash create)
change=${change:-$(git -C "$root" rev-parse HEAD)}

tmp=$(mktemp -d "${TMPDIR:-/tmp}/perfbench-ab.XXXXXX")
trap 'rm -rf "$tmp"' EXIT
for side in parent change; do
  ref=${!side}
  mkdir -p "$tmp/$side"
  git -C "$root" archive "$ref" | tar -x -C "$tmp/$side"
  echo "[ab] building $side (${ref:0:12})" >&2
  (cd "$tmp/$side" && python3 -c 'import sys; sys.path.insert(0, "perfbench"); import run; run.build()')
done

# one untraced run; its last two stdout lines (detail, result) go to $out
run_side() {
  local side=$1 seed=$2 out=$3
  (cd "$tmp/$side" && python3 perfbench/run.py --workload "$workload" --seed "$seed" \
    --seconds 15 --trace 0) 2>"$out.log" | tail -n 2 >"$out" || {
    echo "[ab] $side seed $seed failed; see below" >&2
    tail -n 20 "$out.log" >&2
    exit 1
  }
}

n=0
for seed in "$@"; do
  if [ $((n % 2)) -eq 0 ]; then order="parent change"; else order="change parent"; fi
  for side in $order; do
    echo "[ab] pair $((n + 1)) seed $seed: $side" >&2
    run_side "$side" "$seed" "$tmp/$side.$seed.json"
  done
  n=$((n + 1))
done

python3 - "$root/BENCHMARK.json" "$tmp" "$workload" "$@" <<'EOF'
import json, statistics, sys

spec, tmp, workload, seeds = sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4:]
metrics = json.load(open(spec))["end_to_end"]

def load(side, seed):
    detail, result = [json.loads(l) for l in open(f"{tmp}/{side}.{seed}.json")]
    return detail, result

runs = {side: [load(side, s) for s in seeds] for side in ("parent", "change")}

def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else [xs[0]] * 3
    return q[0], q[2]

print(f"workload {workload}, {len(seeds)} pairs (seeds {' '.join(seeds)})")
for side in ("parent", "change"):
    fails = [f"{r['failed']}/{r['attempted']}" for _, r in runs[side]]
    print(f"  {side:6} failed/attempted per run: {' '.join(fails)}")
print(f"  {'metric':12} {'parent':>9} {'q1':>9} {'q3':>9} {'change':>9} {'delta':>8}  wins")
for m in metrics:
    name, lower = m["name"], m["better"] == "lower"
    p = [r["metrics"][name]["value"] for _, r in runs["parent"]]
    c = [r["metrics"][name]["value"] for _, r in runs["change"]]
    wins = sum((b < a) if lower else (b > a) for a, b in zip(p, c))
    pm, cm = statistics.median(p), statistics.median(c)
    q1, q3 = quartiles(p)
    print(f"  {name:12} {pm:9.4g} {q1:9.4g} {q3:9.4g} {cm:9.4g} {(cm - pm) / pm:+8.1%}  {wins}/{len(p)}")
print("  per pair (value @ steal ticks):")
for i, seed in enumerate(seeds):
    cells = []
    for side in ("parent", "change"):
        detail, result = runs[side][i]
        steal = (detail.get("host") or {}).get("steal_ticks_delta")
        vals = " ".join(f"{m['name']}={result['metrics'][m['name']]['value']:.4g}" for m in metrics)
        cells.append(f"{side} {vals} @{steal}")
    print(f"    seed {seed}: " + " | ".join(cells))
EOF
