#!/usr/bin/env bash
# Interleaved A/B run of the repository benchmark (perfbench/run.py).
#
#   scripts/ab.sh <rev> <workload> [pairs] [seconds]
#
# Exports <rev> with `git archive` into a scratch directory ("base") and
# copies this working tree (tracked files plus untracked files that are
# not ignored) into another ("head"), so neither side starts with the
# checkout's build outputs or earlier run artifacts. Runs
# `python3 perfbench/run.py --trace 0` from both trees, pair by pair with
# the same seed, alternating which side runs first. Each tree builds
# itself on its first run, outside the timed region. Prints each side's median and quartiles for every
# end-to-end metric of BENCHMARK.json and the pairs head won; a gain is
# claimed only when head wins at least nine tenths of the pairs (ties
# count for neither) and the medians differ by more than the distance
# between base's quartiles.
#
# For operator_queries it then prints each side's median over pairs of
# every query's wall in the first (cold) suite, read from the run's
# artifact (samples.suite_s[0].query_s), to show which query sets the
# median latency.
#
# Environment: AB_SEED (first seed, default 1; pair i uses AB_SEED + i),
# AB_SCRATCH (scratch directory, default a new temporary one). Raw results
# stay in $AB_SCRATCH/ab.jsonl, each run's standard error in
# $AB_SCRATCH/<side>-<pair>.log.
set -euo pipefail

if [ $# -lt 2 ]; then
  echo "usage: $0 <rev> <workload> [pairs] [seconds]" >&2
  exit 2
fi
rev=$1 workload=$2 pairs=${3:-10} seconds=${4:-5}
seed0=${AB_SEED:-1}
repo=$(git rev-parse --show-toplevel)
scratch=${AB_SCRATCH:-$(mktemp -d)}
base=$scratch/base
head=$scratch/head
out=$scratch/ab.jsonl
mkdir -p "$scratch"
: > "$out"

mkdir -p "$base" "$head"
git -C "$repo" archive "$rev" | tar -x -C "$base"
# a tracked file deleted in the working tree is listed but absent: skip it
(cd "$repo" && git ls-files -z --cached --others --exclude-standard |
  tar --null --files-from=- --ignore-failed-read -cf - 2>/dev/null) | tar -x -C "$head"

for i in $(seq 0 $((pairs - 1))); do
  seed=$((seed0 + i))
  if [ $((i % 2)) -eq 0 ]; then order="base head"; else order="head base"; fi
  for side in $order; do
    if [ "$side" = base ]; then dir=$base; else dir=$head; fi
    echo "[ab] pair $i seed $seed: $side" >&2
    # run.py prints "[perfbench] artifact: <path>" just before the result line
    if lines=$(cd "$dir" && python3 perfbench/run.py --workload "$workload" \
        --seed "$seed" --seconds "$seconds" --trace 0 2> "$scratch/$side-$i.log" | tail -2); then
      art=$(sed -n 's/^\[perfbench\] artifact: //p' <<< "$lines")
      echo "{\"pair\": $i, \"seed\": $seed, \"side\": \"$side\", \"artifact\": \"${art:+$dir/$art}\"," \
        "\"result\": $(tail -1 <<< "$lines")}" >> "$out"
    else
      echo "{\"pair\": $i, \"seed\": $seed, \"side\": \"$side\", \"result\": null}" >> "$out"
    fi
  done
done

python3 - "$out" "$repo/BENCHMARK.json" "$rev" "$workload" <<'EOF'
import json, statistics, sys

runs = [json.loads(l) for l in open(sys.argv[1]) if l.strip()]
spec = json.load(open(sys.argv[2]))
rev, workload = sys.argv[3], sys.argv[4]
pairs = sorted({r["pair"] for r in runs})
by = {(r["pair"], r["side"]): r["result"] for r in runs}
failed = {s: sum(1 for p in pairs if not by.get((p, s))) for s in ("base", "head")}


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


print(f"workload {workload}: base {rev} vs head (working tree), {len(pairs)} pairs, "
      f"failed runs base {failed['base']} head {failed['head']}")
print(f"{'metric':<18} {'base median [Q1, Q3]':<30} {'head median [Q1, Q3]':<30} "
      f"{'head wins':<10} gain")
for m in spec["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    vals = {s: [by[(p, s)]["metrics"][name]["value"] for p in pairs if by.get((p, s))]
            for s in ("base", "head")}
    wins = 0
    for p in pairs:
        b, h = by.get((p, "base")), by.get((p, "head"))
        if not h:
            continue
        hv = h["metrics"][name]["value"]
        bv = b["metrics"][name]["value"] if b else None
        if bv is None or (hv < bv if lower else hv > bv):
            wins += 1
    bq, hq = quartiles(vals["base"]), quartiles(vals["head"])
    gap = (bq[1] - hq[1]) if lower else (hq[1] - bq[1])
    claim = wins >= 0.9 * len(pairs) and gap > bq[2] - bq[0]
    fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
    print(f"{name:<18} {fmt(bq):<30} {fmt(hq):<30} {wins:>2}/{len(pairs):<7} "
          f"{'yes' if claim else 'no'} (head median {(hq[1] - bq[1]) / bq[1]:+.1%} "
          f"vs base, base IQR {bq[2] - bq[0]:.4g} {m['unit']})")

if workload == "operator_queries":
    walls = {"base": {}, "head": {}}
    for r in runs:
        if not r["result"] or not r.get("artifact"):
            continue
        with open(r["artifact"]) as fh:
            cold = json.load(fh)["samples"]["suite_s"][0]["query_s"]
        for q, s in cold.items():
            walls[r["side"]].setdefault(q, []).append(s)
    med = {s: {q: statistics.median(v) for q, v in w.items()} for s, w in walls.items()}
    print("cold-suite wall per query (samples.suite_s[0].query_s), median over pairs, s")
    for q in sorted(set(med["base"]) | set(med["head"]), key=lambda q: -med["base"].get(q, 0)):
        b, h = med["base"].get(q, float("nan")), med["head"].get(q, float("nan"))
        print(f"  {q:<24} base {b:<8.3f} head {h:.3f}")
EOF
