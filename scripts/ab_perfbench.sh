#!/usr/bin/env bash
# Interleaved A/B of the benchmark (perfbench/run.py) between an old
# revision and the working tree. Both sides are plain exports, built and
# run from their own directories with identical settings
# (--seconds 5 --trace 0). Pair i runs seed first_seed+i on both sides;
# which side goes first alternates from pair to pair, so a slow stretch
# of the host hits both sides alike. Pick first_seed outside the seeds a
# change was written against.
#
# usage: scripts/ab_perfbench.sh <old_rev> <workload> [pairs=10] [first_seed=101]
# output: one line per run, then each side's median and Q1/Q3 for every
# end-to-end metric in BENCHMARK.json, how many pairs the working tree
# won (ties count for neither side), and the change of the medians,
# new / old - 1, beside the metric's bound; a change worse than the
# bound in the metric's `better` direction is marked OVER BOUND. The
# first build or run that fails, prints nothing, or reports an incorrect
# result or a failed operation stops the script with the tail of its
# log and exit status 1.
# TMPDIR picks where the two exports and their builds land; they are
# removed on exit. The export path is kept short because perfbench's sbt
# build binds a unix socket under it, and such a path may not pass ~104
# characters.
set -euo pipefail
REV=$1
WORKLOAD=$2
PAIRS=${3:-10}
SEED0=${4:-101}
REPO=$(git rev-parse --show-toplevel)
AB=$(mktemp -d "${TMPDIR:-/tmp}/abp.XXXX")
trap 'rm -rf "$AB"' EXIT
mkdir "$AB/old" "$AB/new"
git -C "$REPO" archive "$REV" | tar -x -C "$AB/old"
# The working tree, untracked files included (ignored ones excluded), is
# staged into a scratch index and exported as that index's tree.
cp "$(cd "$REPO" && realpath "$(git rev-parse --git-path index)")" "$AB/index"
GIT_INDEX_FILE="$AB/index" git -C "$REPO" add -A
TREE=$(GIT_INDEX_FILE="$AB/index" git -C "$REPO" write-tree)
git -C "$REPO" archive "$TREE" | tar -x -C "$AB/new"

run_side() { # $1 = old|new, $2 = seed; appends "<side> <seed> <json>"
  local out
  if ! out=$(cd "$AB/$1" && python3 perfbench/run.py --workload "$WORKLOAD" \
      --seed "$2" --seconds 5 --trace 0 2>>"$AB/$1.log" | tail -n 1) \
      || ! python3 -c 'import json, sys; r = json.loads(sys.argv[1]); sys.exit(not r["correct"] or r["failed"] != 0)' "$out" 2>/dev/null; then
    echo "ab_perfbench: $1 seed $2 failed: ${out:-no output}" >&2
    tail -n 20 "$AB/$1.log" >&2
    exit 1
  fi
  echo "$1 $2 $out" >> "$AB/results"
  python3 - "$1" "$2" "$out" <<'PY'
import json, sys
side, seed, r = sys.argv[1], sys.argv[2], json.loads(sys.argv[3])
vals = " ".join(f"{k}={v['value']:.3f}" for k, v in sorted(r["metrics"].items()))
print(f"{side} seed {seed}: correct={r['correct']} failed={r['failed']} {vals}")
PY
}

echo "ab_perfbench: old=$REV workload=$WORKLOAD pairs=$PAIRS seeds=$SEED0..$((SEED0 + PAIRS - 1))"
for i in $(seq 0 $((PAIRS - 1))); do
  seed=$((SEED0 + i))
  if [ $((i % 2)) -eq 0 ]; then
    run_side old "$seed"; run_side new "$seed"
  else
    run_side new "$seed"; run_side old "$seed"
  fi
done

python3 - "$REPO/BENCHMARK.json" "$AB/results" <<'PY'
import json, sys

def pct(xs, p):  # linear interpolation, numpy's default rule
    s = sorted(xs)
    if not s:
        return float("nan")
    pos = p * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)

bench = json.load(open(sys.argv[1]))
runs = {"old": {}, "new": {}}
for line in open(sys.argv[2]):
    side, seed, js = line.split(" ", 2)
    runs[side][int(seed)] = json.loads(js)
seeds = sorted(set(runs["old"]) & set(runs["new"]))
print(f"{len(seeds)} pairs, every run correct with 0 failed operations")
print(f"{'metric':<14}{'old median [Q1, Q3]':>30}{'new median [Q1, Q3]':>30}"
      f"{'old IQR':>10}{'new wins':>10}{'new/old-1':>11}  bound")
for m in bench["end_to_end"]:
    name, lower, bound = m["name"], m["better"] == "lower", m["bound"]
    vals = {side: {s: runs[side][s]["metrics"][name]["value"] for s in seeds
                   if name in runs[side][s]["metrics"]} for side in runs}
    both = [s for s in seeds if s in vals["old"] and s in vals["new"]]
    wins = sum(1 for s in both
               if (vals["new"][s] < vals["old"][s]) == lower
               and vals["new"][s] != vals["old"][s])
    cells = []
    for side in ("old", "new"):
        xs = list(vals[side].values())
        cells.append(f"{pct(xs, .5):.3f} [{pct(xs, .25):.3f}, {pct(xs, .75):.3f}]")
    old = list(vals["old"].values())
    change = pct(list(vals["new"].values()), .5) / pct(old, .5) - 1
    over = change > bound if lower else change < -bound
    print(f"{name:<14}{cells[0]:>30}{cells[1]:>30}"
          f"{pct(old, .75) - pct(old, .25):>10.3f}{f'{wins}/{len(both)}':>10}"
          f"{change:>+11.1%}  {bound:.0%}{'  OVER BOUND' if over else ''}")
PY
