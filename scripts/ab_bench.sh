#!/usr/bin/env bash
# Host-drift A/B protocol (the round-12 verdict's task 2, now a script
# instead of narrative): bench one query at an OLD revision and at the
# working tree under the SAME host conditions, interleaved A B A B so
# one-sided host stalls hit both arms equally. This is the only valid
# way to conclude a regression/improvement on this shared VM — totals
# across sessions drift ±10-15%.
#
# usage: scripts/ab_bench.sh <query[,query...]> <old-rev> [sf_dir] [rounds]
# Without sf_dir, Bench reads SPARK_GRAFT_SF_DIR or its own default
# corpus (sf0.1). SPARK_GRAFT_CPUS / SPARK_DRIVER_MEM size both arms
# (scripts/jdk_opens.sh's host-sizing rule).
# output: one line per run and query (arm, round, per-query seconds =
# min of the bench unit's samples, then the headline sample's plan_fp
# and Spark jobs in total and per call site from Bench's `layers`).
# After the rounds, per query and arm: the min-max across rounds of
# those job counts, in total and per call site, so a job that AQE
# submits in some runs and not others reads as spread, not as a change;
# then per query `plan changed` when the OLD and NEW plan_fp sets
# differ, else `plan unchanged` (an OLD revision whose Bench has no
# plan_fp reads `plan_fp n/a`). Paste the output into the round notes /
# an AB_*.md artifact.
set -euo pipefail
QUERY=$1
REV=$2
if [ -n "${3:-}" ]; then export SPARK_GRAFT_SF_DIR=$(cd "$3" && pwd); fi
ROUNDS=${4:-2}
. "$(dirname "$0")/jdk_opens.sh"
REPO=$(git rev-parse --show-toplevel)
# The OLD arm is a plain export of <old-rev> (no worktree bookkeeping
# in the repo); TMPDIR picks where it lands.
WT=$(mktemp -d "${TMPDIR:-/tmp}/ab_wt.XXXXXX")
JOBS=$(mktemp "${TMPDIR:-/tmp}/ab_jobs.XXXXXX")
trap 'rm -rf "$WT" "$JOBS"' EXIT
git -C "$REPO" archive "$REV" | tar -x -C "$WT"

echo "ab_bench: building old jar at $REV ..." >&2
(cd "$WT" && sbt -batch package >/dev/null 2>&1)
echo "ab_bench: building working-tree jar ..." >&2
(cd "$REPO" && sbt -batch package >/dev/null 2>&1)

run_arm() { # $1 = dir, $2 = label, $3 = round
  local out
  out=$(cd "$1" && SPARK_GRAFT_ONLY="$QUERY" \
    sbt -batch "runMain graft.Bench" 2>/dev/null | grep -m1 '"metric"')
  AB_OUT="$out" python3 - "$2" "$3" "$QUERY" "$JOBS" <<'PY'
import json, os, sys
label, rnd = sys.argv[1], sys.argv[2]
d = json.loads(os.environ["AB_OUT"])
runs = open(sys.argv[4], "a")
for q in sys.argv[3].split(","):
    samples = d.get("samples", {}).get(q) or [d["queries"][q]]
    guard = d.get("guards", {}).get(q)
    print(f"{label} round {rnd}: {q} = {min(samples):.2f} s  (samples {samples})"
          + (f"  guard: {guard}" if guard else ""))
    lay = d.get("layers", {}).get(q)
    if lay:
        sites = sorted(lay["sites"].items(), key=lambda kv: kv[0])
        print(f"  plan_fp {lay.get('plan_fp', 'n/a')} jobs {lay['jobs']}: " + ", ".join(
            f"{site} x{v['jobs']}" for site, v in sites))
        runs.write(json.dumps({"arm": label, "query": q, "jobs": lay["jobs"],
            "plan_fp": lay.get("plan_fp"),
            "sites": {k: v["jobs"] for k, v in sites}}) + "\n")
PY
}

echo "query=$QUERY old=$REV sf_dir=${SPARK_GRAFT_SF_DIR:-default} rounds=$ROUNDS cpus=$SPARK_GRAFT_CPUS mem=$SPARK_DRIVER_MEM"
for r in $(seq 1 "$ROUNDS"); do
  run_arm "$WT" "OLD" "$r"
  run_arm "$REPO" "NEW" "$r"
done

echo "headline jobs, min-max over $ROUNDS rounds:"
python3 - "$JOBS" "$QUERY" <<'PY'
import json, sys
runs = [json.loads(l) for l in open(sys.argv[1])]
span = lambda xs: f"{min(xs)}" if min(xs) == max(xs) else f"{min(xs)}-{max(xs)}"
for q in sys.argv[2].split(","):
    for arm in ("OLD", "NEW"):
        rs = [r for r in runs if r["query"] == q and r["arm"] == arm]
        if not rs:
            continue
        sites = sorted({s for r in rs for s in r["sites"]})
        print(f"{arm} {q}: jobs {span([r['jobs'] for r in rs])}: " + ", ".join(
            f"{s} x{span([r['sites'].get(s, 0) for r in rs])}" for s in sites))
    fps = {arm: {r["plan_fp"] for r in runs if r["query"] == q and r["arm"] == arm}
           for arm in ("OLD", "NEW")}
    if None in fps["OLD"] | fps["NEW"] or not fps["OLD"] or not fps["NEW"]:
        print(f"{q}: plan_fp n/a")
    else:
        moved = "changed" if fps["OLD"] != fps["NEW"] else "unchanged"
        print(f"{q}: plan {moved} (OLD {' '.join(sorted(fps['OLD']))}, "
              f"NEW {' '.join(sorted(fps['NEW']))})")
PY
