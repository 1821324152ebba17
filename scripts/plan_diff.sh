#!/usr/bin/env bash
# Plan A/B: the executed (post-AQE) physical plans of declared queries
# at an OLD revision and at the working tree, normalized and diffed.
# Both jars are built as scripts/ab_bench.sh builds them (a `git
# archive` export of <old-rev>, and the working tree), and each runs
# graft.ExplainQuery on the same corpus and session settings.
#
# usage: scripts/plan_diff.sh <old-rev> <query[,query...]> [sf_dir]
# Without sf_dir, ExplainQuery reads its own default corpus (sf0.01).
# SPARK_GRAFT_CPUS sizes both sessions (default: nproc cores).
#
# Normalization drops what names a plan's run rather than the plan:
# expression ids (`#12`), exchange ids (`plan_id=78`), AQE query-stage
# numbers (`ShuffleQueryStage 3`, and the `Arguments: 3` line under a
# formatted stage) and whole-stage codegen ids (`*(5)`, `[codegen id :
# 5]`). AQE numbers stages and codegen stages in the order they
# materialize, so one plan can print either way from run to run.
#
# output: a unified diff of the normalized plans (OLD then NEW) for
# every query; exit 0 when it is empty, 1 when the plans differ, and
# 2 when a build or run fails.
set -euo pipefail
REV=$1
QUERY=$2
SF=()
if [ -n "${3:-}" ]; then SF=("$(cd "$3" && pwd)"); fi
CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}
REPO=$(git rev-parse --show-toplevel)
WT=$(mktemp -d "${TMPDIR:-/tmp}/plan_wt.XXXXXX")
OUT=$(mktemp -d "${TMPDIR:-/tmp}/plan_out.XXXXXX")
trap 'rm -rf "$WT" "$OUT"' EXIT
git -C "$REPO" archive "$REV" | tar -x -C "$WT"

for arm in old new; do
  dir=$WT; [ "$arm" = new ] && dir=$REPO
  echo "plan_diff: building $arm jar ..." >&2
  if ! (cd "$dir" && sbt -batch package >"$OUT/$arm.build" 2>&1); then
    tail -20 "$OUT/$arm.build" >&2; exit 2
  fi
  echo "plan_diff: explaining $QUERY on $arm ..." >&2
  if ! (cd "$dir" && SPARK_GRAFT_CPUS=$CPUS \
      sbt -batch "runMain graft.ExplainQuery $QUERY ${SF[*]}" \
      >"$OUT/$arm.raw" 2>"$OUT/$arm.err"); then
    tail -20 "$OUT/$arm.err" >&2; exit 2
  fi
  # keep only the plans (from the first =====PLAN marker on, no sbt lines)
  sed -n '/^=====PLAN /,$p' "$OUT/$arm.raw" | sed -E \
    -e '/^\[(success|info|warn|error)\]/d' \
    -e 's/#[0-9]+/#/g' \
    -e 's/plan_id=[0-9]+/plan_id=/g' \
    -e 's/(QueryStage) [0-9]+/\1 N/g' \
    -e 's/\*\([0-9]+\)/*(N)/g' \
    -e 's/\[codegen id : [0-9]+\]/[codegen id : N]/g' \
    | awk '/^\([0-9]+\) [A-Za-z]*QueryStage/ { stage = 1 }
           stage && /^Arguments: [0-9]+$/ { $0 = "Arguments: N"; stage = 0 }
           /^$/ { stage = 0 }
           { print }' >"$OUT/$arm.plan"
done

echo "plan_diff: old=$REV query=$QUERY sf_dir=${SF[*]:-default} cpus=$CPUS"
if diff -u --label "old ($REV)" --label "new (working tree)" \
    "$OUT/old.plan" "$OUT/new.plan"; then
  echo "plan_diff: no difference"
else
  exit 1
fi
