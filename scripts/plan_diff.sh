#!/usr/bin/env bash
# Plan A/B: every SQL execution that declared queries run (eager
# checkpoints and probes too, not only the final write), at an OLD
# revision and at the working tree, diffed. Both jars are built as
# scripts/ab_bench.sh builds them (a `git archive` export of <old-rev>,
# and the working tree), and each runs graft.ExplainQuery on the same
# corpus and session settings. ExplainQuery prints each query's
# `plan_fp` and scans, then each execution's call site, scans and final
# plan, normalized by graft.Layers.normalize (no expression ids,
# plan_ids, AQE stage numbers or sizes, codegen ids, RDD ids or paths),
# so its output is diffed as it is.
#
# usage: scripts/plan_diff.sh <old-rev> <query[,query...]> [sf_dir]
# <old-rev> must contain the ExplainQuery that prints normalized plans
# (`=====QUERY` headers); an older revision exits 2. Without sf_dir,
# ExplainQuery reads its own default corpus (sf0.01). SPARK_GRAFT_CPUS
# sizes both sessions (default: nproc cores).
#
# output: a unified diff of the plans (OLD then NEW) for every query;
# exit 0 when it is empty, 1 when the plans differ, and 2 when a build
# or run fails.
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
  # the run's own output, without sbt's log lines
  grep -Ev '^\[(success|info|warn|error)\]' "$OUT/$arm.raw" >"$OUT/$arm.plan" || true
  if ! grep -q '^=====QUERY ' "$OUT/$arm.plan"; then
    echo "plan_diff: $arm printed no =====QUERY header (a revision before the normalized ExplainQuery?)" >&2
    exit 2
  fi
done

echo "plan_diff: old=$REV query=$QUERY sf_dir=${SF[*]:-default} cpus=$CPUS"
if diff -u --label "old ($REV)" --label "new (working tree)" \
    "$OUT/old.plan" "$OUT/new.plan"; then
  echo "plan_diff: no difference"
else
  exit 1
fi
