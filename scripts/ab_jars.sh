#!/usr/bin/env bash
# Interleaved A/B between two PREBUILT jars (round 16): same protocol as
# ab_bench.sh (one query, OLD/NEW arms alternated so host stalls hit
# both) but without the worktree/sbt rebuild — the arms are jar paths,
# so a single session can A/B at any corpus (incl. the 100x organic one)
# with one JVM per leg, the only layout the shared host measures fairly.
#
# usage: scripts/ab_jars.sh <query> <old_jar> <new_jar> [sf_dir] [rounds]
# Without sf_dir, Bench reads SPARK_GRAFT_SF_DIR or its own default
# corpus (sf0.1). SPARK_GRAFT_CPUS / SPARK_DRIVER_MEM size both arms
# (scripts/jdk_opens.sh's host-sizing rule).
set -euo pipefail
cd "$(dirname "$0")/.."
. scripts/jdk_opens.sh
QUERY=$1; OLDJAR=$2; NEWJAR=$3
if [ -n "${4:-}" ]; then export SPARK_GRAFT_SF_DIR=$4; fi
ROUNDS=${5:-2}

run_arm() { # $1 = jar, $2 = label, $3 = round
  local out
  out=$(SPARK_GRAFT_ONLY="$QUERY" \
    java -Xmx"$SPARK_DRIVER_MEM" $JDK_OPENS -cp "$1:/opt/spark/jars/*" graft.Bench \
    2>/dev/null | grep -m1 '"metric"')
  AB_OUT="$out" python3 - "$2" "$3" "$QUERY" <<'PY'
import json, os, sys
label, rnd, q = sys.argv[1], sys.argv[2], sys.argv[3]
d = json.loads(os.environ["AB_OUT"])
samples = d.get("samples", {}).get(q) or [d["queries"][q]]
print(f"{label} round {rnd}: {q} = {min(samples):.2f} s  (samples {samples})"
      + (f"  posture: {d['posture']}" if d.get("posture") else ""))
PY
}

echo "query=$QUERY sf_dir=${SPARK_GRAFT_SF_DIR:-default} rounds=$ROUNDS old=$OLDJAR new=$NEWJAR"
for r in $(seq 1 "$ROUNDS"); do
  run_arm "$OLDJAR" "OLD" "$r"
  run_arm "$NEWJAR" "NEW" "$r"
done
