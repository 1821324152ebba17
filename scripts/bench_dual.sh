#!/usr/bin/env bash
# Paired-scale bench: one command, two committed artifacts.
#
# Runs graft.Bench twice in one session — the declared sf0.1 corpus and
# the GenBig 10x replica (tmp_sf1, built by `sbt "runMain graft.GenBig"`
# if absent) — and writes each one-line JSON to BENCH_local_sfX.json /
# BENCH_local_sf1.json. The pair is the scaling-exponent table every
# round should ship: sublinear total growth is the 100 TB argument, and
# a plan that breaks under AQE re-planning at 10x shows up here first.
set -euo pipefail
cd "$(dirname "$0")/.."
. scripts/jdk_opens.sh

JAR=target/scala-2.13/lms_erp_data_integrationspark_2.13-0.1.0.jar
CP="$JAR:/opt/spark/jars/*"

[ -f "$JAR" ] || sbt -batch package
[ -d tmp_sf1/orders.parquet ] || \
  java -Xmx"$SPARK_DRIVER_MEM" $JDK_OPENS -cp "$CP" graft.GenBig

run_one() { # $1 = sf dir, $2 = artifact path
  # NOTE: no `head` inside the pipeline — closing the pipe early
  # SIGPIPEs the java side under pipefail and aborts the script
  SPARK_GRAFT_SF_DIR="$1" \
    java -Xmx"$SPARK_DRIVER_MEM" $JDK_OPENS -cp "$CP" graft.Bench 2>/dev/null \
    | grep '"metric"' > "$2".all
  head -1 "$2".all > "$2" && rm -f "$2".all
  echo "== $1 -> $2"
  python3 - "$2" <<'PY'
import json, sys
d = json.load(open(sys.argv[1]))
print(f"total {d['value']}s over {len(d['queries'])} queries, "
      f"failed={d['failed']}, streaming_cold={d.get('streaming_cold')}")
PY
}

run_one "${SPARK_GRAFT_SF01:-/root/testdata/sf0.1}" BENCH_local_sf01.json
run_one tmp_sf1 BENCH_local_sf1.json
# third leg: the organic 10x corpus (GenOrganic), when present — the
# corpus where the guards' organic-regime decisions are live.
# (if/fi, not `&&`: as the script's last command a false guard would
# make the whole bench exit 1 under `set -e` even with both legs green)
if [ -d tmp_sf1_organic/orders.parquet ]; then
  run_one tmp_sf1_organic BENCH_sf1_organic.json
fi
