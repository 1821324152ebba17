#!/usr/bin/env bash
# 30x ORGANIC correctness gate (round-15 task 1): hash-verify the
# guard-bearing dominator families against the DuckDB oracle at the 30x
# organic corpus (tmp_sf3_organic, GenOrganic arg 30) — the scale where
# the round-14 adaptive regimes actually differ from the 10x gates
# (embed bits=13 vs 11, semdedup k=256 vs 64, containment nRep≈141k).
# The bench probe (probe_30x.sh) measures times; THIS verifies results.
# The artifact carries the per-query Guard regimes the verified run
# exercised (guards.json from graft.Verify), so "the 30x regime was the
# one checked" is part of the committed evidence.
#
# usage: scripts/gate_30x.sh [verify_out_dir]   (default /tmp/verify_sf3)
# GATE30_QUERIES / GATE30_SF_DIR / GATE30_OUT_JSON override defaults.
set -euo pipefail
cd "$(dirname "$0")/.."
. scripts/jdk_opens.sh

QUERIES=${GATE30_QUERIES:-embed_near_dup,semdedup_prune,dedup_containment,communities_lpa,er_clusters,golden_record_merge}
SF_DIR=${GATE30_SF_DIR:-tmp_sf3_organic}
OUT_JSON=${GATE30_OUT_JSON:-CORRECTNESS_30x.json}
OUT=${1:-/tmp/verify_sf3}
JAR=target/scala-2.13/lms_erp_data_integrationspark_2.13-0.1.0.jar

rm -rf "$OUT"
SPARK_GRAFT_ONLY="$QUERIES" \
  java -Xmx"$SPARK_DRIVER_MEM" $JDK_OPENS -cp "$JAR:/opt/spark/jars/*" graft.Verify "$SF_DIR" "$OUT"
python3 scripts/check_oracle.py "$SF_DIR" "$OUT" "$OUT_JSON"
# Fold the guard regimes into the committed artifact.
python3 - "$OUT_JSON" "$OUT/guards.json" "$SF_DIR" <<'PY'
import json, sys
art = json.load(open(sys.argv[1]))
guards = json.load(open(sys.argv[2]))
out = {"sf_dir": sys.argv[3], "queries": art, "guards": guards,
       "note": ("hash-verified vs the DuckDB oracle at the 30x ORGANIC "
                "corpus; guards = physical regime each verified query "
                "exercised (the adaptive 30x regimes, not sf0.01's)")}
json.dump(out, open(sys.argv[1], "w"), indent=1, sort_keys=True)
print(f"wrote {sys.argv[1]}")
PY
