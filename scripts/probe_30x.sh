#!/usr/bin/env bash
# Scaling probe (round-14 task): run ONLY the guard-bearing dominator
# queries at the 10x and 30x organic corpora with guard capture on, and
# commit one PROBE artifact carrying times + the guard decisions at both
# scales. The point is to OBSERVE the regime flips (array-verify ->
# shuffle-verify, broadcast -> shuffle vector fetch, packed -> struct
# argmax) actually fire where the guards predict, and to read the
# empirical scaling exponent between 10x and 30x. No correctness gate
# here — the organic corpora are generator-defined (see GenOrganic).
#
# usage: scripts/probe_30x.sh [out_json]  (default PROBE_30x.json)
# PROBE_QUERIES overrides the query list (comma-separated).
set -euo pipefail
cd "$(dirname "$0")/.."
. scripts/jdk_opens.sh
OUT=${1:-PROBE_30x.json}
QUERIES=${PROBE_QUERIES:-dedup_containment,embed_near_dup,er_clusters,communities_lpa}
JAR=target/scala-2.13/lms_erp_data_integrationspark_2.13-0.1.0.jar

run_scale() { # $1 = sf dir
  SPARK_GRAFT_SF_DIR="$1" SPARK_GRAFT_ONLY="$QUERIES" \
    java -Xmx"$SPARK_DRIVER_MEM" $JDK_OPENS -cp "$JAR:/opt/spark/jars/*" graft.Bench 2>/dev/null \
    | grep -m1 '"metric"'
}

echo "probe: 10x (tmp_sf1_organic) ..." >&2
TEN=$(run_scale tmp_sf1_organic)
echo "probe: 30x (tmp_sf3_organic) ..." >&2
THIRTY=$(run_scale tmp_sf3_organic)

P10="$TEN" P30="$THIRTY" python3 - "$OUT" <<'PY'
import json, os, sys
ten, thirty = json.loads(os.environ["P10"]), json.loads(os.environ["P30"])
out = {"queries": {}, "note":
       "min-of-samples seconds at the 10x and 30x ORGANIC corpora; "
       "exponent = log(t30/t10)/log(3); guards = physical regime taken"}
for q in sorted(ten["queries"]):
    t10, t30 = ten["queries"][q], thirty["queries"][q]
    import math
    out["queries"][q] = {
        "sec_10x": t10, "sec_30x": t30,
        "exponent": round(math.log(t30 / t10) / math.log(3), 2)
            if t10 and t30 else None,
        "guards_10x": ten.get("guards", {}).get(q, {}),
        "guards_30x": thirty.get("guards", {}).get(q, {}),
    }
json.dump(out, open(sys.argv[1], "w"), indent=1)
print(json.dumps(out, indent=1))
PY
