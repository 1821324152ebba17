#!/usr/bin/env bash
# Full-decade scaling probe (round-15): run the ten dominator queries at
# the 10x, 30x and 100x ORGANIC corpora in ONE session (same host state,
# so the cross-scale ratios are not polluted by day-to-day drift) and
# commit a single artifact carrying per-scale seconds, pairwise
# exponents, and the log-log least-squares fit across the decade. This
# extends the round-14 10x→30x scaling law by another half-decade: a
# query whose cost curve is quietly super-linear past the 30x regime
# boundaries (embed bits 13→14, semdedup k 256→512, containment
# nRep≈470k) shows up here and nowhere else.
#
# Each (query, scale) runs in ITS OWN JVM: the first 100x sweep ran all
# ten queries through one shared session and measured predecessors'
# lingering state instead of the queries (dedup_survivorship 84.7 s
# ninth in the shared JVM vs 13.2 s isolated) — per-query isolation
# makes the exponents attributable to the operator alone.
#
# usage: scripts/probe_scaling.sh [out_json]   (default PROBE_100x.json)
# PROBE_QUERIES / PROBE_SCALES override the query and corpus lists.
set -euo pipefail
cd "$(dirname "$0")/.."
. scripts/jdk_opens.sh
OUT=${1:-PROBE_100x.json}
QUERIES=${PROBE_QUERIES:-dedup_containment,embed_near_dup,er_clusters,communities_lpa,semdedup_prune,golden_record_merge,bfs_layers,curate_corpus,dedup_survivorship,split_leakage_safe}
SCALES=${PROBE_SCALES:-10:tmp_sf1_organic,30:tmp_sf3_organic,100:tmp_sf10_organic}
JAR=target/scala-2.13/lms_erp_data_integrationspark_2.13-0.1.0.jar

run_one() { # $1 = sf dir, $2 = single query name
  SPARK_GRAFT_SF_DIR="$1" SPARK_GRAFT_ONLY="$2" \
    java -Xmx"$SPARK_DRIVER_MEM" $JDK_OPENS -cp "$JAR:/opt/spark/jars/*" graft.Bench 2>/dev/null \
    | grep -m1 '"metric"'
}

RESULTS="{"
sfirst=1
for pair in ${SCALES//,/ }; do
  mult="${pair%%:*}"; dir="${pair#*:}"
  [ $sfirst -eq 1 ] || RESULTS+=" ,"
  sfirst=0
  RESULTS+="\"$mult\": ["
  qfirst=1
  for q in ${QUERIES//,/ }; do
    echo "probe: ${mult}x ($dir) $q ..." >&2
    leg=$(run_one "$dir" "$q")
    [ $qfirst -eq 1 ] || RESULTS+=" ,"
    qfirst=0
    RESULTS+="$leg"
  done
  RESULTS+="]"
done
RESULTS+="}"

LEGS="$RESULTS" python3 - "$OUT" <<'PY'
import json, math, os, sys
raw = json.loads(os.environ["LEGS"])
legs = {}
for m, units in raw.items():
    q, g = {}, {}
    for u in units:
        q.update(u["queries"])
        g.update(u.get("guards", {}))
    legs[int(m)] = {"queries": q, "guards": g}
mults = sorted(legs)
out = {"scales": mults, "queries": {}, "note":
       "min-of-samples seconds at the 10x/30x/100x ORGANIC corpora, one "
       "host session, ONE JVM PER (query, scale); exponent_fit = log-log "
       "least-squares slope across all scales; guards = physical regime "
       "taken at each scale"}
for q in sorted(legs[mults[0]]["queries"]):
    ent = {}
    xs, ys = [], []
    for m in mults:
        t = legs[m]["queries"].get(q)
        ent[f"sec_{m}x"] = t
        if t:
            xs.append(math.log(m)); ys.append(math.log(t))
    for a, b in zip(mults, mults[1:]):
        ta, tb = legs[a]["queries"].get(q), legs[b]["queries"].get(q)
        if ta and tb:
            ent[f"exponent_{a}_{b}"] = round(
                math.log(tb / ta) / math.log(b / a), 2)
    if len(xs) >= 2:
        n = len(xs); mx = sum(xs)/n; my = sum(ys)/n
        ent["exponent_fit"] = round(
            sum((x-mx)*(y-my) for x, y in zip(xs, ys)) /
            sum((x-mx)**2 for x in xs), 2)
    out["queries"][q] = ent
out["guards"] = {f"{m}x": legs[m]["guards"] for m in mults}
json.dump(out, open(sys.argv[1], "w"), indent=1)
print(json.dumps(out, indent=1))
PY
