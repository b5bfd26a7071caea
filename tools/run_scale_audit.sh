#!/bin/bash
# Scale audit: bench a query set at one or two scale-factor dirs,
# optionally verify it against the DuckDB oracle, and print the scaling
# table (tools/scaling_audit.py) against a baseline map.
#
# Usage: tools/run_scale_audit.sh [options] SF_DIR [SF_DIR2]
#   -q LIST    comma list of queries to bench (default: the full suite)
#   -n N:MAP   bench the N slowest queries of a prior bench map MAP
#   -i LIST    of the benched queries, run these each in their own JVM
#              (a query whose spill can fill the disk must not take the
#              rest of the suite down with it); the maps are merged
#   -m HEAP    JVM heap (SPARK_DRIVER_MEM), pinned and pre-touched
#              (GRAFT_PRETOUCH=1, see tools/graft_java.sh); default 8g lazy
#   -v SKIPS   also run Verify + tools/compare_oracle.py on the LAST sf
#              dir over the benched queries; SKIPS is the comma list of
#              queries whose oracle is impractical at that SF ('' = none)
#   -b MAP     baseline bench map for the scaling table (with two sf
#              dirs the first dir's map is the baseline instead)
#   -r RATIO   data ratio between baseline and audited SF (scaling table
#              is printed only when this is set)
#   -o OUT     output dir (default /tmp/graft_audit)
#
# Prereq: `sbt -batch compile` (runs via tools/graft_java.sh, which does
# not compile) and the sf dirs, e.g. GenScale output scaled up from the
# sf0.1 test data:
#   tools/graft_java.sh graft.GenScale <testdata>/sf0.1 /tmp/graft_sf1 10
#   tools/graft_java.sh graft.GenScale <testdata>/sf0.1 /tmp/graft_sf10 100
#   tools/graft_java.sh graft.GenScale <testdata>/sf0.1 /tmp/graft_sf30 300 documents,embeddings,customer
#
# Produces, per sf dir named <sf>: OUT/bench_<sf>.json (the per-query
# map) and OUT/bench_<sf>.log; with -v, OUT/verify_<sf>/ (parquet dumps),
# OUT/oracle_<sf>.txt and OUT/CORRECTNESS_<sf>.md (copy it to the repo
# root to commit it). Every JVM run gets a fresh OUT/spark_scratch.
# SPARK_GRAFT_CPUS passes through (default: all cores).
#
# The standing audits, as invocations:
#   sf0.1 -> sf1, full suite + oracle (allpairs' oracle spills past the
#   disk at sf1; its Spark side stays hash-gated at sf0.01):
#     SPARK_GRAFT_CPUS=32 tools/run_scale_audit.sh -v q_allpairs_jaccard \
#       -b bench_detail_r09.json -r 10 -o /tmp/audit_sf1 /tmp/graft_sf1
#   sf1 -> sf10, the slowest 30 of the sf1 map, allpairs isolated:
#     SPARK_GRAFT_CPUS=32 tools/run_scale_audit.sh \
#       -n 30:/tmp/audit_sf1/bench_graft_sf1.json -i q_allpairs_jaccard -m 16g \
#       -b /tmp/audit_sf1/bench_graft_sf1.json -r 10 -o /tmp/audit_sf10 /tmp/graft_sf10
#   sf10 -> sf30, dedup family against the committed sf10 map:
#     SPARK_GRAFT_CPUS=32 tools/run_scale_audit.sh -m 16g \
#       -q q_er_clusters,q_dup_triangles,q_minhash_recall,q_dedup_clusters,q_fuzzy_match,q_cluster_size_hist \
#       -b bench_detail_sf10_r14.json -r 3 -o /tmp/audit_sf30 /tmp/graft_sf30
#   sf30 -> sf60, the two pair-surface ops in one session:
#     SPARK_GRAFT_CPUS=32 tools/run_scale_audit.sh -m 16g \
#       -q q_containment,q_dedup_keep_best -r 2 -o /tmp/audit_sf60 /tmp/graft_sf30 /tmp/graft_sf60
#   sf60 -> sf100 containment at a 32g heap (growth exponent =
#   log(time ratio) / log(100/60)):
#     SPARK_GRAFT_CPUS=32 tools/run_scale_audit.sh -m 32g -q q_containment \
#       -r 1.667 -o /tmp/audit_sf100 /tmp/graft_sf60 /tmp/graft_sf100
set -e
cd "$(dirname "$0")/.."

QUERIES="" SLOWEST="" ISOLATE="" HEAP="" VERIFY=0 SKIPS="" BASE="" RATIO=""
OUT=/tmp/graft_audit
while getopts "q:n:i:m:v:b:r:o:" opt; do
  case $opt in
    q) QUERIES=$OPTARG ;;
    n) SLOWEST=$OPTARG ;;
    i) ISOLATE=$OPTARG ;;
    m) HEAP=$OPTARG ;;
    v) VERIFY=1 SKIPS=$OPTARG ;;
    b) BASE=$OPTARG ;;
    r) RATIO=$OPTARG ;;
    o) OUT=$OPTARG ;;
    *) sed -n '2,22p' "$0"; exit 2 ;;
  esac
done
shift $((OPTIND - 1))
if [ $# -lt 1 ] || [ $# -gt 2 ] || { [ -n "$QUERIES" ] && [ -n "$SLOWEST" ]; }; then
  sed -n '2,22p' "$0"; exit 2
fi
mkdir -p "$OUT"

if [ -n "$SLOWEST" ]; then
  QUERIES=$(python3 - "${SLOWEST%%:*}" "${SLOWEST#*:}" <<'EOF'
import json, sys
qs = json.load(open(sys.argv[2]))['queries']
print(','.join(sorted(qs, key=lambda k: -qs[k])[:int(sys.argv[1])]))
EOF
)
fi
# the isolated queries leave the main run; with no query list the main
# run is the full suite, which cannot exclude them
MAIN=$(python3 -c 'import sys; i = set(filter(None, sys.argv[2].split(",")))
print(",".join(q for q in sys.argv[1].split(",") if q and q not in i))' "$QUERIES" "$ISOLATE")
if [ -n "$ISOLATE" ] && [ -z "$QUERIES" ]; then
  echo "-i needs -q or -n" >&2; exit 2
fi

export SPARK_LOCAL_DIRS="$OUT/spark_scratch"
if [ -n "$HEAP" ]; then export SPARK_DRIVER_MEM="$HEAP" GRAFT_PRETOUCH=1; fi

# bench one query list (empty = full suite) at one sf dir into one map
bench() { # sf_dir map log [queries]
  rm -rf "$SPARK_LOCAL_DIRS"; mkdir -p "$SPARK_LOCAL_DIRS"
  SPARK_GRAFT_SF_DIR="$1" SPARK_GRAFT_BENCH_DETAIL="$2" \
    tools/graft_java.sh graft.Bench ${4:+"$4"} > "$3" 2>&1 || true
  grep "BENCHFAIL" "$3" || true
  echo "[$(basename "$1")] eviction/spill log lines: $(grep -c "MemoryStore.*evict\|spill" "$3" || true)"
}

MAPS=()
for SF in "$@"; do
  NAME=$(basename "$SF")
  MAP="$OUT/bench_$NAME.json"
  echo "== bench at $NAME: ${QUERIES:-full suite} =="
  if [ -n "$MAIN" ] || [ -z "$QUERIES" ]; then
    bench "$SF" "$MAP" "$OUT/bench_$NAME.log" "$MAIN"
  else
    echo '{"queries":{}}' > "$MAP"
  fi
  for Q in ${ISOLATE//,/ }; do
    echo "== bench at $NAME: $Q (isolated) =="
    bench "$SF" "$OUT/bench_${NAME}_$Q.json" "$OUT/bench_${NAME}_$Q.log" "$Q"
    python3 - "$MAP" "$OUT/bench_${NAME}_$Q.json" <<'EOF'
import json, sys
main = json.load(open(sys.argv[1]))
try:
    main['queries'].update(json.load(open(sys.argv[2]))['queries'])
except Exception as e:
    print(f'isolated merge skipped: {e}')
main['value'] = round(sum(t for t in main['queries'].values() if t > 0), 3)
json.dump(main, open(sys.argv[1], 'w'))
EOF
  done
  rm -rf "$SPARK_LOCAL_DIRS"
  tail -1 "$MAP"; echo
  MAPS+=("$MAP")
done

if [ "$VERIFY" = 1 ]; then
  echo "== verify at $NAME =="
  DUMP="$OUT/verify_$NAME"
  rm -rf "$SPARK_LOCAL_DIRS"; mkdir -p "$SPARK_LOCAL_DIRS"
  tools/graft_java.sh graft.Verify "$SF" "$DUMP" ${QUERIES:+"$QUERIES"} \
    > "$OUT/verify_$NAME.log" 2>&1 || true
  rm -rf "$SPARK_LOCAL_DIRS"
  grep "\[verify\]" "$OUT/verify_$NAME.log" | tail -1
  # the zero-rows tripwire prints to stderr; surface it here too
  grep "ZERO-ROWS" "$OUT/verify_$NAME.log" || true
  if [ -n "$QUERIES" ]; then
    # Verify writes every oracle; gate only the queries it dumped
    python3 - "$DUMP/oracle_sql.json" "$QUERIES" <<'EOF'
import json, sys
keep = set(sys.argv[2].split(','))
o = json.load(open(sys.argv[1]))
json.dump({k: v for k, v in o.items() if k in keep}, open(sys.argv[1], 'w'))
EOF
  fi
  echo "== oracle compare at $NAME =="
  GRAFT_ORACLE_SKIP="$SKIPS" GRAFT_ORACLE_ALLOW_SKIP=1 \
    python3 tools/compare_oracle.py "$SF" "$DUMP" > "$OUT/oracle_$NAME.txt" || true
  tail -1 "$OUT/oracle_$NAME.txt"
  python3 - "$OUT/oracle_$NAME.txt" "$OUT/CORRECTNESS_$NAME.md" "$SF" "$SKIPS" <<'EOF'
import sys
lines = open(sys.argv[1]).read().splitlines()
with open(sys.argv[2], 'w') as f:
    f.write(f"# CORRECTNESS at {sys.argv[3]} (DuckDB oracle compare)\n\n")
    f.write("Produced by `tools/run_scale_audit.sh -v`. Every line is the\n")
    f.write("oracle verdict for one audited query; skipped oracles "
            f"({sys.argv[4] or 'none'}) are documented in the script header.\n\n```\n")
    f.write("\n".join(lines))
    f.write("\n```\n")
EOF
fi

if [ -n "$RATIO" ]; then
  if [ ${#MAPS[@]} = 2 ]; then BASE="${MAPS[0]}"; fi
  if [ -z "$BASE" ]; then echo "-r needs -b or two sf dirs" >&2; exit 2; fi
  echo "== scaling audit $(basename "$BASE") -> $(basename "${MAPS[-1]}") (${RATIO}x data) =="
  python3 tools/scaling_audit.py "$BASE" "${MAPS[-1]}" "$RATIO" \
    | tee "$OUT/scaling_$NAME.txt" || true
fi
