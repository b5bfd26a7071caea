#!/bin/bash
# sf30 -> sf60 FIFTH half-decade check for the two pair-surface dedup
# ops (round-13 verdict item 6): q_containment was the steepest grower
# in the sf30 family table (4.11x for 3x data — 4-gram posting lists
# grow df^2 prefix work faster than n) and q_dedup_keep_best the other
# pair-surface op (3.44x). This audit re-measures BOTH at sf30 and sf60
# in one session, on corpora generated under the SAME (round-14,
# full-vocabulary zipfWord) law, so the ratio is clean within-law even
# though the committed r13 sf30 table was generated pre-fix.
#
# Prereqs: `sbt -batch compile`; the subset corpora:
#   tools/graft_java.sh graft.GenScale /root/testdata/sf0.1 /tmp/graft_sf30 300 documents,embeddings,customer
#   tools/graft_java.sh graft.GenScale /root/testdata/sf0.1 /tmp/graft_sf60 600 documents,embeddings,customer
#
# Produces /tmp/bench_sf30_pair.json, /tmp/bench_sf60_pair.json and the
# scaling table (data ratio 2, flag bar 3.0x).
set -e
cd "$(dirname "$0")/.."

QS="q_containment,q_dedup_keep_best"

export SPARK_LOCAL_DIRS=/tmp/graft_spark_scratch

for SF in sf30 sf60; do
  rm -rf "$SPARK_LOCAL_DIRS"; mkdir -p "$SPARK_LOCAL_DIRS"
  echo "== pair-surface bench at $SF =="
  SPARK_GRAFT_SF_DIR=/tmp/graft_$SF SPARK_GRAFT_CPUS=32 \
    SPARK_DRIVER_MEM=16g GRAFT_PRETOUCH=1 \
    SPARK_GRAFT_BENCH_DETAIL=/tmp/bench_${SF}_pair.json \
    tools/graft_java.sh graft.Bench "$QS" > /tmp/bench_${SF}_pair.log 2>&1
  grep "BENCHFAIL" /tmp/bench_${SF}_pair.log || true
  tail -1 /tmp/bench_${SF}_pair.json
done
rm -rf "$SPARK_LOCAL_DIRS"

echo "== scaling audit sf30 -> sf60 (2x data, flag bar 3.0x) =="
python3 tools/scaling_audit.py /tmp/bench_sf30_pair.json /tmp/bench_sf60_pair.json 2 \
  | tee /tmp/scaling_sf60.txt
