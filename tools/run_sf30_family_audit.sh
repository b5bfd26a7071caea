#!/bin/bash
# Round-15 verdict item 4: re-commit the sf30 dedup-family table under
# the round-14 full-vocabulary corpus law. The committed r13 sf30 family
# table is an OLD-LAW record; round 14 re-measured only the two
# pair-surface ops (containment, keep_best) at new-law sf30. This audit
# measures the remaining five family queries (plus cluster_size_hist,
# named in the verdict) at new-law sf30 so every future cross-round
# scale comparison has a same-law baseline, and computes the sf10→sf30
# scaling table against the committed new-law sf10 sweep.
#
# Prereqs: `sbt -batch compile`; /tmp/graft_sf30 (new-law subset corpus);
# bench_detail_sf10_r14.json committed (new-law sf10 slowest-30 map).
#
# Produces /tmp/bench_sf30_family.json + the scaling table (data ratio
# 3, flag bar matches the sf10 audit's 1.5x-of-linear rule).
set -e
cd "$(dirname "$0")/.."

QS="q_er_clusters,q_dup_triangles,q_minhash_recall,q_dedup_clusters,q_fuzzy_match,q_cluster_size_hist"

export SPARK_LOCAL_DIRS=/tmp/graft_spark_scratch
rm -rf "$SPARK_LOCAL_DIRS"; mkdir -p "$SPARK_LOCAL_DIRS"

echo "== dedup-family (minus pair-surface) at new-law sf30 =="
SPARK_GRAFT_SF_DIR=/tmp/graft_sf30 SPARK_GRAFT_CPUS=32 \
  SPARK_DRIVER_MEM=16g GRAFT_PRETOUCH=1 \
  SPARK_GRAFT_BENCH_DETAIL=/tmp/bench_sf30_family.json \
  tools/graft_java.sh graft.Bench "$QS" > /tmp/bench_sf30_family.log 2>&1
grep "BENCHFAIL" /tmp/bench_sf30_family.log || true
tail -1 /tmp/bench_sf30_family.json
rm -rf "$SPARK_LOCAL_DIRS"

echo "== scaling sf10 -> sf30 (3x data) against the committed new-law sf10 map =="
python3 tools/scaling_audit.py bench_detail_sf10_r14.json /tmp/bench_sf30_family.json 3 \
  | tee /tmp/scaling_sf30_family.txt
