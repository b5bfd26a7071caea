#!/bin/bash
# sf0.1 -> sf1 scaling audit, end to end.
#
# Prereq: `sbt -batch compile` (runs via tools/graft_java.sh, which does
# not compile), and /tmp/graft_sf1 generated by
#   sbt "runMain graft.GenScale /root/testdata/sf0.1 /tmp/graft_sf1 10"
#
# Produces:
#   /tmp/bench_sf1.json          full per-query bench map at sf1
#   /tmp/verify_sf1/             per-query parquet dumps at sf1
#   CORRECTNESS_sf1.md           DuckDB oracle compare at sf1 (committed)
#   scaling table on stdout      tools/scaling_audit.py sf0.1 -> sf1
#
# Oracle skips at sf1 (documented, gated by GRAFT_ORACLE_ALLOW_SKIP=1):
#   q_dedup_keep_best — UNSKIPPED in round 12: the bigram-feature simhash
#     deflated the band buckets (unigram features saturated on Zipf text),
#     and the oracle's banded self-join now completes in minutes at sf1
#     (PASS, 3205 rows).
#   q_allpairs_jaccard — its oracle materializes the full 50k x 50k
#     list-intersect pair surface in DuckDB (no PPJoin prefix/length
#     pruning), whose spill exceeds the machine's free disk (~79 GB) at
#     sf1 regardless of temp_directory/memory_limit (measured ENOSPC
#     twice). The Spark side (the PPJoin-pruned arm) runs at sf1 in
#     ~13 s and stays fully hash-gated at sf0.01.
set -e
cd "$(dirname "$0")/.."

SF1_SKIPS="q_allpairs_jaccard"

echo "== bench at sf1 (full suite, two-sweep min) =="
SPARK_GRAFT_SF_DIR=/tmp/graft_sf1 SPARK_GRAFT_CPUS=32 \
  SPARK_GRAFT_BENCH_DETAIL=/tmp/bench_sf1.json \
  tools/graft_java.sh graft.Bench > /tmp/bench_sf1.log 2>&1
grep -o '"value":[0-9.]*' /tmp/bench_sf1.json | head -1

echo "== verify at sf1 =="
SPARK_GRAFT_CPUS=32 tools/graft_java.sh \
  graft.Verify /tmp/graft_sf1 /tmp/verify_sf1 \
  > /tmp/verify_sf1.log 2>&1
grep "\[verify\]" /tmp/verify_sf1.log | tail -1
# the zero-rows tripwire prints to stderr; surface it here too
grep "ZERO-ROWS" /tmp/verify_sf1.log || true

echo "== oracle compare at sf1 =="
GRAFT_ORACLE_SKIP="$SF1_SKIPS" GRAFT_ORACLE_ALLOW_SKIP=1 \
  python3 tools/compare_oracle.py /tmp/graft_sf1 /tmp/verify_sf1 \
  | tee /tmp/oracle_sf1.txt || true
tail -1 /tmp/oracle_sf1.txt

echo "== writing CORRECTNESS_sf1.md =="
python3 - <<'EOF'
lines = open('/tmp/oracle_sf1.txt').read().splitlines()
with open('CORRECTNESS_sf1.md', 'w') as f:
    f.write("# CORRECTNESS at sf1 (DuckDB oracle compare)\n\n")
    f.write("Produced by `tools/run_sf1_audit.sh` over `/tmp/graft_sf1`\n")
    f.write("(GenScale x10 of the driver's sf0.1 testdata). Every line is\n")
    f.write("the oracle verdict for one `SparkEntry.queries` entry; skips\n")
    f.write("are documented in the audit script header.\n\n```\n")
    f.write("\n".join(lines))
    f.write("\n```\n")
print("CORRECTNESS_sf1.md written:", lines[-1] if lines else "EMPTY")
EOF

echo "== scaling audit sf0.1 -> sf1 =="
python3 tools/scaling_audit.py "${SF01_DETAIL:-bench_detail_r09.json}" \
  /tmp/bench_sf1.json 10 | tee /tmp/scaling_sf1.txt || true
