#!/bin/bash
# sf1 -> sf10 SECOND-decade scaling audit: the 30 slowest sf1 queries
# re-benched at 100x the driver bench data (~60M lineitem / 500k docs).
#
# Prereqs:
#   `sbt -batch compile` (runs via tools/graft_java.sh, no compile step)
#   /tmp/graft_sf10 generated by
#     sbt "runMain graft.GenScale /root/testdata/sf0.1 /tmp/graft_sf10 100"
#   /tmp/bench_sf1.json from tools/run_sf1_audit.sh
#
# Produces:
#   /tmp/bench_sf10.json        per-query map at sf10 (slowest-30 subset)
#   scaling table on stdout     tools/scaling_audit.py sf1 -> sf10
set -e
cd "$(dirname "$0")/.."

SUBSET=$(python3 - <<'EOF'
import json
d = json.load(open('/tmp/bench_sf1.json'))
qs = sorted(d['queries'].items(), key=lambda kv: -kv[1])[:30]
# q_allpairs_jaccard runs in its own invocation below: its exact-audit
# shuffle is the one query whose spill can exceed this box's free disk
# at sf10, and the first attempt proved an ENOSPC mid-suite cascades —
# the full disk breaks every later query AND the log writes that would
# have explained them. Isolation contains the blast radius to one run.
print(','.join(k for k, _ in qs if k != 'q_allpairs_jaccard'))
EOF
)

# Spark scratch (shuffle spill, block manager) goes to a dedicated dir
# purged before each invocation: a prior run's aborted-job litter must
# not eat the headroom this run's spills need.
export SPARK_LOCAL_DIRS=/tmp/graft_spark_scratch
rm -rf "$SPARK_LOCAL_DIRS"; mkdir -p "$SPARK_LOCAL_DIRS"

echo "== bench at sf10 (allpairs excluded): $SUBSET =="
# SPARK_DRIVER_MEM: the default 8g heap fits sf1 but OOMs at sf10
# (60M lineitem x 32 threads of sort/join buffers) — the first fatal
# executor OOM kills the local scheduler and every later run fails
# instantly, which Bench now reports as BENCHFAIL instead of a time.
# Round 13 dropped this from 64g to 16g + GRAFT_PRETOUCH: this box's
# hypervisor serves first-touch page faults at 0.04-1 GiB/s, so a big
# lazy heap charges multi-second G1 evacuation stalls to whichever
# query first grows it (see tools/graft_java.sh). 16g is the smallest
# size that clears the sf10 sort/join peak; the pin+pretouch pays the
# whole fault tax before the first timed query.
SPARK_GRAFT_SF_DIR=/tmp/graft_sf10 SPARK_GRAFT_CPUS=32 \
  SPARK_DRIVER_MEM=16g GRAFT_PRETOUCH=1 \
  SPARK_GRAFT_BENCH_DETAIL=/tmp/bench_sf10_main.json \
  tools/graft_java.sh graft.Bench "$SUBSET" > /tmp/bench_sf10.log 2>&1
grep "BENCHFAIL" /tmp/bench_sf10.log || true
tail -1 /tmp/bench_sf10_main.json

echo "== bench at sf10: q_allpairs_jaccard (isolated) =="
rm -rf "$SPARK_LOCAL_DIRS"; mkdir -p "$SPARK_LOCAL_DIRS"
SPARK_GRAFT_SF_DIR=/tmp/graft_sf10 SPARK_GRAFT_CPUS=32 \
  SPARK_DRIVER_MEM=16g GRAFT_PRETOUCH=1 \
  SPARK_GRAFT_BENCH_DETAIL=/tmp/bench_sf10_allpairs.json \
  tools/graft_java.sh graft.Bench q_allpairs_jaccard \
  > /tmp/bench_sf10_allpairs.log 2>&1 || true
grep "BENCHFAIL" /tmp/bench_sf10_allpairs.log || true
tail -1 /tmp/bench_sf10_allpairs.json 2>/dev/null || echo "(no allpairs result)"
rm -rf "$SPARK_LOCAL_DIRS"

python3 - <<'EOF'
import json
main = json.load(open('/tmp/bench_sf10_main.json'))
try:
    ap = json.load(open('/tmp/bench_sf10_allpairs.json'))
    main['queries'].update(ap['queries'])
except Exception as e:
    print(f'allpairs merge skipped: {e}')
main['value'] = round(sum(t for t in main['queries'].values() if t > 0), 3)
json.dump(main, open('/tmp/bench_sf10.json', 'w'))
EOF

echo "== scaling audit sf1 -> sf10 =="
python3 tools/scaling_audit.py /tmp/bench_sf1.json /tmp/bench_sf10.json 10 \
  | tee /tmp/scaling_sf10.txt || true
