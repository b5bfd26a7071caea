#!/bin/bash
# Run a graft main class directly on the compiled classes — no sbt lock,
# no ~12 s sbt startup. Shares build.sbt's forked-JVM flags: the JDK-17
# add-opens list is the one argfile tools/add-opens.args, and the heap is
# SPARK_DRIVER_MEM. Session settings (master, shuffle width, UTC, UI off)
# come from the session factory graft.runner.Cli.buildSpark. Prereq: the
# classes are current (`sbt -batch compile` once per source change); this
# script does NOT compile.
#
# Usage: tools/graft_java.sh <mainClass> [args...]
#   e.g. tools/graft_java.sh graft.GenScale /root/testdata/sf0.1 /tmp/graft_sf1 10
# Env passthrough: SPARK_MASTER, SPARK_GRAFT_CPUS, SPARK_GRAFT_SF_DIR,
#   SPARK_DRIVER_MEM, SPARK_GRAFT_BENCH_DETAIL, SPARK_LOCAL_DIRS — same
#   contract as sbt runMain.
#
# GRAFT_PRETOUCH=1 pins the heap (-Xms = -Xmx) and pre-touches it at
# startup. Use it for every big-heap (>= 12g) AUDIT invocation: this
# box's hypervisor backs guest memory lazily and serves first-touch
# page faults at 0.04-1 GiB/s (measured, round 13 — parallel faulting
# is even slower, and freed pages are returned to the host so the cost
# RECURS). Without the pin, G1 evacuation into never-touched regions
# stalls 0.7-9 s PER YOUNG PAUSE (measured: a 2 s CTAS took 89 s under
# a lazy 16g heap), silently inflating whichever query happens to grow
# the heap. With the pin the whole tax is paid once, before timing
# starts. Left off for the default 8g runs: their lazy-touch tax is
# small and bounded, and wall-clock (pipeline bench) stays lean.
set -e
cd "$(dirname "$0")/.."
MAIN="$1"; shift

# Sweep scratch litter from pre-TempDirs rounds and from runs whose JVM
# died before its shutdown hook (a fatal sf10 OOM leaves the graft_run_
# root behind). The per-sf-dir caches (graft_bucketed__*, graft_cbo__*,
# ...) are kept on purpose: they're bounded (one per sf dir) and reused.
# Liveness, not mtime, decides: each graft_run_ root carries an
# owner.pid (TempDirs) — a run alive longer than any mtime window (sf10
# benches exceed 2h) must never have its scratch deleted mid-run.
# Pidless dirs are pre-pidfile litter and keep the 2h mtime guard.
for d in /tmp/graft_run_* /tmp/graft_stream_ckpt*; do
  [ -d "$d" ] || continue
  pid=$(cat "$d/owner.pid" 2>/dev/null || true)
  if [ -n "$pid" ] && kill -0 "$pid" 2>/dev/null; then continue; fi
  if [ -z "$pid" ] && [ -n "$(find "$d" -maxdepth 0 -mmin -120)" ]; then continue; fi
  rm -rf "$d" 2>/dev/null || true
done

PRETOUCH_FLAGS=""
if [ "${GRAFT_PRETOUCH:-0}" = "1" ]; then
  PRETOUCH_FLAGS="-Xms${SPARK_DRIVER_MEM:-8g} -XX:+AlwaysPreTouch"
fi
exec java @tools/add-opens.args $PRETOUCH_FLAGS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
