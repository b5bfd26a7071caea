#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the benchmark's JVM code from source (perfbench/build.py,
output in .bench_build/), runs the workload in one fresh JVM
(perfbench.BenchMain) with its scratch files under .bench_run/<workload>/,
checks the outputs, and prints the metrics. The last stdout line is one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. Exits non-zero, without
that line, when the build or the run fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("etl_pipeline", "small_jobs", "queue_ingest", "operator_suite")
HEAP = "2g"
JVM_TIMEOUT_S = 170
# the module opens Spark's own launcher adds (JavaModuleOptions) for a
# SparkSession created outside spark-submit
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def cores():
    return len(os.sched_getaffinity(0))


def jvm_command(cp, work, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    flags = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in OPENS]
    flags += [
        # a pinned, pre-touched heap pays the host's first-touch paging
        # before the JVM start time the startup metric counts from
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
        "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
    ]
    return ["java"] + flags + ["-cp", cp, "perfbench.BenchMain"] + args


def run_jvm(cp, work, a, raw_path):
    n = cores()
    env = dict(os.environ, SPARK_MASTER=f"local[{n}]",
               SPARK_SHUFFLE_PARTITIONS=str(n))
    cmd = jvm_command(cp, work, [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--src", HERE, "--out", raw_path, "--cores", str(n)])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, env=env)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
        except BaseException:  # interrupted or terminated: take the JVM along
            p.kill()
            p.wait()
            raise
    if code != 0 or not os.path.exists(raw_path):
        with open(log) as fh:
            tail = fh.read()[-3000:]
        raise SystemExit(f"benchmark JVM failed ({code}); log tail:\n{tail}")
    with open(raw_path) as fh:
        return json.load(fh)


def oracle_checks(raw, work):
    """operator_suite: each query's row count against its DuckDB oracle
    evaluated on the same generated tables."""
    import duckdb
    con = duckdb.connect()
    tmp = os.path.join(work, "duckdb")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute("SET memory_limit='1GB'")
    con.execute(f"SET threads={cores()}")
    data = raw["data_dir"]
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet/*.parquet')")
    out = []
    for name, sql in raw["oracle"].items():
        got = raw["rows"].get(name)
        try:
            want = con.execute(f"SELECT count(*) FROM ({sql}) o").fetchone()[0]
        except Exception as e:  # an oracle that cannot run is a failed check
            out.append([f"oracle_{name}", False, str(e)[:200]])
            continue
        out.append([f"oracle_{name}", got == want, f"spark={got} duckdb={want}"])
    return out


def main(argv):
    # a terminated run unwinds like an interrupted one, so no JVM outlives it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    root = os.getcwd()
    cp, err = build.build(root, os.path.join(root, ".bench_build"))
    if err:
        raise SystemExit("build failed: " + err)
    work = os.path.join(root, ".bench_run", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw = run_jvm(cp, work, a, os.path.join(work, "raw.json"))

    extra = oracle_checks(raw, work) if a.workload == "operator_suite" else []
    attempted, failed = metrics.outcome(raw, extra)
    for c in list(raw["checks"]) + extra:
        if not c[1]:
            print(f"CHECK FAILED {c[0]}: {c[2]}")
    for p in raw["passes"]:
        for it in p["items"]:
            if not it[2]:
                print(f"FAILED {it[0]}")
    if a.trace:
        values = {k: (v, unit_of(k)) for k, v in metrics.per_layer(raw).items()}
        table, wall = metrics.layers(raw)
        print("layer self time per pass (ms): " + ", ".join(
            f"{k}={v:.1f}" for k, v in sorted(table.items())) +
            f"; sum={sum(table.values()):.1f} traced pass={wall:.1f}")
    else:
        values, notes = metrics.end_to_end(raw, attempted, failed)
        print("samples: " + json.dumps(notes))
    for k, (v, u) in values.items():
        print(f"{k:32s} {v:14.4f} {u}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}))


def unit_of(name):
    if name.endswith("_ms") or ".action_ms." in name:
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("ms_per_object"):
        return "ms"
    if name.endswith("task_util"):
        return "1"
    return "count"


if __name__ == "__main__":
    main(sys.argv[1:])
