#!/usr/bin/env python3
"""Write the layer table: self time by layer for each workload, from one
traced run, next to an untraced run of the same seed for the tracing
overhead.

Usage (from the repository root):
  python3 perfbench/layers.py [--seed N] [--seconds S] [--out perfbench/LAYERS.md]
"""
import argparse
import datetime
import json
import os
import platform
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402
import run  # noqa: E402

LAYERS = ("runner", "net", "core", "jobclass", "ds", "operators", "spark", "bench")


def one_run(workload, seed, seconds, trace):
    """Run the benchmark once; returns (raw record, printed result)."""
    p = subprocess.run([sys.executable, os.path.join(run.HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True)
    if p.returncode != 0:
        raise SystemExit(f"{workload} trace={trace} failed:\n{p.stdout}{p.stderr}")
    with open(os.path.join(".bench_run", workload, "raw.json")) as fh:
        raw = json.load(fh)
    return raw, json.loads(p.stdout.strip().splitlines()[-1])


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--out", default=os.path.join(run.HERE, "LAYERS.md"))
    a = ap.parse_args(argv)

    rows = []
    for w in run.WORKLOADS:
        plain, res = one_run(w, a.seed, a.seconds, 0)
        traced, _ = one_run(w, a.seed, a.seconds, 1)
        table, wall = metrics.layers(traced)
        untraced_ms = res["metrics"]["pass_s"]["value"] * 1e3
        rows.append((w, table, wall, untraced_ms, len(traced["passes"])))

    lines = [
        "# Layer table",
        "",
        f"Self time by layer, in ms per timed pass, from one traced run per "
        f"workload (seed {a.seed}, {a.seconds:g} s, local[{run.cores()}], "
        f"{platform.machine()}, {datetime.date.today()}). A layer's self time "
        "is its spans' time minus their child spans and Spark jobs; `spark` "
        "is the time Spark jobs ran inside the spans that submitted them, "
        "`bench` the harness's own loop. Per workload the layers add up to "
        "the traced pass. Tracing overhead is the traced pass minus the "
        "untraced run's `pass_s` (same seed, separate JVM), so it also holds "
        "run-to-run noise.",
        "",
        "| workload | " + " | ".join(LAYERS) + " | sum | traced pass | untraced pass | tracing overhead | passes |",
        "|---" * (len(LAYERS) + 6) + "|",
    ]
    for w, table, wall, untraced_ms, n in rows:
        cells = [f"{table.get(k, 0.0):.1f}" for k in LAYERS]
        lines.append(f"| {w} | " + " | ".join(cells) +
                     f" | {sum(table.values()):.1f} | {wall:.1f} | {untraced_ms:.1f} | "
                     f"{wall - untraced_ms:+.1f} | {n} |")
    lines.append("")
    lines.append("Regenerate with `python3 perfbench/layers.py`.")
    with open(a.out, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print("\n".join(lines))


if __name__ == "__main__":
    main(sys.argv[1:])
