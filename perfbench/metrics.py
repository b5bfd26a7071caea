"""The benchmark's arithmetic: percentiles, self time, Spark-job
attribution, failure accounting, and the metrics computed from one
run's raw record (written by perfbench.BenchMain)."""
import math
import statistics

# ---------------------------------------------------------------- stats


def percentile(values, p):
    """Linear-interpolated p-quantile (0..1) of `values`."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * p
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_ok(n, p, beyond=10):
    """True when at least `beyond` of `n` samples lie above the p-quantile
    as `percentile` interpolates it."""
    return n > 0 and n - 1 - math.floor((n - 1) * p) >= beyond


def highest_tail(n, beyond=10, grid=(0.99, 0.95, 0.9, 0.75, 0.5)):
    """The highest percentile of `grid` with `beyond` samples above it."""
    for p in grid:
        if tail_ok(n, p, beyond):
            return p
    return None


def fail_ratio(attempted, failed):
    if attempted < 1:
        raise ValueError("nothing attempted")
    return failed / attempted


# ---------------------------------------------------------------- intervals


def union_length(intervals, lo=None, hi=None):
    """Length of the union of [start, end) intervals, clipped to [lo, hi)."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Span:
    __slots__ = ("id", "parent", "name", "attr", "start", "end", "run", "jobs")

    def __init__(self, id, parent, name, attr, start, end, run):
        self.id, self.parent, self.name, self.attr = id, parent, name, attr
        self.start, self.end, self.run = start, end, run
        self.jobs = []

    @property
    def layer(self):
        return self.name.split(".", 1)[0]


def attribute_jobs(spans, jobs):
    """Attach each Spark job (id, span_id, start, end, ...) to the span whose
    id it carried; returns the jobs that named no recorded span."""
    by_id = {s.id: s for s in spans}
    orphans = []
    for j in jobs:
        s = by_id.get(j[1])
        if s is None:
            orphans.append(j)
        else:
            s.jobs.append(j)
    return orphans


def self_times(spans):
    """Per span: (driver self time, Spark time). Driver self time is the
    span minus the union of its child spans and its own Spark jobs; Spark
    time is the union of its own Spark jobs, clipped to the span and
    outside its child spans."""
    children = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        kids = [(c.start, c.end) for c in children.get(s.id, [])]
        jobs = [(j[2], j[3]) for j in s.jobs if j[3] >= j[2]]
        covered = union_length(kids + jobs, s.start, s.end)
        kid_only = union_length(kids, s.start, s.end)
        out[s.id] = (s.end - s.start - covered, covered - kid_only)
    return out


def layer_table(spans):
    """Self time (ns) by layer over `spans`; Spark job time is its own
    `spark` layer. The values add up to the roots' total duration."""
    layer = {s.id: s.layer for s in spans}
    table = {}
    for sid, (own, spark) in self_times(spans).items():
        table[layer[sid]] = table.get(layer[sid], 0) + own
        if spark:
            table["spark"] = table.get("spark", 0) + spark
    return table


# ---------------------------------------------------------------- metrics

ACTION_LABELS = ("sql", "load", "unload", "exec", "wait-file", "streaming_load")
OPERATOR_OBJECTS = (
    "Relational", "TextOps", "Dedup", "Similarity", "Multimodal", "DataMovement",
    "AsOfJoin", "CorpusOps", "StressOps", "ClusterOps", "SketchOps", "LayoutOps",
    "CurationOps", "StreamOps", "LakeOps", "ScaleOps", "WarehouseOps", "DqOps")


def outcome(raw, extra_checks=()):
    """(attempted, failed): every timed job or query, and every output check."""
    items = [it for p in raw["passes"] for it in p["items"]]
    checks = list(raw["checks"]) + list(extra_checks)
    attempted = len(items) + len(checks)
    failed = sum(1 for it in items if not it[2]) + sum(1 for c in checks if not c[1])
    return attempted, failed


def items_per_s(raw):
    """Per pass: queue objects per second of the streaming_load job where the
    workload has one, else items (jobs or queries) per second of the pass."""
    rates = []
    for p in raw["passes"]:
        if p["ingest"]:
            objects, ms = p["ingest"]
            rates.append(objects / (ms / 1e3))
        else:
            rates.append(len(p["items"]) / p["wall_s"])
    return statistics.median(rates)


def item_times(raw):
    """Each job's or query's median time over the timed passes. Taking the
    median per item first keeps the mix of heavy and light items the same
    whatever the number of passes."""
    by_name = {}
    for p in raw["passes"]:
        for name, ms, _ in p["items"]:
            by_name.setdefault(name, []).append(ms)
    return [statistics.median(v) for v in by_name.values()]


def end_to_end(raw, attempted, failed):
    """The end-to-end metrics of an untraced run, with their sample counts."""
    times = item_times(raw)
    m = {
        # input generation is repeated and its median taken; the warm-up
        # passes run once each
        "setup_s": (statistics.median(raw["setup_s"]) + sum(raw["warmup_s"]), "s"),
        "startup_s": (raw["startup_s"], "s"),
        "pass_s": (statistics.median(p["wall_s"] for p in raw["passes"]), "s"),
        "item_ms_p50": (percentile(times, 0.5), "ms"),
        "item_ms_p90": (percentile(times, 0.9), "ms"),
        "items_per_s": (items_per_s(raw), "1/s"),
        "pass_ratio": (1.0 - fail_ratio(attempted, failed), "1"),
        "space_amp": (raw["disk_bytes"] / raw["input_bytes"], "1"),
    }
    notes = {"passes": len(raw["passes"]), "items": len(times),
             "live_heap_mb": round(raw["live_heap_mb"], 1),
             "p90_has_10_beyond": tail_ok(len(times), 0.9),
             "highest_tail_with_10_beyond": highest_tail(len(times))}
    return m, notes


def per_layer(raw):
    """Per-layer metrics of a traced run, per timed pass (session and
    context: once per run)."""
    spans = [Span(*s) for s in raw["spans"]]
    attribute_jobs(spans, raw["spark_jobs"])
    n = len(raw["passes"])
    timed = [s for s in spans if s.run >= 1]
    own = self_times(timed)
    named = {s.id: s for s in spans}

    def total(pred):
        return sum(s.end - s.start for s in timed if pred(s)) / 1e6 / n

    def count(pred):
        return sum(1 for s in timed if pred(s)) / n

    def self_ms(pred):
        return sum(own[s.id][0] for s in timed if pred(s)) / 1e6 / n

    def once(name):
        return sum(s.end - s.start for s in spans if s.name == name) / 1e6

    def under(s, pred):
        while s.parent:
            s = named[s.parent]
            if pred(s):
                return True
        return False

    def label(s):
        return s.attr.split(":", 1)[0]

    m = {
        "runner.session_ms": once("runner.session"),
        "runner.context_ms": once("runner.context"),
        "runner.preflight_ms": total(lambda s: s.name == "runner.preflight"),
        "runner.self_ms": self_ms(lambda s: s.name in ("runner.run", "runner.job")),
        "net.dag_ms": total(lambda s: s.name == "net.dag"),
        "net.queue_ms": self_ms(lambda s: s.name == "net.queue"),
        "net.queue_saves": sum(v for k, p, v in raw["counters"]
                               if k == "net.queue_saves" and p >= 1) / n,
        "core.jobfile_ms": total(lambda s: s.name == "core.jobfile"),
        "core.resolve_ms": total(lambda s: s.name == "core.resolve"),
        # Job.compile() repeats the resolution Job.variables() was timed for
        "jobclass.build_ms": max(0.0, total(lambda s: s.name == "jobclass.build")
                                 - total(lambda s: s.name == "core.resolve")),
        "jobclass.actions": count(lambda s: s.name == "jobclass.action"),
    }
    for lb in ACTION_LABELS:
        m["jobclass.action_ms." + lb] = total(
            lambda s, lb=lb: s.name == "jobclass.action" and label(s) == lb)

    jobs = [j for s in timed for j in s.jobs]
    job_ms = union_length([(j[2], j[3]) for j in jobs]) / 1e6 / n

    def jsum(i):
        return sum(j[i] for j in jobs) / n

    roots = [(s.start, s.end) for s in timed if s.parent == 0]
    queries = [q for q in raw["queries"] if any(a <= q[0] <= b for a, b in roots)]
    task_ms = jsum(6)
    m.update({
        "spark.queries": len(queries) / n,
        "spark.analysis_ms": sum(q[1] for q in queries) / n,
        "spark.optimization_ms": sum(q[2] for q in queries) / n,
        "spark.planning_ms": sum(q[3] for q in queries) / n,
        "spark.jobs": len(jobs) / n,
        "spark.stages": jsum(4),
        "spark.driver_ms": self_ms(lambda s: s.name == "jobclass.action"
                                   or s.name.startswith("operators.")),
        "spark.tasks": jsum(5),
        "spark.job_ms": job_ms,
        "spark.task_ms": task_ms,
        "spark.task_cpu_ms": jsum(7),
        "spark.gc_ms": jsum(8),
        "spark.task_util": task_ms / (job_ms * raw["cores"]) if job_ms else 0.0,
        "spark.shuffle_read_bytes": jsum(9),
        "spark.shuffle_write_bytes": jsum(10),
        "spark.spill_bytes": jsum(11),
        "spark.input_bytes": jsum(12),
        "spark.output_bytes": jsum(13),
    })

    def streaming(s):
        return s.name == "jobclass.action" and label(s) == "streaming_load"

    objects = count(lambda s: s.name == "ds.move" and under(s, streaming))
    m.update({
        "ds.list_calls": count(lambda s: s.name == "ds.list"),
        "ds.list_ms": total(lambda s: s.name == "ds.list"),
        "ds.move_calls": count(lambda s: s.name == "ds.move"),
        "ds.move_ms": total(lambda s: s.name == "ds.move"),
        "streaming.objects": objects,
        "streaming.batches": sum(v for k, p, v in raw["counters"]
                                 if k == "streaming.batches" and p >= 1) / n,
        "streaming.ms_per_object":
            m["jobclass.action_ms.streaming_load"] / objects if objects else 0.0,
    })
    for obj in OPERATOR_OBJECTS:
        m["operators.%s_ms" % obj] = total(lambda s, o="operators." + obj: s.name == o)
    return m


def layers(raw):
    """Self time by layer per timed pass (ms), and the traced pass time."""
    spans = [Span(*s) for s in raw["spans"]]
    attribute_jobs(spans, raw["spark_jobs"])
    timed = [s for s in spans if s.run >= 1]
    n = len(raw["passes"])
    table = {k: v / 1e6 / n for k, v in layer_table(timed).items()}
    wall = sum(s.end - s.start for s in timed if s.parent == 0) / 1e6 / n
    return table, wall
