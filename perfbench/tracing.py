"""Arithmetic on a traced run: spans, job attribution and the per-layer
metrics. ``BenchMain`` records the raw spans, Spark jobs and stages;
everything derived from them is computed here so it can be tested
without a JVM (``test_tracing.py``).

Span times are microseconds, job and stage times milliseconds, both
since the epoch; results are in seconds.
"""
import statistics

CORES = 4
INGEST_LAYERS = ["ingest.read", "ingest.infer", "sources.parquet", "sources.raw"]
OPS_LAYERS = ["ops.Graph", "ops.Relational", "ops.Relational2", "ops.Warehouse",
              "ops.Dedup", "ops.Corpus", "ops.Bpe", "ops.Similarity",
              "ops.Search", "ops.Linkage", "ops.Incremental"]
COMMON = [("wall_s", "s", "lower"), ("driver_s", "s", "lower"),
          ("task_cpu_s", "s", "lower"), ("core_util", "ratio", "higher"),
          ("max_task_s", "s", "lower"), ("shuffle_mb", "MB", "lower"),
          ("jobs", "count", "lower")]


def metric_specs():
    """Every per-layer metric as (name, unit, better), in report order."""
    specs = []
    for layer in INGEST_LAYERS + OPS_LAYERS:
        extra = [("input_mb", "MB", "lower")] if layer in INGEST_LAYERS \
            else [("build_s", "s", "lower")]
        specs += [(f"{layer}.{m}", u, b) for m, u, b in COMMON + extra]
    specs += [("jvm.gc_s", "s", "lower"), ("trace.overhead_s", "s", "lower")]
    return specs


def covered(intervals, lo, hi):
    """Length of the union of ``intervals`` that falls inside [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, end = 0.0, lo
    for a, b in clipped:
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def self_time(span, spans):
    """A span's duration minus the part of it its child spans cover."""
    kids = [(s["start_us"], s["end_us"]) for s in spans
            if s["parent"] == span["id"]]
    lo, hi = span["start_us"], span["end_us"]
    return (hi - lo - covered(kids, lo, hi)) / 1e6


def core_util(run_s, wall_s, cores=CORES):
    """Σ executorRunTime ÷ (span × cores); 0 for an empty span."""
    return run_s / (wall_s * cores) if wall_s > 0 else 0.0


def error_rate(attempted, failed):
    return failed / attempted if attempted else 0.0


def attribute_jobs(spans, jobs):
    """Map job id → span id. A job's local-property span is kept when the
    job started inside it; otherwise (no property, or one inherited by a
    pooled thread from an earlier span) the job goes to the innermost
    span open when it started, or -1 if none was."""
    by_id = {s["id"]: s for s in spans}

    def inside(s, t_ms):  # job times are whole milliseconds
        return s["start_us"] - 1000 < t_ms * 1000 <= s["end_us"]

    out = {}
    for j in jobs:
        s = by_id.get(j["span"])
        if s is not None and inside(s, j["start_ms"]):
            out[j["job"]] = s["id"]
            continue
        open_ = [s for s in spans if inside(s, j["start_ms"])]
        out[j["job"]] = max(open_, key=lambda s: s["start_us"])["id"] \
            if open_ else -1
    return out


def layer_pass_metrics(layer, spans, jobs, stages, cores=CORES):
    """One layer's metrics over the spans of one pass."""
    mine = [s for s in spans if s["layer"] == layer]
    ids = {s["id"] for s in mine}
    by_id = {s["id"]: s for s in spans}
    roots = [s for s in mine
             if by_id.get(s["parent"], {}).get("layer") != layer]
    owner = attribute_jobs(spans, jobs)
    my_jobs = {j for j, sid in owner.items() if sid in ids}
    my_stages = [st for st in stages if st["job"] in my_jobs]
    wall = sum(s["end_us"] - s["start_us"] for s in roots) / 1e6
    ivals = [(st["submit_ms"] * 1000, st["end_ms"] * 1000) for st in my_stages
             if st["submit_ms"] >= 0 and st["end_ms"] >= 0]
    driver = sum(s["end_us"] - s["start_us"] -
                 covered(ivals, s["start_us"], s["end_us"]) for s in roots) / 1e6
    run_s = sum(st["run_ms"] for st in my_stages) / 1e3
    m = {"wall_s": wall, "driver_s": driver,
         "task_cpu_s": sum(st["cpu_ns"] for st in my_stages) / 1e9,
         "core_util": core_util(run_s, wall, cores),
         "max_task_s": max([st["max_task_ms"] for st in my_stages], default=0) / 1e3,
         "shuffle_mb": sum(st["shuffle_write_bytes"] for st in my_stages) / 1e6,
         "jobs": len(my_jobs),
         "input_mb": sum(st["input_bytes"] for st in my_stages) / 1e6,
         "build_s": sum(s["end_us"] - s["start_us"] for s in mine
                        if s["name"] == "build") / 1e6}
    return m


def per_layer(trace, passes, cores=CORES):
    """Per-layer metrics: the median over the warm traced passes of each
    layer's per-pass value (0 for layers the workload never calls), the
    GC time of those passes, and the tracing overhead, the median warm
    traced pass wall time minus the median of the untraced passes made
    after the first traced one (earlier ones are warm-up)."""
    warm = [p for p in passes if p["pass"] > 0]
    traced = [p["pass"] for p in warm if p["traced"]]
    out = {}
    for name, _, _ in metric_specs():
        layer, metric = name.rsplit(".", 1)
        if layer in ("jvm", "trace"):
            continue
        vals = []
        for k in traced:
            sp = [s for s in trace["spans"] if s["pass"] == k]
            vals.append(layer_pass_metrics(layer, sp, trace["jobs"],
                                           trace["stages"], cores)[metric])
        out[name] = statistics.median(vals) if vals else 0.0
    out["jvm.gc_s"] = statistics.median(
        [p["gc_s"] for p in warm if p["traced"]] or [0.0])
    untraced = [p["wall_s"] for p in warm
                if not p["traced"] and traced and p["pass"] > traced[0]]
    out["trace.overhead_s"] = statistics.median(
        [p["wall_s"] for p in warm if p["traced"]]) - statistics.median(untraced) \
        if untraced and traced else 0.0
    return out


def spans_with_self_time(trace):
    """The spans file: every span with its duration and self time."""
    out = []
    for s in trace["spans"]:
        out.append(dict(s, dur_s=(s["end_us"] - s["start_us"]) / 1e6,
                        self_s=self_time(s, trace["spans"])))
    return out
