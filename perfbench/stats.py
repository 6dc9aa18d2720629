"""Statistics shared by run.py and compare.py: medians and quartiles, the
tail percentile rule, span self time, and the reduction of one run record
to its end-to-end and per-layer metrics."""
import math
import statistics

# warm per-query latency: the tail percentile reported, and the least number
# of samples that must lie beyond it for the percentile to mean anything
TAIL_PERCENTILE = 0.90
MIN_BEYOND = 10


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """First and third quartile as statistics.quantiles(n=4) gives them."""
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def spread(xs):
    """Interquartile range as a share of the median."""
    q1, q3 = quartiles(xs)
    m = median(xs)
    return (q3 - q1) / m if m else math.inf


def samples_beyond(n, p):
    """Samples strictly above the nearest-rank p-th percentile of n."""
    return n - math.ceil(p * n)


def percentile(xs, p, min_beyond=MIN_BEYOND):
    """Nearest-rank percentile; None unless at least `min_beyond` samples
    lie beyond it."""
    n = len(xs)
    if n == 0 or samples_beyond(n, p) < min_beyond:
        return None
    return sorted(xs)[math.ceil(p * n) - 1]


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans):
    """Self time of each span in seconds: its duration minus the part of
    its interval that its child spans cover. Spans are dicts with id,
    parent, start_us and end_us; open spans (end null) are skipped."""
    closed = [s for s in spans
              if s.get("end_us") is not None and s.get("start_us") is not None]
    children = {}
    for s in closed:
        children.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    out = {}
    for s in closed:
        lo, hi = s["start_us"], s["end_us"]
        out[s["id"]] = ((hi - lo) - covered(children.get(s["id"], []), lo, hi)) / 1e6
    return out


def self_time_by_layer(spans):
    """Total self time in seconds per span name."""
    per_span = self_times(spans)
    out = {}
    for s in spans:
        if s["id"] in per_span:
            out[s["name"]] = out.get(s["name"], 0.0) + per_span[s["id"]]
    return out


def end_to_end(record):
    """End-to-end metrics of one untraced run: {name: (value, unit, n)}.

    Set-up runs from process start to the end of the cold pass, the first
    execution of every query; session_s and cold_pass_s split it. Each is
    one sample per run: another is a whole JVM start and cold pass (15 to
    30 s on 4 cores), which would about double a run."""
    warm = [e for e in record["executions"] if e["phase"] == "warm"]
    passes = [p["wall_s"] for p in record["passes"] if p["phase"] == "warm"]
    # the median over the passes after the cold one does not hang on where
    # one pass's young collections fell
    heap = [p["heap_peak_mb"] for p in record["passes"]
            if p["phase"] in ("settle", "warm")]
    cold = [p["wall_s"] for p in record["passes"] if p["phase"] == "cold"]
    by_query = {}
    for e in warm:
        by_query.setdefault(e["query"], []).append(e["wall_s"])
    lat = [e["wall_s"] for e in warm]
    out = {
        "setup_s": (record["ready_s"], "s", 1),
        "session_s": (record["session_s"], "s", 1),
        "cold_pass_s": (cold[0], "s", 1),
        "pass_s": (median(passes), "s", len(passes)),
        "query_geomean_s": (geomean([median(v) for v in by_query.values()]),
                            "s", len(by_query)),
        "latency_p50_s": (median(lat), "s", len(lat)),
        "latency_p90_s": (percentile(lat, TAIL_PERCENTILE), "s", len(lat)),
        "live_heap_peak_mb": (median(heap), "MB", len(heap)),
    }
    return out


# per-query counters the tracer records, with the unit and scale of the
# metric each becomes
COUNTERS = {
    "tables.input_bytes": ("tables.input_bytes", "bytes", 1),
    "tables.files_read": ("tables.files_read", "count", 1),
    "queries.build_jobs": ("queries.build_jobs", "count", 1),
    "catalyst.analysis_ms": ("catalyst.analysis_ms", "ms", 1),
    "catalyst.optimization_ms": ("catalyst.optimization_ms", "ms", 1),
    "catalyst.planning_ms": ("catalyst.planning_ms", "ms", 1),
    "scheduler.jobs": ("scheduler.jobs", "count", 1),
    "scheduler.stages": ("scheduler.stages", "count", 1),
    "scheduler.tasks": ("scheduler.tasks", "count", 1),
    "scheduler.skipped_stages": ("scheduler.skipped_stages", "count", 1),
    "scheduler.task_failures": ("scheduler.task_failures", "count", 1),
    "driver.result_bytes": ("driver.result_bytes", "bytes", 1),
    "executor.run_ms": ("executor.run_s", "s", 1e-3),
    "executor.cpu_ns": ("executor.cpu_s", "s", 1e-9),
    "executor.gc_ms": ("executor.gc_s", "s", 1e-3),
    "shuffle.read_bytes": ("shuffle.read_bytes", "bytes", 1),
    "shuffle.write_bytes": ("shuffle.write_bytes", "bytes", 1),
    "spill.memory_bytes": ("spill.memory_bytes", "bytes", 1),
    "spill.disk_bytes": ("spill.disk_bytes", "bytes", 1),
    "sources.bytes_written": ("sources.bytes_written", "bytes", 1),
    "sources.records_written": ("sources.records_written", "count", 1),
    "sources.files_written": ("sources.files_written", "count", 1),
}


def query_layers(execution, counters, spans_by_query, cores):
    """Per-layer metrics of one traced execution: {name: value}."""
    c = counters.get(str(execution["span"]), {})
    out = {name: c.get(key, 0.0) * scale
           for key, (name, _, scale) in COUNTERS.items()}
    wall = execution["wall_s"]
    jobs = spans_by_query.get(execution["span"], [])
    q_lo = execution["start_us"]
    out["queries.build_s"] = execution["build_s"]
    out["codegen.compiles"] = execution["codegen.compiles"]
    out["codegen.compile_ms"] = execution["codegen.compile_ms"]
    out["jvm.gc_pause_s"] = execution["jvm.gc_pause_s"]
    out["driver.no_job_s"] = wall - covered(jobs, q_lo, q_lo + wall * 1e6) / 1e6
    out["scheduler.idle_core_s"] = wall * cores - c.get("task.busy_ms", 0.0) / 1e3
    out["executor.busy_frac"] = (c.get("executor.run_ms", 0.0) / 1e3) / (wall * cores)
    out["wall_s"] = wall
    return out


def descendants(spans, roots):
    """The spans `roots` and every span below them."""
    keep = set(roots)
    for s in sorted(spans, key=lambda s: s["id"]):
        if s["parent"] in keep:
            keep.add(s["id"])
    return [s for s in spans if s["id"] in keep]


def job_intervals_by_query(spans):
    """Job intervals (start_us, end_us) grouped by enclosing query span."""
    by_id = {s["id"]: s for s in spans}

    def query_of(s):
        while s is not None and s["name"] != "query":
            s = by_id.get(s["parent"])
        return s["id"] if s else None

    out = {}
    for s in spans:
        if s["name"] == "job" and s.get("end_us") is not None:
            out.setdefault(query_of(s), []).append((s["start_us"], s["end_us"]))
    return out


LAYER_UNITS = {name: unit for name, unit, _ in COUNTERS.values()}
LAYER_UNITS.update({
    "queries.build_s": "s", "codegen.compiles": "count",
    "codegen.compile_ms": "ms", "codegen.cold_compiles": "count",
    "codegen.cold_compile_ms": "ms", "jvm.gc_pause_s": "s",
    "driver.no_job_s": "s", "scheduler.idle_core_s": "s",
    "executor.busy_frac": "fraction",
    "self.pass_s": "s", "self.query_s": "s", "self.build_s": "s",
    "self.action_s": "s", "self.job_s": "s", "self.stage_s": "s",
    "trace.overhead_frac": "fraction", "trace.spans": "count",
    "jvm.jit_s": "s",
})


def per_layer(record):
    """Per-layer metrics of one traced run.

    Returns (workload metrics {name: (value, unit, n)}, per-query metrics
    {query: {name: value}} from the last traced pass, problems [str])."""
    cores = record["cores"]
    spans = record["spans"]
    jobs = job_intervals_by_query(spans)
    traced = [e for e in record["executions"] if e["phase"] == "traced"]
    cold = [e for e in record["executions"] if e["phase"] == "cold"]
    per_pass = {}
    per_query = {}
    for e in traced:
        m = query_layers(e, record["counters"], jobs, cores)
        acc = per_pass.setdefault(e["pass"], {})
        for k, v in m.items():
            acc[k] = acc.get(k, 0.0) + v
        per_query[e["query"]] = m
    metrics = {}
    for name in sorted({k for p in per_pass.values() for k in p}):
        vals = [p[name] for p in per_pass.values()]
        metrics[name] = (median(vals), LAYER_UNITS.get(name, ""), len(vals))
    walls = [p["wall_s"] for p in per_pass.values()]
    metrics["executor.busy_frac"] = (
        median([p["executor.run_s"] / (p["wall_s"] * cores)
                for p in per_pass.values()]), "fraction", len(walls))
    del metrics["wall_s"]
    metrics["codegen.cold_compiles"] = (
        sum(e["codegen.compiles"] for e in cold), "count", 1)
    metrics["codegen.cold_compile_ms"] = (
        sum(e["codegen.compile_ms"] for e in cold), "ms", 1)
    selfs = self_time_by_layer(descendants(spans, [
        s["id"] for s in spans if s["name"] == "pass" and s["label"] == "traced"]))
    for layer in ("pass", "query", "build", "action", "job", "stage"):
        metrics["self.%s_s" % layer] = (
            selfs.get(layer, 0.0) / len(walls), "s", len(walls))
    # pass walls include the listener drains, which are tracing overhead too
    pass_walls = {phase: [p["wall_s"] for p in record["passes"] if p["phase"] == phase]
                  for phase in ("warm", "traced")}
    metrics["trace.overhead_frac"] = (
        median(pass_walls["traced"]) / median(pass_walls["warm"]) - 1,
        "fraction", len(pass_walls["traced"]))
    metrics["trace.spans"] = (len(spans), "count", 1)
    jit = [p["jit_s"] for p in record["passes"] if p["phase"] == "traced"]
    metrics["jvm.jit_s"] = (median(jit), "s", len(jit))
    problems = []
    total = record["total_jobs"]
    counted = sum(record["counters"].get(str(e["span"]), {})
                  .get("scheduler.jobs", 0) for e in record["executions"]
                  if e["span"] >= 0)
    if counted != total:
        problems.append("per-query jobs sum to %d, listener saw %d"
                        % (counted, total))
    if record.get("untagged_jobs", 0):
        problems.append("%d jobs carried no span tag" % record["untagged_jobs"])
    timeouts = sum(c.get("trace.drain_timeouts", 0)
                   for c in record["counters"].values())
    if timeouts:
        problems.append("%d listener drains timed out" % timeouts)
    return metrics, per_query, problems
