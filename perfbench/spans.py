"""Per-layer metrics from the harness's trace record.

The record holds spans (name, parent, t0_ms, t1_ms) around layer calls,
the Spark jobs seen while tracing (submit/end time plus task counters
summed per job) and QueryPlanningTracker phases. Jobs and planning
phases belong to the innermost span that contains their start time.

Each span reports its SELF time: its wall time minus that of its child
spans. The traced wall time is then exactly the sum of the self times
plus `unattributed_s`, the time outside every top-level span.
"""

PLANNING_PHASES = ("analysis", "optimization", "planning")

# Per-span fields, in the order BENCHMARK.json lists them.
SPAN_FIELDS = [
    ("s", "s"), ("exec_cpu_s", "s"), ("shuffle_mb", "MB"), ("spill_mb", "MB"),
    ("jobs", "count"), ("tasks", "count"), ("task_failures", "count"),
    ("sched_delay_s", "s"), ("planning_s", "s"), ("driver_gap_s", "s"),
]

MB = 1e6


def union_length(intervals):
    """Total length covered by possibly overlapping [a, b] intervals.

    Concurrent jobs must count once: the driver gap is a span's time with
    NO job running, not its time minus the summed job durations.
    """
    total = 0.0
    end = None
    start = None
    for a, b in sorted((a, b) for a, b in intervals if b > a):
        if end is None or a > end:
            if end is not None:
                total += end - start
            start, end = a, b
        else:
            end = max(end, b)
    if end is not None:
        total += end - start
    return total


def self_times(spans, t0, t1):
    """Self time (ms) of each span, and the traced time outside all spans.

    Returns (dict name -> self ms, unattributed ms). Span names are unique.
    """
    wall = {s["name"]: s["t1_ms"] - s["t0_ms"] for s in spans}
    child = {s["name"]: 0.0 for s in spans}
    top = 0.0
    for s in spans:
        if s["parent"] is None:
            top += wall[s["name"]]
        else:
            child[s["parent"]] += wall[s["name"]]
    selfs = {n: wall[n] - child[n] for n in wall}
    return selfs, (t1 - t0) - top


def innermost(spans, t):
    """Name of the innermost span open at time t, or None."""
    best = None
    for s in spans:
        if s["t0_ms"] <= t <= s["t1_ms"] and (best is None or s["t0_ms"] >= best["t0_ms"]):
            best = s
    return best["name"] if best else None


def layer_metrics(trace, span_names):
    """`<span>.<field>` for every name in span_names (0 for a span this
    workload does not have), plus `unattributed_s`."""
    spans = trace["spans"]
    selfs, unattributed = self_times(spans, trace["t0_ms"], trace["t1_ms"])
    by_name = {s["name"]: s for s in spans}
    acc = {n: {"jobs": 0, "tasks": 0, "task_failures": 0, "cpu_ns": 0,
               "shuffle": 0, "spill": 0, "sched_ms": 0, "plan_ms": 0.0,
               "bytes_written": 0, "intervals": []} for n in by_name}
    for j in trace["jobs"]:
        n = innermost(spans, j["submit_ms"])
        if n is None:
            continue
        a = acc[n]
        a["jobs"] += 1
        a["tasks"] += j["tasks"]
        a["task_failures"] += j["failures"]
        a["cpu_ns"] += j["cpu_ns"]
        a["shuffle"] += j["shuffle_read"] + j["shuffle_write"]
        a["spill"] += j["spill_disk"]
        a["sched_ms"] += j["sched_delay_ms"]
        a["bytes_written"] += j["bytes_written"]
        s = by_name[n]
        end = j["end_ms"] if j["end_ms"] >= 0 else s["t1_ms"]
        a["intervals"].append((max(j["submit_ms"], s["t0_ms"]), min(end, s["t1_ms"])))
    for p in trace["phases"]:
        if p["phase"] in PLANNING_PHASES:
            n = innermost(spans, p["start_ms"])
            if n is not None:
                acc[n]["plan_ms"] += p["end_ms"] - p["start_ms"]
    out = {}
    for n in span_names:
        if n not in by_name:
            for f, _ in SPAN_FIELDS:
                out[f"{n}.{f}"] = 0
            continue
        a = acc[n]
        self_ms = selfs[n]
        out.update({
            f"{n}.s": self_ms / 1e3,
            f"{n}.exec_cpu_s": a["cpu_ns"] / 1e9,
            f"{n}.shuffle_mb": a["shuffle"] / MB,
            f"{n}.spill_mb": a["spill"] / MB,
            f"{n}.jobs": a["jobs"],
            f"{n}.tasks": a["tasks"],
            f"{n}.task_failures": a["task_failures"],
            f"{n}.sched_delay_s": a["sched_ms"] / 1e3,
            f"{n}.planning_s": a["plan_ms"] / 1e3,
            f"{n}.driver_gap_s": max(0.0, self_ms - union_length(a["intervals"])) / 1e3,
        })
    out["unattributed_s"] = unattributed / 1e3
    written = {n: acc[n]["bytes_written"] for n in by_name}
    return out, written
