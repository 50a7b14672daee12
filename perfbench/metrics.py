"""Turns the harness's raw records into the benchmark's metrics.

Pure functions over plain data, so the rules are testable without Spark.
"""
import statistics

TAIL_BEYOND = 10
# The lowest percentile that still counts as a tail.
TAIL_MIN_PCT = 90.0

# Per-layer metrics and their units, in the order they are printed.
LAYER_UNITS = {
    "construct.ms": "ms", "construct.jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.ms": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.single_task_stages": "count",
    "exec.task_cpu_ms": "ms", "exec.occupancy": "ratio",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.gc_ms": "ms",
    "exec.failed_tasks": "count",
    "storage.blocks_left": "count", "storage.bytes_left": "bytes",
    "storage.ops_leaving_blocks": "count",
    "source.fetch_calls": "count", "source.fetch_ms": "ms",
    "source.empty_fetches": "count", "source.rows_read": "rows",
    "sink.write_ms": "ms", "sink.rows_offered": "rows",
    "sink.rows_written": "rows", "sink.bytes_written": "bytes",
    "sink.files_written": "count", "sink.write_amplification": "ratio",
    "sink.useful_ratio": "ratio",
    "pipeline.jobs_per_subreddit": "count",
    "self.op_ms": "ms", "self.construct_ms": "ms", "self.analysis_ms": "ms",
    "self.optimization_ms": "ms", "self.planning_ms": "ms",
    "self.execute_ms": "ms", "self.fetch_ms": "ms", "self.write_ms": "ms",
    "self.probe_ms": "ms",
    "trace_overhead": "ratio",
}
# Ratios are taken over the whole traced run; everything else is a total
# per traced pass, so runs with different pass counts compare.
_RATIOS = {"exec.occupancy", "sink.write_amplification", "sink.useful_ratio",
           "pipeline.jobs_per_subreddit", "trace_overhead"}


def tail(samples):
    """The latency at the highest percentile that leaves at least
    ``TAIL_BEYOND`` samples above it: ``(value, percentile, samples above)``.

    With ``n`` sorted samples that is the ``(n - TAIL_BEYOND)``-th smallest,
    at percentile ``100 * (n - TAIL_BEYOND) / n``. Below ``TAIL_MIN_PCT`` it
    is no tail and the rule cannot be resolved at this sample count:
    ``None`` (under 100 samples).
    """
    s = sorted(samples)
    n = len(s)
    k = n - TAIL_BEYOND
    if k < 1 or 100.0 * k / n < TAIL_MIN_PCT:
        return None
    return s[k - 1], 100.0 * k / n, TAIL_BEYOND


def iqm(samples):
    """Interquartile mean: the mean of the sorted samples once a quarter of
    them (rounded down) is cut from each end.

    Like the median it ignores the slow and fast tails, but it averages the
    middle half instead of picking one or two order statistics, so it does
    not jump when one op crosses a gap between groups of latencies.
    """
    s = sorted(samples)
    cut = len(s) // 4
    return statistics.mean(s[cut:len(s) - cut])


def self_times(spans):
    """Each span's duration minus the part of its interval that its children
    cover (overlapping children count once), keyed by span id."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in sorted((max(c["start_ms"], lo), min(c["end_ms"], hi))
                           for c in children.get(s["id"], [])):
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["id"]] = (hi - lo) - covered
    return out


def self_time_by_name(spans):
    """Self time summed per span name."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out


def wall(result):
    """Duration of the timed phase: all its passes."""
    return sum(p["wall_s"] for p in result["passes"])


def end_to_end(result):
    """The end-to-end metrics of an untraced run, plus diagnostics for the
    summary line: the median op latency and the op tail (``None`` while the
    sample count cannot resolve it)."""
    w = wall(result)
    lat = [o["ms"] for o in result["ops"]]
    rows = result["rows_per_pass"] * len(result["passes"])
    metrics = {
        "setup_s": (result["setup_s"], "s"),
        "wall_s": (w, "s"),
        "op_iqm_ms": (iqm(lat), "ms"),
        "rows_per_s": (rows / w, "rows/s"),
        "peak_rss_mb": (result["peak_rss_mb"], "MB"),
    }
    return metrics, {"op_p50_ms": statistics.median(lat), "op_tail": tail(lat)}


def per_layer(result, spans, untraced):
    """Per-layer metrics of a traced run: counts and self times per traced
    pass, ratios over the run. ``untraced`` is the result of an untraced
    run of the same seed, the base of the trace overhead."""
    n = max(result.get("traced_passes", 0), 1)
    raw = dict(result.get("layers", {}))
    ops = raw.get("ops", 0.0)
    raw["pipeline.jobs_per_subreddit"] = (
        raw.get("pipeline.jobs", 0.0) / ops
        if result["workload"] == "ingest" and ops else 0.0)
    growth = raw.get("sink.warehouse_growth_bytes", 0.0)
    raw["sink.write_amplification"] = (
        raw.get("sink.bytes_written", 0.0) / growth if growth else 0.0)
    offered = raw.get("sink.rows_offered", 0.0)
    raw["sink.useful_ratio"] = (
        raw.get("sink.rows_written", 0.0) / offered if offered else 0.0)
    for name, ms in self_time_by_name(spans).items():
        raw[f"self.{name}_ms"] = ms
    raw["trace_overhead"] = wall(result) / wall(untraced)
    out = {}
    for name, unit in LAYER_UNITS.items():
        v = float(raw.get(name, 0.0))
        out[name] = (v if name in _RATIOS else v / n, unit)
    return out
