"""Metric definitions and the result line of the benchmark.

Every metric the benchmark can print is declared here with its unit and
direction; `BENCHMARK.json` lists the subset that is tracked.
"""
import json
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# Per-query and per-module times, reported by the headliners workload only.
CATALOG_PREFIXES = ("query.", "module.")

# Fewer samples than this and a 90th percentile is not reported.
P90_MIN_SAMPLES = 100

ANALYTICS = ["kpiTotals", "avgRating", "businessesByStars", "yearlyTrends",
             "dayWiseByCategory", "engagementByCategory", "topStates",
             "mostActive", "topBusinessesPerCity", "reviewLengthByMonth"]

# name -> (unit, better); printed with --trace 0
END_TO_END = {
    "setup_s": ("s", "lower"),
    "pass_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

# Reported in the summary and report file but not tracked (README: Metrics).
REPORTED = {
    "op_p50_s": ("s", "lower"),
    "rows_per_s": ("rows/s", "higher"),
}

# name -> (unit, better); printed with --trace 1
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "session.shuffle_partitions": ("count", "lower"),
    "master.write_s": ("s", "lower"),
    "master.rows_out": ("count", "higher"),
    "master.dedup_keep_ratio": ("ratio", "higher"),
    "master.output_mb": ("MB", "lower"),
    "master.output_files": ("count", "lower"),
    "master.output_bytes_per_input_byte": ("ratio", "lower"),
    "cache.fill_s": ("s", "lower"),
    "cache.entries": ("count", "lower"),
    "cache.mem_mb": ("MB", "lower"),
    "cache.disk_mb": ("MB", "lower"),
    **{f"analytics.{f}_s": ("s", "lower") for f in ANALYTICS},
    "catalyst.analysis_ms": ("ms", "lower"),
    "catalyst.optimization_ms": ("ms", "lower"),
    "catalyst.planning_ms": ("ms", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.task_run_s": ("s", "lower"),
    "exec.task_cpu_s": ("s", "lower"),
    "exec.gc_s": ("s", "lower"),
    "exec.input_mb": ("MB", "lower"),
    "exec.shuffle_write_mb": ("MB", "lower"),
    "exec.shuffle_read_mb": ("MB", "lower"),
    "exec.spill_mb": ("MB", "lower"),
    "exec.core_util": ("ratio", "higher"),
    "exec.driver_gap_s": ("s", "lower"),
    "trace.pass_s": ("s", "lower"),
    "trace.untraced_pass_s": ("s", "lower"),
    "trace.overhead_ratio": ("ratio", "lower"),
}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def per_op_medians(ops):
    """Each distinct operation's median time over the run's passes."""
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(o["seconds"])
    return {n: statistics.median(ts) for n, ts in by_name.items()}


def typical_pass(ops):
    """One pass assembled from per-operation medians: a slow outlier of
    one operation in one pass does not move it."""
    return sum(per_op_medians(ops).values())


def median_op(ops):
    """The median over distinct operations of their median times."""
    return median(list(per_op_medians(ops).values()))


def percentile(xs, p):
    """Nearest-rank percentile; None below P90_MIN_SAMPLES samples, so a
    tail figure is never read off a handful of operations."""
    if len(xs) < P90_MIN_SAMPLES:
        return None
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def result_line(correct, attempted, failed, values, trace):
    """The last stdout line: exactly correct/attempted/failed/metrics."""
    spec = PER_LAYER if trace else END_TO_END
    missing = sorted(set(spec) - set(values))
    if missing:
        raise ValueError(f"metrics not measured: {missing}")
    metrics = {n: {"value": float(values[n]), "unit": spec[n][0]}
               for n in spec}
    for n, v in values.items():  # catalog extras of the headliners run
        if trace and n.startswith(CATALOG_PREFIXES) and NAME_RE.match(n):
            metrics[n] = {"value": float(v), "unit": unit_of(n)}
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": metrics})


def unit_of(name):
    for spec in (END_TO_END, PER_LAYER, REPORTED):
        if name in spec:
            return spec[name][0]
    return "s" if name.endswith("_s") else "count"
