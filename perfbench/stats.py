"""Statistics and the result record: percentiles with their sample rule,
log classification, and the metric names and units the benchmark prints.
"""
import math
import re

# Every metric the benchmark prints, with its unit. END_TO_END come from
# untraced runs (--trace 0), PER_LAYER from traced runs (--trace 1).
END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "rows_per_s": "1/s",
}
PER_LAYER = {
    "builder.s": "s",
    "builder.jobs": "count",
    "catalyst.analyze_s": "s",
    "catalyst.optimize_s": "s",
    "catalyst.plan_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.tasks_per_job": "ratio",
    "exec.cpu_s": "s",
    "exec.cpu_util": "ratio",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.gc_s": "s",
    "sources.read_mb": "MB",
    "sources.read_rows": "count",
    "etl.load_s": "s",
    "etl.precheck_s": "s",
    "etl.rows_in": "count",
    "etl.rows_out": "count",
    "etl.keep_ratio": "ratio",
    "etl.write_mb": "MB",
    "caches.pending_max": "count",
    "setup.session_s": "s",
    "setup.generate_s": "s",
    "setup.check_s": "s",
    "setup.warm_s": "s",
    "jvm.heap_peak_mb": "MB",
    "log.errors": "count",
    "log.accumulator_errors": "count",
    "trace.overhead": "ratio",
    "trace.coverage": "ratio",
    "error_rate": "ratio",
    "op.samples": "count",
    "op.p90_resolved": "count",
}

BEYOND = 10  # a percentile needs at least this many samples above it


def percentile(values, q):
    """The q-quantile of `values`, interpolated linearly between the two
    nearest order statistics, and whether it is resolved: a percentile is
    resolved when at least BEYOND samples lie above its position (p50
    needs 20 samples, p90 needs 92)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    value = xs[lo] + (pos - lo) * (xs[hi] - xs[lo])
    return value, len(xs) - 1 - lo >= BEYOND


ERROR_LINE = re.compile(r"^\S+ \S+ ERROR ")


def classify_log(lines):
    """Count log4j ERROR lines inside timed passes, split by kind.

    Returns (errors, accumulator_errors, passes): the totals over the
    lines between `[perfbench] pass k start` and `... end` markers."""
    errors = acc = passes = 0
    inside = False
    for line in lines:
        if line.startswith("[perfbench] pass "):
            inside = line.rstrip().endswith("start")
            passes += not inside
            continue
        if inside and ERROR_LINE.match(line):
            errors += 1
            acc += "accumulator" in line
    return errors, acc, passes


def record(correct, attempted, failed, values, names):
    """The result line: every metric in `names` with its unit."""
    missing = [n for n in names if n not in values]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {n: {"value": float(values[n]), "unit": names[n]} for n in names},
    }
