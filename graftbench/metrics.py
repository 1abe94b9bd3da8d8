"""The benchmark's own arithmetic, kept free of I/O so selftest.py can pin it:
percentile picking, failure counting and the metric tables."""
import statistics

# Metric name -> (unit, better). BENCHMARK.json declares the same names.
END_TO_END = {
    "run_s": ("s", "lower"),
    "op_p50_s": ("s", "lower"),
    "op_tail_s": ("s", "lower"),
    "setup_s": ("s", "lower"),
    "ok_frac": ("frac", "higher"),
}

PIPELINE_STAGES = ["wh_dim_customer", "wh_dim_publisher", "wh_fact_sales",
                   "wh_collab_edges", "corpus", "index", "corpus_hashes"]

PER_LAYER = {
    "operators.eager_s": "s", "operators.eager_jobs": "count",
    "iterate.checkpoint_jobs": "count", "iterate.checkpoint_s": "s",
    "ranks.jobs": "count", "ranks.s": "s",
    **{f"pipeline.stage_s.{t}": "s" for t in PIPELINE_STAGES},
    "sinks.upsert_s": "s", "ingest.batch_s": "s", "sinks.write_amp": "ratio",
    "sinks.table_files": "count", "sinks.table_mb": "MB",
    "spark.planning_s": "s", "spark.graft_rules_s": "s", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count", "spark.tasks_per_stage": "ratio",
    "spark.scheduler_delay_s": "s", "spark.driver_only_s": "s",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.executor_busy_frac": "frac", "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
    "spark.input_mb": "MB", "spark.output_mb": "MB",
    "jvm.peak_rss_mb": "MB", "trace.run_s": "s", "trace.overhead_frac": "frac",
}

TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def quantile(xs, pct):
    """Linear-interpolated percentile of a non-empty sample."""
    s = sorted(xs)
    pos = pct / 100.0 * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail(xs):
    """The highest ladder percentile with at least MIN_BEYOND samples above
    it: (percentile, value, samples beyond). A sample too small for any
    ladder step falls back to the median, flagged by its beyond count."""
    best = None
    for pct in TAIL_LADDER:
        v = quantile(xs, pct)
        beyond = sum(1 for x in xs if x > v)
        if beyond >= MIN_BEYOND:
            best = (pct, v, beyond)
    if best is None:
        v = quantile(xs, 50.0)
        best = (50.0, v, sum(1 for x in xs if x > v))
    return best


def count_failures(ops, expected, bad_names, bad_passes):
    """Failed measured ops: an op fails when it threw, when its row count or
    row hash differs from the setup pass's verified output, when its setup
    output itself failed a check (bad_names), or when the state checks of its
    pass failed (bad_passes). ops: dicts with pass, name, rows, hash, error;
    expected: name -> (rows, hash)."""
    failed = 0
    for o in ops:
        want = expected.get(o["name"])
        if (o["error"] is not None or want is None or o["name"] in bad_names
                or o["pass"] in bad_passes or (o["rows"], o["hash"]) != want):
            failed += 1
    return failed


def end_to_end(pass_seconds, op_seconds, setup_s, attempted, failed):
    """The end-to-end metric values, plus the tail's percentile and count."""
    pct, tail_v, beyond = tail(op_seconds)
    values = {
        "run_s": statistics.median(pass_seconds),
        "op_p50_s": statistics.median(op_seconds),
        "op_tail_s": tail_v,
        "setup_s": setup_s,
        "ok_frac": 1.0 - failed / attempted,
    }
    return values, {"tail_pct": pct, "tail_beyond": beyond, "samples": len(op_seconds)}


def render(values, units):
    """The result line's metrics: every declared name with its unit."""
    return {k: {"value": values[k], "unit": unit} for k, unit in units.items()}
