"""Metric definitions: the end-to-end metrics of an untraced run and the
per-layer metrics of a traced run. ``BENCHMARK.json`` lists the same
names and units (checked by the benchmark's tests).

Layer names are the package's modules. Counts and times of the timed
passes are per pass (one pass runs every op of the workload once, the
stream replay included), so they do not depend on how many passes fit
in the run. A layer a workload never enters reads 0 there.
"""

from __future__ import annotations

END_TO_END = [
    {"name": "setup_s", "unit": "s"},
    {"name": "wall_s", "unit": "s"},
    {"name": "op_p50_s", "unit": "s"},
    {"name": "geomean_s", "unit": "s"},
]

#: Reported per layer and not end to end: on this host the JVM's
#: resident set moves by a third between runs of the same workload
#: (G1 grows the heap as GC timing dictates), wider than any bound.
PEAK_RSS = "peak_rss_mb"

#: name → (unit, better). Times of layers that one workload never
#: enters (catalog.s, operators.python_worker_s, streaming.batch_s,
#: streaming.add_batch_s read 0 on q4112_ref) are printed in the
#: detail line only, so every time listed here is measured on both
#: workloads.
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    PEAK_RSS: ("MiB", "lower"),
    "catalog.calls": ("count", "lower"),
    "catalog.jobs": ("count", "lower"),
    "queries.construct_s": ("s", "lower"),
    "queries.construct_jobs": ("count", "lower"),
    "queries.py4j_calls": ("count", "lower"),
    "plans.sizing_s": ("s", "lower"),
    "plans.stats_misses": ("count", "lower"),
    "exec.action_s": ("s", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.executor_run_s": ("s", "lower"),
    "exec.executor_cpu_s": ("s", "lower"),
    "exec.gc_s": ("s", "lower"),
    "exec.shuffle_write_mb": ("MiB", "lower"),
    "exec.shuffle_read_mb": ("MiB", "lower"),
    "exec.spill_mb": ("MiB", "lower"),
    "exec.input_mb": ("MiB", "lower"),
    "exec.broadcast_build_s": ("s", "lower"),
    "streaming.jobs_per_batch": ("count", "lower"),
    "streaming.state_rows": ("count", "lower"),
    "streaming.state_bytes_per_input_byte": ("ratio", "lower"),
    "trace.overhead_ratio": ("ratio", "lower"),
}


def per_layer_values(traced: dict, untraced: dict) -> dict[str, float]:
    """Per-layer values from a traced worker result, and the tracing
    overhead against an untraced one. The overhead compares each
    worker's fastest pass: a traced run has too few passes for a median
    that one slow pass does not move."""
    passes = traced["passes"]
    c = traced.get("counters", {})
    setup = traced.get("setup_counters", {})
    ev = traced.get("event_log", {})
    stream = traced.get("workload_info", {}).get("stream", {})
    batches = c.get("streaming.batches", 0)

    def per_pass(key: str) -> float:
        return c.get(key, 0.0) / passes

    def per_batch(key: str) -> float:
        return c.get(key, 0.0) / batches if batches else 0.0

    values = {
        "session.start_s": traced["session_start_s"],
        PEAK_RSS: traced[PEAK_RSS],
        # the catalog is entered at construction, on every pass
        "catalog.calls": per_pass("catalog.calls"),
        "catalog.s": per_pass("catalog.s"),
        "catalog.jobs": per_pass("catalog.jobs"),
        "queries.construct_s": per_pass("queries.construct_s"),
        "queries.construct_jobs": per_pass("queries.construct_jobs"),
        "queries.py4j_calls": per_pass("py4j_calls"),
        # statistics are planned and missed during set-up and warm-up
        "plans.sizing_s": setup.get("plans.sizing_s", 0.0),
        "plans.stats_misses": traced["stats_misses"],
        "exec.action_s": per_pass("exec.action_s"),
        "exec.jobs": per_pass("exec.jobs"),
        "exec.stages": per_pass("exec.stages"),
        "exec.tasks": per_pass("exec.tasks"),
        "operators.python_worker_s": traced["python_worker_s"] / passes,
        # JVM-wide: the driver's own allocation as well as the tasks'
        "exec.gc_s": traced["jvm_gc_s"] / passes,
        "streaming.batch_s": per_batch("streaming.batch_s"),
        "streaming.add_batch_s": per_batch("streaming.add_batch_s"),
        "streaming.jobs_per_batch": per_batch("streaming.jobs"),
        # state the stateful dedup holds after a replay, and its size
        # per byte of input offered (write amplification)
        "streaming.state_rows": stream.get("state_rows", 0),
        "streaming.state_bytes_per_input_byte": (
            stream["state_bytes"] / stream["input_bytes"] if stream else 0.0
        ),
        "trace.overhead_ratio": min(traced["pass_wall_s"]) / min(untraced["pass_wall_s"]),
    }
    for key in (
        "executor_run_s", "executor_cpu_s", "shuffle_write_mb",
        "shuffle_read_mb", "spill_mb", "input_mb", "broadcast_build_s",
    ):
        values[f"exec.{key}"] = ev.get(key, 0.0) / passes
    return values
