"""Metric catalogue: names, units and direction, as BENCHMARK.json lists them.

The bounded end-to-end metrics are ``setup_s`` and CPU time: user +
system time of this process, the driver JVM and Spark's Python workers,
without the JVM's JIT compiler threads (their warm-up work lands in
whichever pass it overlaps; it is reported as ``jvm.jit_cold_cpu_s``).
A shared host's steal time is not charged to processes, so CPU time
repeats from run to run where wall time does not: over ten seeds on a
4-vCPU VM whose steal ranged from 1.5% to 21% of the run, the wall-clock
figures spread by 0.28-0.37 of their median (quartile distance), and the
driver JVM's peak RSS, which follows G1's heap sizing, by 0.3. No
regression bound can sit inside that, so those figures (``WALL``) are
measured with tracing off, printed in every run record, and reported
unbounded with the per-layer metrics.

Per-layer metrics come from the traced passes and are means per traced
query, except the per-run ``WALL``, ``session.*``, ``jvm.*`` and
``trace.*`` figures and the ratio ``spark.core_busy_frac``.
"""

from __future__ import annotations

# name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "cold_pass_cpu_s": ("s", "lower", 0.25),
    "query_cpu_s": ("s", "lower", 0.25),
}

# Wall-clock end-to-end figures, unbounded: name -> (unit, better)
WALL = {
    "cold_pass_s": ("s", "lower"),
    "queries_per_s": ("1/s", "higher"),
    "query_p50_s": ("s", "lower"),
    "query_tail_s": ("s", "lower"),
    "jvm_peak_rss_mb": ("MB", "lower"),
}
UNITS = {k: v[0] for k, v in {**END_TO_END, **WALL}.items()}

# name -> (unit, better)
_PER_LAYER = {
    "session.launch_s": ("s", "lower"),
    "session.start_s": ("s", "lower"),
    "session.python_warmup_s": ("s", "lower"),
    "jvm.jit_cold_cpu_s": ("s", "lower"),
    "catalog.load_calls": ("count", "lower"),
    "catalog.load_s": ("s", "lower"),
    "queries.build_s": ("s", "lower"),
    "queries.views_left": ("count", "lower"),
    "spark.plan.analysis_ms": ("ms", "lower"),
    "spark.plan.optimization_ms": ("ms", "lower"),
    "spark.plan.planning_ms": ("ms", "lower"),
    "spark.plan.probe_s": ("s", "lower"),
    "spark.exec_s": ("s", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.tasks_failed": ("count", "lower"),
    "spark.exec_run_s": ("s", "lower"),
    "spark.exec_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.core_busy_frac": ("frac", "higher"),
    "spark.python.boot_ms": ("ms", "lower"),
    "spark.python.init_ms": ("ms", "lower"),
    "spark.python.run_ms": ("ms", "lower"),
    "spark.python.bytes_sent": ("bytes", "lower"),
    "spark.python.bytes_received": ("bytes", "lower"),
    "streaming.batches": ("count", "lower"),
    "streaming.batch_s": ("s", "lower"),
    "streaming.trigger_ms": ("ms", "lower"),
    "streaming.addBatch_ms": ("ms", "lower"),
    "streaming.queryPlanning_ms": ("ms", "lower"),
    "streaming.latestOffset_ms": ("ms", "lower"),
    "streaming.walCommit_ms": ("ms", "lower"),
    "streaming.commitOffsets_ms": ("ms", "lower"),
    "streaming.drain_overhead_ms": ("ms", "lower"),
    "streaming.state_rows": ("count", "lower"),
    "streaming.state_mem_bytes": ("bytes", "lower"),
    "sinks.bytes_written": ("bytes", "lower"),
    "sinks.files_written": ("count", "lower"),
    "harness.self_s": ("s", "lower"),
    "trace.queries_per_s": ("1/s", "higher"),
    "trace.untraced_queries_per_s": ("1/s", "higher"),
    "trace.overhead_frac": ("frac", "lower"),
}
PER_LAYER = [{"name": k, "unit": u, "better": b} for k, (u, b) in {**WALL, **_PER_LAYER}.items()]


def benchmark_json(workloads, run_seconds: int) -> dict:
    """The BENCHMARK.json document these definitions describe."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": run_seconds,
        "workloads": [{"name": w.name, "why": w.why} for w in workloads],
        "end_to_end": [
            {"name": k, "unit": u, "better": b, "bound": bound}
            for k, (u, b, bound) in END_TO_END.items()
        ],
        "per_layer": PER_LAYER,
    }
