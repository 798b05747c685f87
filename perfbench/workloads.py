"""Workload definitions: which registered queries run, and into which sink.

Each workload is a fixed list of registry names drawn from a fixed set of
query modules. The run's ``--seed`` permutes the order of the list in
every pass and changes nothing else. The lists are small on purpose: the
fixed cost of one query (load, build, Catalyst, job launch) is most of
its time at the benchmark's scale, and a run has to fit cold start, a
cold pass, the steady passes and the oracle pass in about a minute.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    modules: tuple[str, ...]  # query modules the names must come from
    queries: tuple[str, ...]
    sink: str  # "noop" or "parquet"
    eager_ok: bool  # whether stream/driver-loop (eager) specs belong here
    moves: dict[str, tuple[str, ...]]  # per-layer metric -> end-to-end metrics


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="short_lazy",
            why=(
                "sub-second lazy relational, TPC-H, window and scalar queries to "
                "the noop sink, where the per-query floor (load, build, plan, "
                "job launch) is most of the time"
            ),
            modules=("relational", "tpch_rest", "windows", "scalars"),
            queries=(
                "pricing_summary",
                "order_priority_semi",
                "q12_priority_line_classes",
                "topk_parts_per_brand",
                "part_name_cleanup",
                "events_asof_value",
            ),
            sink="noop",
            eager_ok=False,
            moves={
                "catalog.load_s": ("query_p50_s", "queries_per_s", "cold_pass_s", "query_cpu_s", "cold_pass_cpu_s"),
                "catalog.load_calls": ("query_p50_s", "queries_per_s", "cold_pass_s", "query_cpu_s", "cold_pass_cpu_s"),
                "queries.build_s": ("query_p50_s", "query_cpu_s"),
                "spark.plan.analysis_ms": ("query_p50_s", "cold_pass_s", "query_cpu_s", "cold_pass_cpu_s"),
                "spark.plan.optimization_ms": ("query_p50_s", "cold_pass_s", "query_cpu_s", "cold_pass_cpu_s"),
                "spark.plan.planning_ms": ("query_p50_s", "cold_pass_s", "query_cpu_s", "cold_pass_cpu_s"),
                "spark.jobs": ("queries_per_s", "query_cpu_s"),
                "spark.stages": ("queries_per_s", "query_cpu_s"),
                "spark.tasks": ("queries_per_s", "query_cpu_s"),
            },
        ),
        Workload(
            name="etl_stream",
            why=(
                "the extract-flatten-write path written as Parquet, with Python "
                "UDTFs and decoders, plus micro-batch streams and a driver-loop "
                "iteration"
            ),
            modules=(
                "ref_pipeline", "nested", "xml_notices", "ingest", "udtf_text",
                "multimodal", "scrape", "events", "graph",
            ),
            queries=(
                "xml_attr_extract",
                "bigram_expand_udtf",
                "stream_dedup_pairs",
                "supplier_pagerank",
            ),
            sink="parquet",
            eager_ok=True,
            moves={
                "spark.exec_run_s": ("queries_per_s", "query_tail_s", "query_cpu_s"),
                "spark.exec_cpu_s": ("queries_per_s", "query_tail_s", "query_cpu_s"),
                "spark.gc_s": ("queries_per_s", "query_tail_s", "query_cpu_s"),
                "spark.shuffle_read_bytes": ("queries_per_s", "query_tail_s", "query_cpu_s"),
                "spark.shuffle_write_bytes": ("queries_per_s", "query_tail_s", "query_cpu_s"),
                "spark.spill_bytes": ("queries_per_s", "query_tail_s", "query_cpu_s"),
                "spark.core_busy_frac": ("queries_per_s", "query_tail_s", "query_cpu_s"),
                "spark.python.boot_ms": ("query_tail_s", "cold_pass_s", "query_cpu_s", "cold_pass_cpu_s"),
                "spark.python.init_ms": ("query_tail_s", "cold_pass_s", "query_cpu_s", "cold_pass_cpu_s"),
                "spark.python.run_ms": ("query_tail_s", "cold_pass_s", "query_cpu_s", "cold_pass_cpu_s"),
                "spark.python.bytes_sent": ("query_tail_s", "cold_pass_s", "query_cpu_s", "cold_pass_cpu_s"),
                "spark.python.bytes_received": ("query_tail_s", "cold_pass_s", "query_cpu_s", "cold_pass_cpu_s"),
                "streaming.batches": ("query_tail_s", "queries_per_s", "query_cpu_s"),
                "streaming.trigger_ms": ("query_tail_s", "queries_per_s", "query_cpu_s"),
                "streaming.addBatch_ms": ("query_tail_s", "queries_per_s", "query_cpu_s"),
                "streaming.drain_overhead_ms": ("query_tail_s", "queries_per_s", "query_cpu_s"),
                "spark.jobs": ("queries_per_s", "query_cpu_s"),
                "sinks.bytes_written": ("queries_per_s", "jvm_peak_rss_mb", "query_cpu_s"),
                "sinks.files_written": ("queries_per_s", "jvm_peak_rss_mb", "query_cpu_s"),
            },
        ),
    )
}

# Moves every workload shares.
COMMON_MOVES = {
    "session.start_s": ("setup_s",),
    "session.python_warmup_s": ("setup_s",),
}
