"""The per-layer metrics a traced run reports, and what each should move.

One row per metric: name, unit, the program module (layer) it measures,
the end-to-end metric it should move and the workload it should move it
on. ``BENCHMARK.json``'s ``per_layer`` list is this table's names and
units; the traced run writes the whole table next to the values. Metrics
named ``*_p50``/``*_p90``/``*_max`` are taken over the timed phase; the
rest are per timed unit of work (a catalog round, a CDC iteration, a
micro-batch), except the streaming counts, which are per run.
"""

from __future__ import annotations

ALL = "all"
R, C, B = "ratings_pipeline", "cdc_merge", "catalog_batch"
FAMILIES = ("ann", "core", "curation", "dedup", "sketch", "tpch")

CATALOGUE: "list[tuple[str, str, str, str, str]]" = [
    # name, unit, layer, should move, on workload
    ("session.start_s", "s", "session", "setup_s", ALL),
    ("warmup_s", "s", "bench", "setup_s", ALL),
    ("jvm.gc_ms", "ms", "process", "peak_rss_mb, cpu_s", ALL),
    ("jvm.heap_used_mb_max", "MB", "process", "peak_rss_mb", ALL),
    ("rss.jvm_mb", "MB", "process", "peak_rss_mb", ALL),
    ("rss.python_mb", "MB", "process", "peak_rss_mb", ALL),
    ("rss.workers_mb", "MB", "process", "peak_rss_mb", ALL),
    ("stream.batches", "count", "streaming.runtime", "sample count of latency_ms", R),
    ("stream.rows_per_batch_p50", "rows", "streaming.runtime", "latency_ms", R),
    ("stream.trigger_ms_p50", "ms", "streaming.runtime", "latency_ms", R),
    ("stream.trigger_ms_p90", "ms", "streaming.runtime", "latency_ms", R),
    ("stream.overhead_ms_p50", "ms", "streaming.runtime", "latency_ms", R),
    ("stream.source_ms_p50", "ms", "streaming.runtime", "latency_ms", R),
    ("stream.planning_ms_p50", "ms", "spark", "latency_ms", R),
    ("stream.checkpoint_ms_p50", "ms", "streaming.runtime", "latency_ms", R),
    ("stream.jobs_per_batch", "count", "spark", "latency_ms", R),
    ("state.commit_ms_p50", "ms", "streaming.runtime", "latency_ms", R),
    ("state.rows_total_max", "rows", "streaming.runtime", "latency_ms, peak_rss_mb", R),
    ("state.memory_mb_max", "MB", "streaming.runtime", "peak_rss_mb", R),
    ("state.rows_removed", "rows", "streaming.runtime", "latency_ms", R),
    ("sink.call_ms_p50", "ms", "streaming.sinks", "latency_ms, work_s", R),
    ("sink.docs", "count", "streaming.sinks", "work_s", R),
    ("sink.files", "count", "streaming.sinks", "work_s", R),
    ("drain.batches", "count", "streaming.runtime", "work_s", R),
    ("drain.rows_per_batch_p50", "rows", "streaming.runtime", "work_s", R),
    ("drain.add_batch_ms_p50", "ms", "operators.relational", "work_s", R),
    ("drain.shuffle_write_mb", "MB", "spark", "work_s", R),
    ("acid.merge.jobs_p50", "count", "sources.acid", "latency_ms", C),
    ("acid.merge.job_ms_p50", "ms", "sources.acid", "latency_ms", C),
    ("acid.merge.driver_gap_ms_p50", "ms", "sources.acid", "latency_ms", C),
    ("acid.merge.py4j_calls_p50", "count", "sources.acid", "latency_ms", C),
    ("acid.merge.files_rewritten_p50", "count", "sources.acid", "latency_ms", C),
    ("acid.merge.write_amp", "ratio", "sources.acid", "latency_ms", C),
    ("acid.log.checkpoint_commit_ms_p50", "ms", "sources.acid", "latency_ms", C),
    ("acid.retries", "count", "sources.acid", "latency_ms, failed", C),
    ("acid.read.jobs_p50", "count", "sources.acid", "work_s", C),
    ("acid.read.files_scanned_p50", "count", "sources.acid", "work_s", C),
    ("acid.table_files", "count", "sources.acid", "work_s", C),
    ("acid.feed.jobs_p50", "count", "sources.acid", "work_s", C),
    ("acid.feed.rows_p50", "rows", "sources.acid", "work_s", C),
    ("tables.load_calls", "count", "sources.tables", "latency_ms", B),
    ("tables.load_ms", "ms", "sources.tables", "latency_ms", B),
    ("plans.build_ms", "ms", "plans", "latency_ms", B),
    ("plans.build_jobs", "count", "plans", "work_s", B),
    ("py4j.calls", "count", "plans", "latency_ms", "catalog_batch, cdc_merge"),
    ("spark.plan_ms", "ms", "spark", "latency_ms", B),
    ("spark.driver_gap_ms", "ms", "spark", "latency_ms", ALL),
    ("spark.jobs", "count", "spark", "work_s", ALL),
    ("spark.stages", "count", "spark", "work_s", ALL),
    ("spark.tasks", "count", "spark", "work_s", ALL),
    ("spark.job_ms", "ms", "spark", "work_s", ALL),
    ("spark.shuffle_write_mb", "MB", "spark", "work_s", ALL),
    ("spark.shuffle_read_mb", "MB", "spark", "work_s", ALL),
    ("spark.spill_mb", "MB", "spark", "work_s, peak_rss_mb", ALL),
    ("operators.python_ms", "ms", "operators", "work_s", ALL),
    ("operators.python_boot_ms", "ms", "operators", "work_s", ALL),
    ("caching.released", "count", "caching", "work_s", B),
]
for _f in FAMILIES:
    _m = "work_s" if _f in ("dedup", "sketch") else "latency_ms"
    CATALOGUE += [
        (f"plans.build_ms.{_f}", "ms", "plans", _m, B),
        (f"spark.job_ms.{_f}", "ms", "spark", _m, B),
        (f"spark.driver_gap_ms.{_f}", "ms", "spark", _m, B),
        (f"operators.python_ms.{_f}", "ms", "operators", _m, B),
    ]

UNITS = {name: unit for name, unit, *_ in CATALOGUE}
# BENCHMARK.json's per_layer list. A traced run of any workload reports all
# of them; a metric of another workload's layer reads 0.
PER_LAYER = [(name, unit) for name, unit, *_ in CATALOGUE]
