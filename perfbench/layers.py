"""Names and units of every metric the benchmark reports.

``END_TO_END`` is what a user of the engine sees; ``PER_LAYER`` is what
the traced run measures at each module boundary.  Every workload
reports every name; a layer a workload never enters reads 0.  Per-layer
values are per measured cycle (one ``parse``/``build``/``rebuild``/
``query`` round).
"""

from __future__ import annotations

END_TO_END = [
    ("setup_s", "s"),
    ("build_p50_s", "s"),
    ("build_tail_s", "s"),
    ("rebuild_p50_s", "s"),
    ("rebuild_tail_s", "s"),
    ("query_p50_s", "s"),
    ("query_tail_s", "s"),
    ("nodes_per_s", "1/s"),
    ("py_peak_rss_mb", "MB"),
]

ENGINE_LAYERS = [
    ("project.load_s", "s"),
    ("plans.parser.parse_s", "s"),
    ("plans.graph.link_s", "s"),
    ("plans.graph.select_s", "s"),
    ("plans.compiler.compile_s", "s"),
    ("plans.compiler.calls", "count"),
    ("plans.compiler.sql_bytes", "bytes"),
    ("functions.context.render_s", "s"),
    ("functions.context.calls", "count"),
    ("plans.partial.reparsed_per_changed", "ratio"),
    ("operators.relations.catalog_calls", "count"),
    ("operators.relations.catalog_s", "s"),
    ("sources.readers.register_source_s", "s"),
    ("run.artifacts.write_s", "s"),
    ("run.artifacts.bytes", "bytes"),
    ("run.runner.node_s", "s"),
    ("run.runner.worker_busy_ratio", "ratio"),
    ("run.runner.ready_wait_s", "s"),
    ("operators.materializations.view_s", "s"),
    ("operators.materializations.view_count", "count"),
    ("operators.materializations.table_s", "s"),
    ("operators.materializations.table_count", "count"),
    ("operators.materializations.incremental_s", "s"),
    ("operators.materializations.incremental_count", "count"),
    ("operators.snapshot.snapshot_s", "s"),
    ("operators.snapshot.count", "count"),
    ("streaming.microbatch.batches", "count"),
    ("streaming.microbatch.batch_s", "s"),
    ("operators.tests.test_s", "s"),
    ("operators.tests.count", "count"),
    ("operators.contracts.enforce_s", "s"),
]

# (module, function) of each LLM-data operator the llm_corpus workload calls
LLM_OPERATORS = [
    ("textstats", "quality_features"),
    ("textstats", "detect_language"),
    ("dedup", "minhash_dedup"),
    ("textstats", "bm25_index"),
    ("similarity", "ivf_index_build"),
    ("textstats", "bm25_query"),
    ("similarity", "ivf_index_search"),
    ("similarity", "cosine_topk_blas"),
    ("similarity", "ivf_index_append"),
]

OPERATOR_LAYERS = [
    (f"operators.{mod}.{fn}.{part}", "s" if part.endswith("_s") else "count")
    for mod, fn in LLM_OPERATORS
    for part in ("build_s", "build_jobs", "action_s", "action_jobs")
]

SPARK_LAYERS = [
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.skipped_stages", "count"),
    ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.executor_run_s", "s"),
]

HARNESS_LAYERS = [
    ("harness.unattributed_s", "s"),
    ("harness.trace_overhead_s", "s"),
    ("harness.session_start_s", "s"),
    ("harness.warmup_s", "s"),
]

PER_LAYER = ENGINE_LAYERS + OPERATOR_LAYERS + SPARK_LAYERS + HARNESS_LAYERS
UNITS = dict(END_TO_END + PER_LAYER)
