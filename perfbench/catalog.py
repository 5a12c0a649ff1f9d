"""Names and units of every metric the benchmark reports.

``END_TO_END`` is printed by untraced runs, ``PER_LAYER`` by traced
runs; both must match ``BENCHMARK.json`` (checked by the tests).  Every
run prints every name: a layer the workload does not exercise reads 0.
"""

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "unit_s_p50": "s",
    "rows_per_s": "rows/s",
}

PER_LAYER = {
    "bronze.ingest_share": "%",
    "bronze.jobs": "count",
    "silver.process_share": "%",
    "silver.jobs": "count",
    "gold.dim_date_share": "%",
    "gold.dims_share": "%",
    "gold.fact_share": "%",
    "gold.aggs_share": "%",
    "gold.jobs": "count",
    "sql.plan_share": "%",
    "sql.exec_share": "%",
    "sql.stmt_jobs": "count",
    "tables.write_share": "%",
    "tables.commits": "count",
    "tables.live_files": "count",
    "tables.versions": "count",
    "tables.manifest_bytes": "B",
    "tables.files_rewritten": "count",
    "tables.dv_files": "count",
    "tables.bytes_written_per_row": "B/row",
    "tables.space_amp": "ratio",
    "read.files_scanned": "count",
    "read.files_scanned_frac": "ratio",
    "operators.quality_share": "%",
    "operators.exact_dedup_share": "%",
    "operators.fuzzy_dedup_share": "%",
    "operators.decontaminate_share": "%",
    "operators.redact_share": "%",
    "operators.pack_share": "%",
    "operators.survivors": "count",
    "operators.jobs": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}
