"""Metric names and units. ``BENCHMARK.json`` lists the same names (a
test keeps the two in step); every run prints all of them."""

from __future__ import annotations

# name, unit, bound (share of the parent's median a change may lose).
# Every bound is the largest allowed, 0.25. On the 4-vCPU VM the benchmark
# was built on, load from other guests slowed whole runs by up to half for
# tens of minutes, CPU time per operation included; the ten-seed spreads
# are in README.md.
END_TO_END = (
    ("setup_s", "s", 0.25),
    ("op_ms", "ms", 0.25),
    ("cpu_ms_per_op", "ms", 0.25),
    ("peak_rss_mb", "MB", 0.25),
)

REGISTRY_QUERIES = {
    "sql_surface": ("q1_pricing_summary", "window_battery"),
    # simhash rather than minhash for near duplicates: at local[4] on a
    # 4-vCPU VM, minhash takes 5 s cold and 1.7 s a rep, simhash 1.8 s and
    # 0.4 s, so a run fits more reps
    "llm_ops": ("dedup_simhash", "dedup_exact", "text_analyze"),
    "curation": ("duplicate_passage_spans",),
    "dataflow": ("lineproto_parse_distributed",),
    "timeseries": ("asof_battery",),
}
FLOOR_SHAPES = ("empty_job", "parquet_count", "one_exchange_agg", "one_python_stage", "one_python_stage_shuffled")

_LAYERS = """
api.write.requests count
api.query.requests count
api.write.overhead_ms ms
api.query.exec_stream_ms ms
lineproto.lines count
lineproto.busy_s s
lineproto.us_per_line us
lineproto.batches_per_request count
ingest.validate_s s
ingest.store_s s
ingest.flushes count
ingest.flush_s s
ingest.rows_per_flush count
ingest.ack_wait_ms ms
ingest.size_flush_frac ratio
writer.write_s s
writer.files_written count
writer.bytes_written bytes
writer.files_per_flush count
index.loads count
index.load_s s
index.saves count
index.save_s s
index.fsyncs count
index.fsync_s s
catalog.update_schema_s s
dialect.rewrite_s s
query.sql_calls count
query.sql_s s
query.sql_ms_p50 ms
query.bounds_s s
query.table_files_s s
query.plan_cache_hit_ratio ratio
query.files_scanned_ratio ratio
compactor.runs count
compactor.busy_s s
compactor.merges count
compactor.promotions count
compactor.bytes_rewritten bytes
compactor.write_amp ratio
compactor.live_files_per_partition count
compactor.l1_backlog_files count
compactor.overlap_query_frac ratio
spark.jobs_per_op count
spark.stages_per_op count
spark.tasks_per_op count
spark.executor_run_s s
spark.executor_cpu_s s
spark.input_bytes bytes
spark.shuffle_read_bytes bytes
spark.shuffle_write_bytes bytes
spark.spill_bytes bytes
gen.late_p95_ms ms
trace.overhead_frac ratio
trace.unattributed_frac ratio
storage.bytes_per_row bytes
"""

# per-layer metrics where more is better; every other one is better lower
HIGHER = {
    "api.write.requests", "api.query.requests", "lineproto.lines", "ingest.rows_per_flush",
    "ingest.size_flush_frac", "query.sql_calls", "query.plan_cache_hit_ratio",
}

PER_LAYER = (
    [tuple(line.split()) for line in _LAYERS.strip().splitlines()]
    + [(f"registry.{m}_s", "s") for m in REGISTRY_QUERIES]
    + [("registry.total_s", "s")]
    + [(f"registry.q.{q}_s", "s") for qs in REGISTRY_QUERIES.values() for q in qs]
    + [(f"floor.{k}_s", "s") for k in FLOOR_SHAPES]
)
