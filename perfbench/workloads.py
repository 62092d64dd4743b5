"""Workload and metric definitions shared by run.py and the self-tests."""

# Each query workload runs a fixed core of its query family (relational:
# queries/Relational and queries/Analytics; curation: ext.Dedup,
# ext.Similarity, ext.TextAnalysis and ext.Multimodal), sized so that one
# run (cold JVM, warm-up, several timed passes, checks) fits in about a
# minute on a 4-core box.
RELATIONAL_CORE = [
    "q01_pricing_summary", "q03_enrich_leftjoin", "q05_anti_join",
    "q13_semi_join", "q16_running_sum", "q17_tumbling_window",
    "q39_correlated_sql", "q43_set_ops",
]
# Memo derivations and their reuse in the same session (IVF train then
# assign, the media payloads then their stats), the iterative Lloyd loop,
# LSH codes, and text and media kernels. Most are short, so the median
# operation is one whose cost does not move with the query order.
CURATION_CORE = [
    "q179_ivf_train", "q176_ivf_assign", "q115_srp_codes",
    "q28_text_quality", "q62_nfc_normalize", "q70_fingerprint_md5",
    "q142_compression_ratio", "q32_multimodal_digest",
    "q71_media_content_stats", "q110_image_stats_exact",
]

QUERY_WORKLOADS = {
    "relational": RELATIONAL_CORE,
    "curation": CURATION_CORE,
}
INGEST_WORKLOADS = ("ingest", "stream-ingest")
WORKLOADS = tuple(QUERY_WORKLOADS) + INGEST_WORKLOADS

# Row counts of the core queries without a DuckDB oracle, at sf0.01. They
# are deterministic; a query missing here is checked for a non-empty result.
EXPECTED_ROWS_SF001 = {
    "q71_media_content_stats": 500,
}

# The reference's one published number: about 20 GB/day of CSV ingest.
REFERENCE_INGEST_MB_PER_S = 20e3 / 86400.0

# (name, unit) of every end-to-end metric the benchmark prints; the first
# seven go into the result line, the last two are carried by its
# `failed`/`attempted` and `correct` fields (they are 0 on a healthy run).
END_TO_END = [
    ("setup_s", "s"),
    ("run_s", "s"),
    ("op_p50_s", "s"),
    ("op_tail_s", "s"),
    ("ingest_mb_per_s", "MB/s"),
    ("stored_bytes_per_input_byte", "ratio"),
    ("peak_heap_mb", "MB"),
    ("fail_ratio", "ratio"),
    ("wrong_outputs", "count"),
]
RESULT_LINE_METRICS = [m for m in END_TO_END
                       if m[0] not in ("fail_ratio", "wrong_outputs")]

PER_LAYER = [
    ("SparkEntry.build_s", "s"),
    ("SparkEntry.build_jobs", "count"),
    ("SessionMemo.rebuild_s", "s"),
    ("plans.analysis_s", "s"),
    ("plans.optimization_s", "s"),
    ("plans.planning_s", "s"),
    ("driver.only_s", "s"),
    ("driver.only_share", "ratio"),
    ("exec.wall_s", "s"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.task_run_s", "s"),
    ("exec.task_cpu_s", "s"),
    ("exec.gc_s", "s"),
    ("exec.core_busy_share", "ratio"),
    ("exec.input_bytes", "bytes"),
    ("exec.shuffle_read_bytes", "bytes"),
    ("exec.shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"),
    ("exec.peak_task_mem_bytes", "bytes"),
    ("exec.task_skew", "ratio"),
    ("FilePipeline.run_s", "s"),
    ("FilePipeline.backfill_s", "s"),
    ("FilePipeline.jobs", "count"),
    ("FilePipeline.files_ingested", "count"),
    ("FilePipeline.files_quarantined", "count"),
    ("FilePipeline.rows_inserted", "count"),
    ("FilePipeline.bytes_written", "bytes"),
    ("FilePipeline.files_written", "count"),
    ("StreamingIngest.batches", "count"),
    ("StreamingIngest.add_batch_s", "s"),
    ("StreamingIngest.trigger_overhead_s", "s"),
    ("StreamingIngest.first_progress_s", "s"),
    ("trace.overhead_s", "s"),
    ("trace.uncovered_share", "ratio"),
]
# Layer times that read exactly 0 on every run of a workload that does not
# reach their layer (or, for GC, on a workload that never collects inside
# a task). A time that reads the same on every run carries no measurement,
# so these are printed with the others and kept in the trace file but left
# out of the result line.
PRINTED_ONLY = {
    "SparkEntry.build_s", "SessionMemo.rebuild_s", "exec.gc_s",
    "FilePipeline.run_s", "FilePipeline.backfill_s",
    "StreamingIngest.add_batch_s", "StreamingIngest.trigger_overhead_s",
    "StreamingIngest.first_progress_s",
}
RESULT_LINE_LAYERS = [m for m in PER_LAYER if m[0] not in PRINTED_ONLY]
