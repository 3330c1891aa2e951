"""Metric names and units — the one list ``run.py`` reports from and the
benchmark's tests check ``BENCHMARK.json`` against."""

END_TO_END = {
    "setup_s": "s",          # process start -> warm session (JVM, workers, one small warm pass)
    "wall_s": "s",           # median seconds per job: read input -> output committed as parquet
    "rows_per_s": "1/s",     # input rows / median wall_s
    "peak_rss_mb": "MB",     # per job: JVM peak RSS + its Python workers' PSS; median over jobs
    "write_amp": "ratio",    # bytes under the job's output directory / input parquet bytes
    "verified_frac": "ratio",  # runs whose output verified / runs attempted (1 - failed_frac)
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "deidentify.busy_s": "s",
    "deidentify.spans_in": "count",
    "deidentify.spans_out": "count",
    "deidentify.pseudonymized": "count",
    "deidentify.spans_per_s": "1/s",
    "lineage.overhead_s": "s",
    "lineage.bytes_written": "bytes",
    "lineage.rescan_bytes": "bytes",
    "lineage.spark_jobs": "count",
    "exchange.shuffle_write_bytes": "bytes",
    "exchange.shuffle_read_bytes": "bytes",
    "exchange.spill_bytes": "bytes",
    "exchange.task_skew": "ratio",
    "python.bytes_to_worker": "bytes",
    "python.bytes_from_worker": "bytes",
    "python.rows_from_worker": "count",
    "engine.core_util": "ratio",
    "engine.gc_s": "s",
    "engine.tasks": "count",
    "media.busy_s": "s",
    "media.images": "count",
    "media.boxes": "count",
    "media.boxes_painted_ratio": "ratio",
    "scrub.busy_s": "s",
    "scrub.docs_changed_ratio": "ratio",
    "extract.busy_s": "s",
    "extract.spans_out": "count",
    "textops.normalize_s": "s",
    "textops.quality_gate_s": "s",
    "spandedup.line_dedup_s": "s",
    "dedup.dedup_exact_s": "s",
    "textops.pack_sequences_s": "s",
    "curate.stage_bytes_written": "bytes",
    "curate.keep_ratio": "ratio",
    "trace.overhead_s": "s",
    "trace.layer_coverage": "ratio",
}
