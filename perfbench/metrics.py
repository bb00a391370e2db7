"""Names and units of every metric the benchmark prints.

End-to-end metrics come from untraced runs (``--trace 0``); per-layer
metrics from the traced run (``--trace 1``). A layer that a workload
does not exercise reports 0 (for example the decoders on
``text_assembly``); the README lists which layer each workload drives.
"""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "1/s",
    "peak_rss_mb": "MiB",
}

PER_LAYER = {
    # core: single-process decoder calls over a seeded span sample
    "core.pdf_page_ms": "ms",
    "core.lattice_ms": "ms",
    "core.stream_ms": "ms",
    "core.ocr_page_ms": "ms",
    "core.html_page_ms": "ms",
    "core.html_table_ms": "ms",
    "core.quarantined_spans": "count",
    # spark.stages: the extraction MapInArrow node + ExtractionMetrics
    "spark.stages.python_s": "s",
    "spark.stages.init_s": "s",
    "spark.stages.decode_s": "s",
    "spark.stages.boundary_s": "s",
    "spark.stages.sent_mb": "MiB",
    "spark.stages.received_mb": "MiB",
    "spark.stages.spans_in": "count",
    "spark.stages.frags_out": "count",
    "spark.stages.tasks": "count",
    # calibration of the MapInArrow metrics on controlled stages
    "spark.stages.calib_identity_python_s": "s",
    "spark.stages.calib_identity_init_s": "s",
    "spark.stages.calib_sleep_python_s": "s",
    "spark.stages.calib_sleep_init_s": "s",
    "spark.stages.calib_slept_s": "s",
    # spark.pipeline: cumulative prefix walls and their self times
    "spark.pipeline.scan_s": "s",
    "spark.pipeline.explode_s": "s",
    "spark.pipeline.fragments_s": "s",
    "spark.pipeline.documents_s": "s",
    "spark.pipeline.explode_self_s": "s",
    "spark.pipeline.stage_self_s": "s",
    "spark.pipeline.reassemble_s": "s",
    "spark.pipeline.shuffle_mb": "MiB",
    "spark.pipeline.shuffle_records": "count",
    "spark.pipeline.spill_mb": "MiB",
    "spark.pipeline.agg_fallback_tasks": "count",
    "spark.pipeline.jobs": "count",
    "spark.pipeline.stages": "count",
    # ops.export + api: the TableList fan-out and its persist
    "ops.export.s": "s",
    "ops.export.python_s": "s",
    "ops.export.tables": "count",
    "api.persisted_mb": "MiB",
    "api.released_caches": "count",
    # spark.checkpoint: resumable parquet sink
    "spark.checkpoint.write_s": "s",
    "spark.checkpoint.resume_s": "s",
    "spark.checkpoint.bucket_s_p50": "s",
    "spark.checkpoint.bucket_s_max": "s",
    "spark.checkpoint.jobs_per_bucket": "count",
    "spark.checkpoint.scan_amplification": "ratio",
    "spark.checkpoint.buckets_failed": "count",
    "sink.mb": "MiB",
    "sink.files": "count",
    "out_bytes_per_in_byte": "ratio",
    # ops: text assembly, cumulative prefix walls and self times
    "ops.textfilters.clean_s": "s",
    "ops.dedup.clusters_s": "s",
    "ops.textfilters.decontaminate_s": "s",
    "ops.prepare.assemble_s": "s",
    "ops.dedup.self_s": "s",
    "ops.textfilters.decontaminate_self_s": "s",
    "ops.prepare.mixture_self_s": "s",
    "ops.shuffle_mb": "MiB",
    "ops.spill_mb": "MiB",
    "ops.jobs": "count",
    "ops.dedup.released_caches": "count",
    "ops.dedup.verified_pairs": "count",
    # the run as a whole
    "failed_ops_share": "ratio",
    "trace.job_wall_s": "s",
    "trace.traced_wall_s": "s",
    "trace.overhead": "ratio",
    "trace.layer_sum_s": "s",
    "trace.coverage": "ratio",
    "run.cpu_probe": "1/s",
    "run.host_probe_s": "s",
    "run.nproc": "count",
}


def report(values: dict, names: dict) -> dict:
    """``{name: {value, unit}}`` for every name, 0 where not measured."""
    unknown = set(values) - set(names)
    if unknown:
        raise KeyError(f"metrics not declared: {sorted(unknown)}")
    return {n: {"value": float(values.get(n, 0.0)), "unit": u}
            for n, u in names.items()}
