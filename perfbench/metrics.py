"""Metric catalog: units, direction, and for each per-layer metric the layer
(module under ``cdcrypt/``) it measures and the end-to-end metric and
workload it is expected to move. BENCHMARK.json declares the same names."""

END_TO_END = {
    # name: (unit, better)
    "ingest_events_per_s": ("events/s", "higher"),
    "epoch_latency_p50_s": ("s", "lower"),
    "scan_rows_per_s": ("rows/s", "higher"),
    "lookup_p50_ms": ("ms", "lower"),
    "stored_bytes_per_live_row": ("B/row", "lower"),
    "write_amplification": ("ratio", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "setup_s": ("s", "lower"),
}

_TRICKLE_P50 = "epoch_latency_p50_s on trickle_epochs"
_BULK_INGEST = "ingest_events_per_s on bulk_replay"
_SCAN = "scan_rows_per_s on both"
_LOOKUP = "lookup_p50_ms on both"

PER_LAYER = {
    # name: (unit, better, layer, moves)
    "pipeline.epoch_s": ("s", "lower", "streaming.pipeline", _TRICKLE_P50),
    "pipeline.self_s": ("s", "lower", "streaming.pipeline", _TRICKLE_P50),
    "spark.jobs_per_epoch": ("count", "lower", "streaming.pipeline",
                             _TRICKLE_P50),
    "spark.tasks_per_epoch": ("count", "lower", "streaming.pipeline",
                              _TRICKLE_P50),
    "dedup.resolve_s": ("s", "lower", "operators.dedup", _BULK_INGEST),
    "dedup.rows_in": ("rows", "lower", "operators.dedup", _BULK_INGEST),
    "dedup.rows_out": ("rows", "lower", "operators.dedup", _BULK_INGEST),
    "dedup.survivor_ratio": ("ratio", "lower", "operators.dedup",
                             _BULK_INGEST),
    "lake.bucket_skew": ("ratio", "lower", "table.lake (shuffle)",
                         _BULK_INGEST),
    "transform.encrypt_s": ("s", "lower", "operators.transform",
                            _BULK_INGEST),
    "transform.encrypt_us_per_row": ("us", "lower", "operators.transform",
                                     _BULK_INGEST),
    "transform.decrypt_s": ("s", "lower", "operators.transform", _SCAN),
    "transform.decrypt_us_per_row": ("us", "lower", "operators.transform",
                                     _SCAN),
    "envelope.encrypt_us_per_row": ("us", "lower", "envelope",
                                    "floor of transform.encrypt_us_per_row"),
    "envelope.decrypt_us_per_row": ("us", "lower", "envelope",
                                    "floor of transform.decrypt_us_per_row"),
    "kms.data_keys_per_1k_rows": ("count", "lower", "kms", _BULK_INGEST),
    "merge.delta_write_s": ("s", "lower", "operators.merge",
                            _TRICKLE_P50 + "; write_amplification"),
    "merge.upsert_s": ("s", "lower", "operators.merge", _TRICKLE_P50),
    "lake.read_plan_s": ("s", "lower", "table.lake (read)", _LOOKUP),
    "lake.files_per_lookup": ("count", "lower", "table.lake (read)",
                              _LOOKUP),
    "lake.delta_files": ("count", "lower", "table.lake (read)",
                         _LOOKUP + "; " + _SCAN),
    "lake.scan_s": ("s", "lower", "table.lake (read)", _SCAN),
    "trace.overhead_ratio": ("ratio", "lower", "perfbench tracer",
                             "none (traced epoch / untraced epoch - 1)"),
}


def as_result(values: dict, catalog: dict) -> dict:
    return {k: {"value": values[k], "unit": catalog[k][0]} for k in catalog}
