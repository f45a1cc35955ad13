"""The metric names, units and directions the benchmark reports.

``BENCHMARK.json`` declares the same sets (a self-test keeps them equal);
``run.py`` refuses to print a metric that is not listed here.
"""

from __future__ import annotations

# name → (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "latency_p50_ms": ("ms", "lower"),
    "records_per_s": ("rec/s", "higher"),
}

QUERY_ROWS = (
    "dedup_minhash_lsh",
    "contamination_check",
    "text_bm25_search",
    "dsir_importance_weights",
    "ann_ivf_topk",
    "q3_shipping_priority",
    "window_topk_parts_per_supplier",
)

PER_LAYER: dict[str, tuple[str, str]] = {
    "session.start_s": ("s", "lower"),
    "session.py_peak_rss_mb": ("MiB", "lower"),
    "session.jvm_peak_rss_mb": ("MiB", "lower"),
    "sources.pump_s": ("s", "lower"),
    "sources.messages": ("count", "higher"),
    "sources.bytes": ("bytes", "higher"),
    "sources.drain_rec_per_s": ("rec/s", "higher"),
    "processor.self_s": ("s", "lower"),
    "writers.self_s": ("s", "lower"),
    "writers.append_s": ("s", "lower"),
    "writers.append_jobs": ("count", "lower"),
    "writers.merge_s": ("s", "lower"),
    "writers.merge_jobs": ("count", "lower"),
    "writers.commits": ("count", "lower"),
    "writers.live_files": ("count", "lower"),
    "writers.space_amp": ("ratio", "lower"),
    **{
        f"{layer}.{op}_{what}": (unit, "lower")
        for layer, op in (("writers", "count_where"), ("writers", "agg_where"),
                          ("writers", "read_where"), ("writers", "plan_scan"),
                          ("datasets", "to_arrow"))
        for what, unit in (("ms", "ms"), ("jobs", "count"))
    },
    "writers.scan_ratio": ("share", "lower"),
    "writers.metadata_ratio": ("share", "higher"),
    "writers.select_ratio": ("share", "lower"),
    "fileio.self_s": ("s", "lower"),
    **{
        f"fileio.{phase}_{kind}": ("bytes" if kind == "bytes_written" else "count", "lower")
        for phase in ("sync", "read")
        for kind in ("gets", "puts", "lists", "exists", "bytes_written")
    },
    "state.flush_s": ("s", "lower"),
    "state.flushes": ("count", "lower"),
    "spark.sync_jobs": ("count", "lower"),
    **{
        f"queries.{row}_{what}": (unit, "lower")
        for row in QUERY_ROWS
        for what, unit in (("s", "s"), ("jobs", "count"), ("count_gap_s", "s"))
    },
    **{f"trace.{name}": spec for name, spec in END_TO_END.items()},
}
