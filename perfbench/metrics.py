"""The benchmark's metric names, units and directions: the single
source of the ``end_to_end`` and ``per_layer`` lists in BENCHMARK.json
(tests/test_contract.py keeps the two equal)."""

from __future__ import annotations

#: name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "run_s": ("s", "lower", 0.25),
    "read_gmean_s": ("s", "lower", 0.25),
}

SEARCH_LAYERS = ("operators.knn_planner", "operators.pq", "operators.nsw",
                 "functions.text", "api.vsearch", "operators.graph")
CALL_METRICS = (("plan_s", "s"), ("exec_s", "s"), ("jobs", "count"),
                ("tasks", "count"), ("failed_tasks", "count"))


def _per_layer() -> dict[str, tuple[str, str]]:
    out = {
        "session.start_s": ("s", "lower"),
        "tables.load_s": ("s", "lower"),
        "tables.jobs": ("count", "lower"),
        "tables.tasks": ("count", "lower"),
        "tables.index_bytes": ("bytes", "lower"),
    }
    for layer in SEARCH_LAYERS:
        for suffix, unit in CALL_METRICS:
            out[f"{layer}.{suffix}"] = (unit, "lower")
    for layer in ("operators.knn_planner", "operators.pq", "operators.nsw"):
        out[f"{layer}.recall_at_10"] = ("ratio", "higher")
    for verb in ("vadd_batch", "vlink_batch", "vdelete", "vreinforce"):
        out[f"api.{verb}_s"] = ("s", "lower")
    out.update({
        "api.write_p50_s": ("s", "lower"),
        "api.writes_since_compaction": ("count", "lower"),
        "sources.persistence.append_s": ("s", "lower"),
        "sources.persistence.snapshot_rewrite_s": ("s", "lower"),
        "sources.persistence.load_snapshot_s": ("s", "lower"),
        "sources.persistence.snapshot_bytes": ("bytes", "lower"),
        "sources.persistence.aof_bytes_per_item": ("bytes", "lower"),
        "sources.persistence.recover_s": ("s", "lower"),
        "streaming.ingest_upsert_s": ("s", "lower"),
        "streaming.jobs": ("count", "lower"),
        "bench.error_rate": ("ratio", "lower"),
        "bench.peak_rss_mb": ("MB", "lower"),
        "trace.run_s": ("s", "lower"),
        "trace.coverage": ("ratio", "higher"),
    })
    return out


PER_LAYER = _per_layer()
