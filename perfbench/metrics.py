"""The benchmark's metric catalogue: names, units and direction.

``BENCHMARK.json`` lists exactly these metrics; ``test_catalogue``
keeps the two in step.
"""

from __future__ import annotations

from perfbench.spans import JOB_COUNTERS

END_TO_END = [
    # (name, unit, better, bound)
    ("rows_per_cpu_s", "1/cpu_s", "higher", 0.25),
    ("setup_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.2),
]

#: spans the workloads open around their calls into each layer; the
#: root ``iteration`` span holds one timed iteration
SPANS = [
    "iteration",
    "connector.write",
    "mapping.load",
    "mapping.backfill",
    "curation.build",
    "text.word_freq",
    "text.bpe_train",
    "text.vocab",
    "sinks.write_shards",
    "sinks.verify_read",
    "streaming.drain",
    "sinks.delivery_read",
]

#: per-layer counts the workloads record, with unit and direction
COUNTS = {
    "connector.write_rows": ("count", "higher"),
    "connector.dml_calls": ("count", "lower"),
    "connector.chunk_fill": ("ratio", "higher"),
    "connector.read_pages": ("count", "lower"),
    "connector.page_index_calls": ("count", "lower"),
    "mapping.backfill_rows": ("count", "higher"),
    "curation.docs_in": ("count", "higher"),
    "curation.docs_kept": ("count", "higher"),
    "curation.exact_dropped": ("count", "higher"),
    "curation.near_recall": ("ratio", "higher"),
    "text.merges": ("count", "higher"),
    "text.tokens": ("count", "lower"),
    "text.pack_windows": ("count", "lower"),
    "text.pack_fill": ("ratio", "higher"),
    "sinks.shard_bytes": ("B", "lower"),
    "sinks.files": ("count", "lower"),
    "streaming.batches": ("count", "lower"),
    "streaming.trigger_ms_p50": ("ms", "lower"),
    "streaming.add_batch_ms_p50": ("ms", "lower"),
    "streaming.overhead_ms_p50": ("ms", "lower"),
    "streaming.input_rows": ("count", "higher"),
    "streaming.delivered_rows": ("count", "lower"),
    "streaming.replay_dropped_rows": ("count", "higher"),
}


def per_layer() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in report order."""
    out = [("session.get_spark_s", "s", "lower"),
           ("trace.rows_per_s", "1/s", "higher"),
           ("iteration.self_s", "s", "lower")]
    for span in SPANS:
        out.append((f"{span}_s", "s", "lower"))
        out += [(f"{span}.{c}", unit, "lower") for c, unit in JOB_COUNTERS.items()]
    out += [(name, unit, better) for name, (unit, better) in COUNTS.items()]
    out.append(("streaming.jobs_per_batch", "ratio", "lower"))
    return out


def span_values(span: str, m: dict) -> dict[str, float]:
    """Metric values of one span from ``trace.span_metrics`` output."""
    out = {f"{span}_s": m["wall_s"]}
    out.update({f"{span}.{c}": m[c] for c in JOB_COUNTERS})
    if span == "iteration":
        out["iteration.self_s"] = m["self_s"]
    return out
