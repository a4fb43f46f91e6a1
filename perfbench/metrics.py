"""Names, units and directions of the benchmark's metrics.

``BENCHMARK.json`` at the repo root lists the same metrics; a test keeps
the two in step.
"""

from __future__ import annotations

# (name, unit, better, bound): bound is the share of the parent's median
# by which the metric may get worse before a change counts as a regression
END_TO_END = (
    ("clips_per_s", "1/s", "higher", 0.25),
    ("setup_s", "s", "lower", 0.25),
    ("dup_pair_recall", "ratio", "higher", 0.01),
    ("pair_precision", "ratio", "higher", 0.02),
)

SPAN_FIELDS = (
    ("wall_s", "s"),
    ("busy_s", "s"),
    ("idle_s", "s"),
    ("jobs", "count"),
    ("shuffle_mb", "MB"),
    ("spill_mb", "MB"),
    ("skew", "ratio"),
)

# pipeline stage (manifest name) -> span name
STAGE_SPANS = {
    "signatures": "signatures.scan",
    "exact_hashes": "exact_dedup.hashes",
    "exact_pairs": "pairs.exact",
    "minhash_pairs": "minhash.pairs",
    "simhash_pairs": "simhash.pairs",
    "substring_pairs": "substring.pairs",
    "clusters": "connected_components.clusters",
}
INGEST_SPANS = ("incremental_neardup.probe", "incremental_clusters.fold")
MINE_SPANS = ("mine.docs", "mine.metadata")
# ingest figures read once, after the last shard, not per shard
INGEST_FINAL = (
    "incremental_neardup.state_files",
    "incremental_neardup.state_mb",
    "incremental_clusters.state_files",
    "incremental_neardup.exact_recall",
    "incremental_neardup.near_recall",
    "incremental_clusters.pair_precision",
)


def _span(name: str, with_rows: bool) -> list[tuple[str, str, str]]:
    rows = [(f"{name}.rows", "count", "lower")] if with_rows else []
    return [(f"{name}.{f}", unit, "lower") for f, unit in SPAN_FIELDS] + rows


# (name, unit, better)
PER_LAYER = tuple(
    _span("pipeline.run", False)
    + [m for s in STAGE_SPANS.values() for m in _span(s, True)]
    + [
        ("dag.overhead_s", "s", "lower"),
        ("simhash.buckets_dropped", "count", "lower"),
        ("simhash.rows_dropped", "count", "lower"),
        ("pairs.redundant_frac", "ratio", "lower"),
        ("pairs.useful_frac", "ratio", "higher"),
    ]
    + [m for s in INGEST_SPANS for m in _span(s, False)]
    + [
        ("incremental_neardup.input_mb", "MB", "lower"),
        ("incremental_neardup.matches", "count", "higher"),
        ("incremental_neardup.state_files", "count", "lower"),
        ("incremental_neardup.state_mb", "MB", "lower"),
        ("incremental_clusters.state_files", "count", "lower"),
        ("incremental_neardup.probe_growth", "ratio", "lower"),
        ("incremental_clusters.fold_growth", "ratio", "lower"),
        ("incremental_neardup.backfill_s", "s", "lower"),
        ("ingest.shard_wall_s", "s", "lower"),
        ("incremental_neardup.exact_recall", "ratio", "higher"),
        ("incremental_neardup.near_recall", "ratio", "higher"),
        ("incremental_clusters.pair_precision", "ratio", "higher"),
    ]
    + [m for s in MINE_SPANS for m in _span(s, False)]
    + [
        ("mine.docs_kept", "count", "higher"),
        ("mine.paras_kept", "count", "higher"),
        ("session.start_s", "s", "lower"),
        ("session.warmup_s", "s", "lower"),
        ("spark.gc_s", "s", "lower"),
        ("spark.peak_rss_mb", "MB", "lower"),
        ("trace.overhead_frac", "ratio", "lower"),
    ]
)
