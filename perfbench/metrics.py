"""Names and units of every metric the benchmark prints.

``BENCHMARK.json`` at the repository root lists the same names; the
tests in ``perfbench/tests`` check that the two agree.
"""

from __future__ import annotations

# (name, unit, better, bound): printed with --trace 0
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("rows_per_s", "rows/s", "higher", 0.25),
    ("cpu_ms_per_row", "ms", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.25),
]

# layers are named after the repository's modules
LAYERS = [
    "synth", "knn", "hubness", "linkage", "clustering",
    "curation", "dedup", "er", "jobs",
]

LAYER_COMMON = [
    ("wall_s", "s"),
    ("self_s", "s"),
    ("task_s", "s"),
    ("idle_core_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("failed_tasks", "count"),
    ("shuffle_read_mb", "MB"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("rows_out", "rows"),
]

LAYER_SPECIFIC = [
    ("knn.pairs_scored", "pairs"),
    ("knn.pairs_per_task_s", "pairs/s"),
    ("hubness.rows_in", "rows"),
    ("dedup.candidate_pairs", "pairs"),
    ("dedup.verified_frac", "ratio"),
    ("er.blocked_pairs", "pairs"),
    ("er.matched_frac", "ratio"),
    ("clustering.edges_in", "edges"),
    ("clustering.components", "count"),
    ("jobs.state_bytes_written", "bytes"),
    ("jobs.state_files_written", "count"),
    ("unattributed.task_s", "s"),
    ("trace.overhead_frac", "ratio"),
    ("host.steal_frac", "ratio"),
]

# per-layer metrics where more is better; for the rest less is
PER_LAYER_HIGHER = {"knn.pairs_per_task_s", "dedup.verified_frac", "er.matched_frac"}

# (name, unit): printed with --trace 1
PER_LAYER = [
    (f"{layer}.{name}", unit) for layer in LAYERS for name, unit in LAYER_COMMON
] + LAYER_SPECIFIC
