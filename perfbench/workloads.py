"""The benchmark's workloads: which declared ops each one runs, and why.

Every op is called only through its public entry point,
``registry.QUERIES[name](spark, data_dir)``.  The data is a fixed copy
of the repository's test data under ``perfbench/data``; a run's seed sets
only the op order of each pass.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    ops: tuple[str, ...]
    # steady pass length on a 4-core host at the shipped data; sets how
    # many warm-up and steady passes fit in a run's --seconds
    nominal_pass_s: float


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "routing_olap",
            "short reference-surface ops: fixed per-query cost (Catalyst, "
            "job scheduling, small scans) dominates; no gram index, no "
            "pandas UDFs, no streaming state",
            (
                "route_latest_state",       # operators.state
                "preset_apply_merge",       # operators.presets
                "display_group_islands",    # operators.groups
                "range_partition_outputs",  # operators.range_partition
                "routes_csv_denorm",        # operators.joins
                "set_except",               # operators.setops
                "scd2_customer_history",    # operators.cdc
                "parse_range_expand",       # functions.ranges
                "session_windows",          # streaming.windows (batch form)
            ),
            nominal_pass_s=4.2,
        ),
        Workload(
            "stream_ingest",
            "availableNow micro-batches that build the gram index and "
            "append its delta legs, and keep sharded pandas state; a fresh "
            "index root every pass, so every pass does the writes",
            (
                "stream_index_ingest_unification",
                "stream_zscore_anomalies",
            ),
            nominal_pass_s=15.0,
        ),
    )
}
