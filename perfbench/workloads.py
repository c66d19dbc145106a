"""The benchmark's workloads: which entry points a pass calls. Why each
workload is there is written once, in ``BENCHMARK.json``.

An entry point is a registry query ``fn(spark, sf_dir)`` (its result is
forced with a noop write) or ``stream_rollup``, which drains the staged
event files through ``streaming.rollup.streaming_rollup_update`` into a
fresh versioned store.
"""

from __future__ import annotations

STREAM_CALL = "stream_rollup"
# the stream store is checked against this registry query's oracle
STREAM_ORACLE = "q121_incremental_rollup"
# micro-batch files the events are split into (one file per trigger)
STREAM_FILES = 3
# cold passes a run makes, each in a newly launched JVM. A relational
# cold pass is ~11 s, the shortest window any bounded metric is timed
# over, and it spread most from run to run (IQR/median 0.22-0.26 over
# ten runs with one pass); an operators cold pass is ~20 s (0.16-0.17).
COLD_PASSES = {"relational": 2, "operators": 1}

WORKLOADS: dict[str, list[str]] = {
    "relational": [
        "q01_pricing_summary",
        "q02_revenue_by_nation",
        "q03_top_orders",
        "q04_priority_exists",
        "q07_top_orders_per_customer",
        "q08_running_revenue",
        "q09_rollup_returns",
        "q12_events_hourly",
        "q14_top_parts_per_brand",
        "q55_asof_join",
        "q56_range_join",
        "q62_skew_join",
    ],
    "operators": [
        "q24_fuzzy_lookup",
        "q26_minhash_dedup",
        "q40_parse_address",
        "q152_supplier_pagerank",
        STREAM_CALL,
    ],
}


def registry_calls() -> list[str]:
    """Every registry query some workload calls (plus the stream's
    oracle query), in a stable order."""
    names = {c for calls in WORKLOADS.values() for c in calls if c != STREAM_CALL}
    return sorted(names | {STREAM_ORACLE})
