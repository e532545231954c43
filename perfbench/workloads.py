"""Benchmark workloads: named query lists over the engine's registry.

Each workload is run by one client in a closed loop: the next query starts
when the previous result is in pandas.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="sql_curation",
            why=(
                "JVM-only TPC-H joins and shuffles, an n-gram repetition filter "
                "and an eager iterative SQL builder that fires 50 jobs at build"
            ),
            queries=(
                "q3_shipping_priority",
                "q18_large_orders",
                "text_repetition_filter",
                "sql_scripting_iterative",
            ),
        ),
        Workload(
            name="media_ingest",
            why=(
                "Python-worker-bound WAV decoding plus the write path: a stateful "
                "stream with checkpoint and state store, an ORC write and scan"
            ),
            queries=(
                "multimodal_wav_features",
                "stream_tumbling_window_agg",
                "orc_file_scan",
            ),
        ),
    )
}
