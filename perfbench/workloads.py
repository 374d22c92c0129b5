"""The benchmark's workloads: which engine queries one pass submits, in
order, and at which input scale (see gen.py for the tables).

Every workload is a closed loop of one client: the next query is
submitted only after the previous query's sink returned. Queries are
called as ``workload.all_queries()[name](spark, sf_dir)`` and drained
through a ``noop`` sink.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    scale: float
    queries: tuple[str, ...]
    # Typical wall time of one warm pass on a 4-core x86 box. A run
    # given --seconds S measures round(S / pass_s) timed passes (at
    # least two) after the warm-up passes, so every run does the same
    # work whatever the box's speed.
    pass_s: float
    why: str
    # Timed passes run first and left out of the metrics: after the
    # verification pass the JVM's JIT still compiles the workload's code
    # for a few passes, and each of them takes more CPU than the next.
    warmup: int = 1


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "olap-sf0.1",
            0.1,
            (
                "pricing_summary",
                "join_fact",
                "window_running",
                "cube",
                "multi_distinct",
                "sessionize",
                "sliding_window",
            ),
            4.0,
            "scan/agg/join/window/cube SQL and a batch-mode streaming window "
            "on 600k lineitem rows: most time in Spark jobs, no Python "
            "workers, no files written",
            # The second timed pass still takes ~10% more CPU than later
            # ones; more warm-up did not make runs agree better.
            warmup=2,
        ),
        Workload(
            "llm-notebook-sf0.001",
            0.001,
            (
                "minhash_lsh",
                "ivf_probe",
                "text_quality",
                "string_indexer",
                "csv_ingest",
                "merge_upsert",
            ),
            6.3,
            "MinHash dedup, IVF search and text quality on 500 documents and "
            "embeddings, then the notebook's MLlib fits and write paths: "
            "Arrow kernels in Python workers, eager driver jobs, asset writes",
        ),
    )
}
