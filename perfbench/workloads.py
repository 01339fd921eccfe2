"""The benchmark's workloads: which queries, on which generated input.

``tables`` lists the fixture tables each query reads; a pass's source
input rows (the base of ``rows_per_s``) is the sum of their generated
row counts over the pass's queries.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: dict[str, tuple[str, ...]]  # query -> fixture tables it reads
    nominal_pass_s: float  # sets the timed pass count: seconds / nominal
    infer_replicas: int = 0  # >0: embeddings = replicas x 2,000 jittered rows
    warmup_passes: int = 1


WORKLOADS = {
    w.name: w
    for w in (
        # A six-table TPC-H join, a driver-orchestrated statistics line
        # (literal frames, pins), a lakehouse MERGE and a streaming
        # micro-batch line, at sf0.01 row counts: construction-time
        # jobs, schema inference, commits and micro-batches dominate.
        # No Python UDF.
        Workload(
            "mixed_sf001",
            {
                "q_tpch_q5": ("region", "nation", "customer", "supplier", "orders", "lineitem"),
                "q_stats_sign_bh": ("lineitem",),
                "q_lake_merge": ("orders",),
                "q_stream_tumbling": ("events",),
            },
            nominal_pass_s=5.0,
            # passes keep speeding up (JIT) until about the fifth; two
            # warm-up passes are what the time budget allows
            warmup_passes=2,
        ),
        # The flagship: nearest-centroid scoring through the Iterator
        # pandas UDF and predict_batch_udf over 150,000 embeddings, where
        # the Arrow/Python boundary and the model kernel do the work.
        Workload(
            "infer_150k",
            {
                "q_infer_eval": ("embeddings",),
                "q_infer_batch": ("embeddings",),
                "q_infer_batch_pbu": ("embeddings",),
            },
            nominal_pass_s=4.6,
            infer_replicas=75,
        ),
    )
}
