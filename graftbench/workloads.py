"""The benchmark's workloads: named sets of catalog queries.

Each workload stresses different layers of the engine (see README.md):

- ``mapreduce``: the reference's own client surface. Per-row ``map`` and
  per-key ``reduce`` cross the Python worker boundary; grouped-reduce
  parallelism sets the time. Writes almost nothing, uses no memo caches.
- ``llmdata``: near-duplicate, similarity and tokenizer queries. Vectorized
  numpy kernels over Arrow batches, session memo caches and small index
  artifacts; most of the work happens in the cold pass.
- ``lake``: versioned-table writes beside reads plus one streaming ingest.
  Many small JVM jobs, writes during plan build, little Python UDF work.

Every query listed here has a DuckDB oracle computed from its inputs, so
each run can check every output on the generated tables.
"""

from __future__ import annotations

WORKLOADS: dict[str, tuple[str, ...]] = {
    "mapreduce": (
        "q_mapreduce_wordcount",
        "q_mapreduce_join",
        "q_mapreduce_secondary_sort",
        "q_job_control",
        "q_udaf_sumsq",
    ),
    "llmdata": (
        "q_minhash_neardup",
        "q_simhash_neardup",
        "q_dedup_exact",
        "q_contamination",
        "q_embedding_topk_pairs",
    ),
    "lake": (
        "q_scd2_history",
        "q_stream_versioned_ingest",
    ),
}

#: Pass schedule shared by ``worker.py`` (which runs the passes) and
#: ``run.py`` (which reduces them). After the cold pass and the untimed
#: collect pass, warm passes run until ``--seconds`` have passed, and at
#: least ``MIN_PASSES`` of them; the warm metrics are means over all of
#: them. A traced session alternates untraced and traced passes and
#: measures the last ``TRACED_MEASURED`` of each kind.
MIN_PASSES = 6
TRACED_MIN_PASSES = 5
TRACED_MEASURED = 2
