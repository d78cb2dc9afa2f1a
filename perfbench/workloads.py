"""The benchmark's workloads: which operators one pass runs, in order,
and over which generated input.

Each workload reads its own seeded dataset (gen.py) at scale factor
``sf``, replicated ``copies`` times with per-copy key offsets.
``nominal_pass_s`` is the wall time of a warm pass on a 4-vCPU box;
run.py turns ``--seconds`` into a fixed number of timed passes with it.
BENCHMARK.json lists the workloads the repo's benchmark measures; every
workload here runs the same way through run.py.
"""

from __future__ import annotations

import re

WORKLOADS: dict[str, dict] = {
    # scan, codegen, shuffle, joins and windows; Python workers idle.
    # Runnable by name, not in BENCHMARK.json: its cold JVM start and
    # warm-up do not fit the benchmark's time budget next to the other two
    "analytics_x5": {
        "sf": 0.01,
        "copies": 5,
        "nominal_pass_s": 3.0,
        "ops": [
            "text_bigram_freq",
            "agg_hash_count",
            "join_sortmerge",
            "win_frame",
            "sql_pricing_summary",
            "analytics_sessionize",
        ],
    },
    # LLM-data curation: corpus n-gram statistics, MinHash near-dup
    # detection over the shared gram-set checkpoint (Arrow UDF workers)
    # and the pandas-UDF quality classifier
    "curation": {
        "sf": 0.01,
        "copies": 1,
        "nominal_pass_s": 3.0,
        "ops": [
            "text_bigram_freq",
            "dedup_minhash",
            "quality_classifier_score",
        ],
    },
    # the write path: availableNow micro-batches with streaming state,
    # partitioned file commits and a table merge
    "ingest": {
        "sf": 0.01,
        "copies": 1,
        "nominal_pass_s": 3.5,
        "ops": [
            "stream_stateful_dedup",
            "sink_partitioned",
            "merge_upsert",
        ],
    },
}


def op_tables(oracle_sql: str, tables) -> list[str]:
    """Input tables an op reads, as named by its DuckDB oracle."""
    return [t for t in tables if re.search(rf"\b{t}\b", oracle_sql)]


def rows_per_pass(ops, oracles: dict[str, str], table_rows: dict) -> int:
    """Generated input rows one pass reads: each op's input tables,
    counted once per op."""
    return sum(table_rows[t]["rows"]
               for op in ops for t in op_tables(oracles[op], table_rows))
