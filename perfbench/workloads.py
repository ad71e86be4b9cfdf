"""The benchmark's workloads: which operations run, on which session.

An operation is a declared query (``registry.QUERIES[name](spark, sf)``
followed by ``.toPandas()``) or one of the two pipeline entry points
(``plans.pipeline.run_etl`` / ``run_text_pipeline``). The workload seed
only permutes the order of operations within each pass.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from perfbench.checks import ETL, TEXT

PIPELINES = (ETL, TEXT)


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    cache_tables: bool
    ops: tuple[str, ...]


# The cheapest query of each operator module that reads no session artifact
# and returns at most ~15k rows (for aggregates, one without an oracle, so
# the repeat check covers that case), plus q_sim_jaccard, whose first call
# builds the nested artifacts unigram_elements -> neardup_pairs.
# q_dedup_ngram, whose per-call checkpoint is the known leak, is in neither
# workload: at 2.4-3.2 s a call (4-5 s cold) it adds 12-14 s to every run,
# more than the time budget of 48 runs leaves.
SESSION_WARM = Workload(
    name="session_warm",
    why="analyst session on cached base tables: per-query floor across every operator module",
    cache_tables=True,
    ops=(
        "q_array_funcs",  # functions.scalar
        "q_str_regexp2",  # functions.scalar2
        "q_agg_approx_distinct",  # operators.aggregates (no oracle)
        "q_filter_in_like",  # operators.filters
        "q_join_anti",  # operators.joins
        "q_text_zipf",  # operators.llm_corpus
        "q_dedup_fingerprint",  # operators.llm_dedup
        "q_sim_jaccard",  # operators.llm_dedup (builds two artifacts)
        "q_multimodal_join",  # operators.llm_multimodal
        "q_sample_hash",  # operators.llm_pipeline
        "q_embed_dimstats",  # operators.llm_similarity
        "q_text_search",  # operators.llm_text
        "q_profile_histogram",  # operators.quality
        "q_pivot",  # operators.reshape
        "q_scan_project",  # operators.scans
        "q_xml_roundtrip",  # operators.semistructured
        "q_set_except",  # operators.setops
        "q_sort_limit",  # operators.sorts
        "q_udf_python",  # operators.udfs (Python workers import the package)
        "q_sql_cte",  # operators.warehouse
        "q_win_ntile",  # operators.windows
        "q_stream_tumbling",  # streaming.batch_windows
    ),
)

# Batch ETL on an uncached session: every scan decodes parquet, both
# pipelines write partitioned parquet and a file-source stream drains.
ETL_INGEST = Workload(
    name="etl_ingest",
    why="batch ETL on an uncached session: parquet writes and file-stream micro-batches",
    cache_tables=False,
    ops=(ETL, TEXT, "q_stream_tumbling_live"),
)

WORKLOADS = {w.name: w for w in (SESSION_WARM, ETL_INGEST)}


def pass_order(ops: tuple[str, ...], seed: int, pass_no: int) -> list[str]:
    """The seed's permutation of ``ops`` for one pass (0 is the cold pass)."""
    order = list(ops)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order
