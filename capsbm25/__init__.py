"""capsbm25 — a PySpark-native inverted-index builder + BM25 top-k query engine.

Grafts the samplesort-based parallel construction idea of CaPS-SA
(/root/reference: local sort -> sampled splitters -> range partition ->
bounded k-way merge -> boundary fix-up -> order-invariant validation,
see /root/reference/src/Suffix_Array.cpp:466-494) onto distributed
posting-list construction over Iceberg/Parquet tables of multi-turn
transcripts, expressed Spark-first: DataFrame plans, one explicit range
shuffle carrying map-side-packed runs, Arrow-vectorized kernels, zero
per-row Python UDFs.

Public API (one import path per user-facing operation):

    from capsbm25 import (
        BuildConfig,          # build/query knobs; persisted with the index
        build_index,          # batch build (manifest, waves, resume)
        load_postings,        # final postings DataFrame of a built index
        load_build_config,    # adopt the index's persisted build config
        bm25_topk,            # top-k BM25 (kernel / distributed / auto)
        phrase_topk,          # exact phrase top-k (positional indexes)
        validate_index,       # is_sorted-analog invariant checker
        index_stats,          # operator-facing index summary
    )
    from capsbm25.streaming import (
        start_incremental_build, load_segment_postings, compact_segments,
    )
"""

from capsbm25 import _zipimport_cache  # noqa: F401  (first: see its docstring)
from capsbm25.config import BuildConfig
from capsbm25.build import (build_index, index_stats, load_build_config,
                            load_postings)
from capsbm25.query import bm25_topk, phrase_topk
from capsbm25.validate import validate_index

__all__ = [
    "BuildConfig",
    "build_index",
    "load_postings",
    "load_build_config",
    "bm25_topk",
    "phrase_topk",
    "validate_index",
    "index_stats",
]
__version__ = "0.2.0"
