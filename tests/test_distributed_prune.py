"""Round-7 distributed-path pruning + map-side combine: the θ-floor
entry pruning (query.py:_run_distributed) must be rank-identical to
the unpruned path, the kernel, and the oracle — the same three-way
pattern as test_query, pointed at the configurations where pruning
actually fires (single stopword-grade terms, boosts, pagination,
in-kernel filter masks, forced tiny combine chunks)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import capsbm25.query as Q
from capsbm25 import fixtures as fx
from capsbm25.query import bm25_topk, boolean_topk


def _identical(got: pd.DataFrame, want: pd.DataFrame):
    assert len(got) == len(want)
    for qid in want["query_id"].unique():
        g = got[got.query_id == qid].sort_values("rank")
        w = want[want.query_id == qid].sort_values("rank")
        assert list(g.doc_id) == list(w.doc_id), f"query {qid}"
        assert np.allclose(g.score, w.score, atol=1e-9), f"query {qid}"


def test_distributed_pruned_rank_identical(built_index, spark):
    """prune=True distributed == prune=False distributed == oracle on
    the full 30-query set (mix of hot single terms, where θ pruning
    fires hard, and multi-term queries where the residual bound
    throttles it)."""
    res, cfg = built_index["res"], built_index["cfg"]
    queries = fx.queries_pdf(42)
    want = built_index["oracle"].topk_pdf(queries)
    for prune in (True, False):
        got = bm25_topk(
            spark, built_index["postings"], queries, res.N, res.avgdl,
            cfg, mode="distributed", prune=prune,
        ).toPandas()
        _identical(got, want)


def test_distributed_pruned_small_chunk(built_index, spark, monkeypatch):
    """Force the in-task re-compress loop (chunk=64) together with
    pruning — combine-after-prune must keep exact partial sums."""
    monkeypatch.setattr(Q, "_COMBINE_CHUNK", 64)
    res, cfg = built_index["res"], built_index["cfg"]
    queries = fx.queries_pdf(42)
    want = built_index["oracle"].topk_pdf(queries)
    got = bm25_topk(
        spark, built_index["postings"], queries, res.N, res.avgdl, cfg,
        mode="distributed", prune=True,
    ).toPandas()
    _identical(got, want)


def test_distributed_pruned_boosts_and_offset(built_index, spark):
    """Boosted terms raise the residual bound; pagination raises the
    θ depth to k+off. Both must stay exact under pruning."""
    res, cfg = built_index["res"], built_index["cfg"]
    base = fx.queries_pdf(42).head(8)
    queries = base.assign(
        text=[f"{t.split()[0]}^3 {' '.join(t.split()[1:])}".strip()
              for t in base["text"]],
        offset=np.array([0, 3, 7, 0, 2, 0, 5, 1], dtype=np.int64),
    )
    want = bm25_topk(
        spark, built_index["postings"], queries, res.N, res.avgdl, cfg,
        mode="kernel", prune=False, boosts=True,
    ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    got = bm25_topk(
        spark, built_index["postings"], queries, res.N, res.avgdl, cfg,
        mode="distributed", prune=True, boosts=True,
    ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert list(got["rank"]) == list(want["rank"])
    _identical(got, want)


def test_distributed_prune_filter_masks(built_index, spark):
    """auto mode with max_kernel_df=0 forces every query distributed
    while _prep_doc_sets still builds the kernel-sized broadcast masks
    — the doc_filter/doc_exclude sets apply INSIDE the decode kernel
    (θ computed over the surviving population only, keeping the floor
    valid for the filtered result set)."""
    res, cfg = built_index["res"], built_index["cfg"]
    queries = fx.queries_pdf(42)
    stats = spark.read.parquet(res.out_dir + "/doc_stats")
    fdf = stats.where(F.pmod(F.col("doc_id"), F.lit(3)) == 0) \
               .select("doc_id")
    xdf = stats.where(F.pmod(F.col("doc_id"), F.lit(7)) == 0) \
               .select("doc_id")
    want = bm25_topk(
        spark, built_index["postings"], queries, res.N, res.avgdl, cfg,
        mode="kernel", prune=False, doc_filter=fdf, doc_exclude=xdf,
    ).toPandas()
    got = bm25_topk(
        spark, built_index["postings"], queries, res.N, res.avgdl, cfg,
        mode="auto", max_kernel_df=0, prune=True,
        doc_filter=fdf, doc_exclude=xdf,
    ).toPandas()
    _identical(got, want)
    # and with the masks forced onto the join path (explicit
    # distributed mode never builds broadcasts) pruning must disarm
    # itself — the unfiltered θ floor is not valid for a filtered
    # result set — and still match
    got_join = bm25_topk(
        spark, built_index["postings"], queries, res.N, res.avgdl, cfg,
        mode="distributed", prune=True, doc_filter=fdf, doc_exclude=xdf,
    ).toPandas()
    _identical(got_join, want)


def test_distributed_prune_adversarial_low_k(built_index, spark):
    """k=1 on the hot term: θ == the max contribution — the keep set
    collapses to the ties of the single best entry; the true best doc
    must survive with its exact (full) score."""
    res, cfg = built_index["res"], built_index["cfg"]
    queries = pd.DataFrame({
        "query_id": np.array([0, 1], dtype=np.int32),
        "text": [fx.HOT_TERM, f"{fx.HOT_TERM} w0000 w0001"],
        "k": np.array([1, 1], dtype=np.int32),
    })
    want = built_index["oracle"].topk_pdf(queries)
    got = bm25_topk(
        spark, built_index["postings"], queries, res.N, res.avgdl, cfg,
        mode="distributed", prune=True,
    ).toPandas()
    _identical(got, want)


def test_boolean_distributed_combine(built_index, spark):
    """The boolean map-side combine (per-doc role partials) must match
    the kernel on MUST/SHOULD/MUST_NOT + min_should_match, with and
    without the in-kernel filter masks."""
    res, cfg = built_index["res"], built_index["cfg"]
    base = fx.queries_pdf(42)
    qb = pd.DataFrame(
        [(int(q.query_id), q.text.split()[0],
          " ".join(q.text.split()[1:]), fx.HOT_TERM, int(q.k),
          min(1, max(0, len(q.text.split()) - 1)))
         for q in base.itertuples(index=False)],
        columns=["query_id", "must", "should", "must_not", "k",
                 "min_should_match"],
    )
    stats = spark.read.parquet(res.out_dir + "/doc_stats")
    fdf = stats.where(F.pmod(F.col("doc_id"), F.lit(2)) == 0) \
               .select("doc_id")
    for flt in (None, fdf):
        want = boolean_topk(
            spark, built_index["postings"], qb, res.N, res.avgdl, cfg,
            mode="kernel", doc_filter=flt,
        ).toPandas()
        for mode, kw in [("distributed", {}),
                         ("auto", {"max_kernel_df": 0})]:
            got = boolean_topk(
                spark, built_index["postings"], qb, res.N, res.avgdl,
                cfg, mode=mode, doc_filter=flt, **kw,
            ).toPandas()
            _identical(got, want)


def test_prune_actually_fires(built_index, spark, monkeypatch):
    """Not a vacuous guard: on a single-term hot query (df ~ corpus)
    the pruned path's pre-top-k frame must hold a small fraction of df
    rows, while the unpruned path holds ~df. Measured by counting the
    frame _run_distributed hands to the one combine + top-k tail."""
    from capsbm25.query import (_query_terms_pdf, _run_distributed,
                                _term_df_map)

    res, cfg = built_index["res"], built_index["cfg"]
    queries = pd.DataFrame({
        "query_id": np.array([0], dtype=np.int32),
        "text": [fx.HOT_TERM],
        "k": np.array([5], dtype=np.int32),
    })
    qt = _query_terms_pdf(queries, cfg)
    qdf = spark.createDataFrame(qt)
    filtered = built_index["postings"].where(
        F.col("term").isin([fx.HOT_TERM]))
    matched = filtered.join(F.broadcast(qdf), "term")
    df_map = _term_df_map(filtered)
    hot_df = df_map[fx.HOT_TERM]
    assert hot_df > 100  # the fixture's hot term is corpus-wide

    counts = []
    real = Q._fused_combine_topk

    def counting(c, *args, **kwargs):
        # c = the per-task-combined contribution frame — exactly what
        # crosses the one exchange; pruning must shrink IT
        counts.append(c.count())
        return real(c, *args, **kwargs)

    monkeypatch.setattr(Q, "_fused_combine_topk", counting)
    pruned = _run_distributed(
        matched, df_map, res.N, res.avgdl, cfg, conjunctive=False,
        qt=qt, prune=True).toPandas().sort_values("rank")
    unpruned = _run_distributed(
        matched, df_map, res.N, res.avgdl, cfg, conjunctive=False,
        qt=qt, prune=False).toPandas().sort_values("rank")
    assert list(pruned.doc_id) == list(unpruned.doc_id)
    assert np.allclose(pruned.score, unpruned.score, atol=1e-9)
    n_pruned, n_unpruned = counts
    assert n_unpruned == hot_df  # one row per posting entry, combined
    # pruning keeps the >= θ survivors only: a small multiple of k,
    # not a multiple of df (ties included; the fixture's dl spread
    # keeps score ties rare)
    assert n_pruned < max(50, hot_df // 10), (n_pruned, hot_df)


def test_fused_topk_tail_parity(built_index, spark, monkeypatch):
    """The one combine + top-k tail is rank-identical to the oracle at
    fan-out 1 (one group per query) and fan-out 32 (the top-(k+off)
    cut runs per salt bucket, phase 2 merges) — disjunctive,
    conjunctive, and offset-paged batches."""
    res, cfg = built_index["res"], built_index["cfg"]
    oracle = built_index["oracle"]
    queries = fx.queries_pdf(42).head(8).reset_index(drop=True)
    paged = queries.assign(offset=np.int32(3))
    for fan_out in (1, 32):
        monkeypatch.setattr(Q, "_fan_out", lambda mass, s=fan_out: s)
        for conj in (False, True):
            for qdf in (queries, paged):
                got = bm25_topk(
                    spark, built_index["postings"], qdf, res.N,
                    res.avgdl, cfg, mode="distributed", conjunctive=conj,
                ).toPandas()
                off = int(qdf["offset"].iloc[0]) if "offset" in qdf else 0
                rows = [
                    (int(q.query_id), d, s, r)
                    for q in qdf.itertuples(index=False)
                    for r, (d, s) in enumerate(
                        oracle.topk(q.text, int(q.k), conjunctive=conj,
                                    offset=off), off + 1)
                ]
                want = pd.DataFrame(
                    rows, columns=["query_id", "doc_id", "score", "rank"])
                assert len(want) > 0
                _identical(got, want)
                key = ["query_id", "rank"]
                assert (got.sort_values(key)[key].values.tolist()
                        == want.sort_values(key)[key].values.tolist())
