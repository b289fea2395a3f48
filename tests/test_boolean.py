"""Lucene BooleanQuery surface (must / should / must_not per query) —
differential against the pure-Python oracle across kernel, distributed
and auto modes, including clause-overlap and OOV edge rules."""

import numpy as np
import pandas as pd
import pytest

from capsbm25 import fixtures as fx
from capsbm25 import query as Q
from capsbm25.parser import query_string_topk
from capsbm25.query import bm25_topk, boolean_topk


def _qpdf(rows):
    return pd.DataFrame(
        rows, columns=["query_id", "must", "should", "must_not", "k"]
    ).astype({"query_id": np.int32, "k": np.int32})


def _vocab_probe(oracle, n=8):
    """Common-ish corpus terms, deterministic."""
    from collections import Counter

    c = Counter(t for d in oracle.docs for t in d)
    return [t for t, _ in c.most_common(40)][::5][:n]


def _want(oracle, queries):
    rows = []
    for q in queries.itertuples(index=False):
        for rank, (d, s) in enumerate(
            oracle.boolean_topk(q.must, q.should, q.must_not, int(q.k)), 1
        ):
            rows.append((int(q.query_id), d, s, rank))
    return pd.DataFrame(rows, columns=["query_id", "doc_id", "score", "rank"])


def test_boolean_matches_oracle_all_modes(built_index, spark):
    res, cfg, oracle = (built_index["res"], built_index["cfg"],
                        built_index["oracle"])
    v = _vocab_probe(oracle)
    queries = _qpdf([
        (0, f"{v[0]} {v[1]}", f"{v[2]} {v[3]}", v[4], 12),   # full clause mix
        (1, v[0], "", "", 12),                               # must only
        (2, "", f"{v[1]} {v[2]} {v[3]}", "", 12),            # should only (OR)
        (3, "", f"{v[0]} {v[1]}", v[2], 12),                 # OR minus NOT
        (4, f"{v[0]}", f"{v[0]} {v[5]}", "", 12),            # should dup of must
        (5, f"{v[0]} zzznotaterm", v[1], "", 12),            # OOV must -> empty
        (6, v[0], "", "zzznotaterm", 12),                    # OOV not ignored
        (7, v[0], v[0], v[0], 12),                           # must & not contradiction
        (8, "", "", v[0], 12),                               # no positive clause
    ])
    want = _want(oracle, queries)
    assert (want.groupby("query_id").size().to_dict().keys() >=
            {0, 1, 2, 3, 4, 6})
    assert not set(want["query_id"]) & {5, 7, 8}
    for mode in ("kernel", "distributed", "auto"):
        got = boolean_topk(
            spark, built_index["postings"], queries, res.N, res.avgdl,
            cfg, mode=mode,
        ).toPandas()
        assert len(got) == len(want), mode
        for qid in queries["query_id"]:
            g = got[got.query_id == qid].sort_values("rank")
            w = want[want.query_id == qid].sort_values("rank")
            assert list(g.doc_id) == list(w.doc_id), (mode, qid)
            assert np.allclose(g.score, w.score, atol=1e-9), (mode, qid)


def test_boolean_not_is_per_query(built_index, spark):
    """Two queries sharing positive terms but different MUST_NOT sets:
    exclusions must not leak across queries (the batch-global
    doc_exclude cannot express this)."""
    res, cfg, oracle = (built_index["res"], built_index["cfg"],
                        built_index["oracle"])
    v = _vocab_probe(oracle)
    queries = _qpdf([
        (0, v[0], "", v[1], 50),
        (1, v[0], "", v[2], 50),
        (2, v[0], "", "", 50),
    ])
    want = _want(oracle, queries)
    got = boolean_topk(
        spark, built_index["postings"], queries, res.N, res.avgdl, cfg,
    ).toPandas()
    assert len(got) == len(want)
    g0 = set(got[got.query_id == 0].doc_id)
    g1 = set(got[got.query_id == 1].doc_id)
    g2 = set(got[got.query_id == 2].doc_id)
    # different NOT sets produce different result sets under one batch
    # (subset relations don't hold under top-k truncation — excluded
    # docs free slots for docs outside the unfiltered top-k)
    assert g0 != g1 and g0 != g2 and g1 != g2
    for qid in (0, 1, 2):
        g = got[got.query_id == qid].sort_values("rank")
        w = want[want.query_id == qid].sort_values("rank")
        assert list(g.doc_id) == list(w.doc_id), qid
        assert np.allclose(g.score, w.score, atol=1e-9), qid


def test_boolean_with_batch_global_filters(built_index, spark):
    """doc_filter/doc_exclude compose on top of the per-query clauses."""
    from pyspark.sql import functions as F

    from capsbm25.build import load_doc_stats

    res, cfg, oracle = (built_index["res"], built_index["cfg"],
                        built_index["oracle"])
    v = _vocab_probe(oracle)
    stats_df = load_doc_stats(spark, res.out_dir)
    fdf = stats_df.where(F.col("turn_idx") % 2 == 0).select("doc_id")
    fset = {
        i for i, t in enumerate(oracle.doc_meta["turn_idx"]) if t % 2 == 0
    }
    queries = _qpdf([(0, v[0], v[1], v[2], 25)])
    want_rows = oracle.boolean_topk(v[0], v[1], v[2], 25, doc_filter=fset)
    assert len(want_rows) > 0
    for mode in ("kernel", "distributed"):
        got = boolean_topk(
            spark, built_index["postings"], queries, res.N, res.avgdl,
            cfg, mode=mode, doc_filter=fdf,
        ).toPandas().sort_values("rank")
        assert list(got.doc_id) == [d for d, _ in want_rows], mode
        assert np.allclose(got.score, [s for _, s in want_rows],
                           atol=1e-9), mode


# ---------------------------------------------------------------- round 6


def test_min_should_match_all_modes(built_index, spark):
    """Lucene minimumNumberShouldMatch: hits must match >= msm distinct
    SHOULD terms on top of the MUST set; msm > |should| is provably
    empty; msm=0 is exactly the old behavior."""
    res, cfg, oracle = (built_index["res"], built_index["cfg"],
                        built_index["oracle"])
    v = _vocab_probe(oracle)
    base = [
        # (qid, must, should, must_not, msm)
        (0, "", f"{v[0]} {v[1]} {v[2]}", "", 2),     # pure OR, 2-of-3
        (1, "", f"{v[0]} {v[1]} {v[2]}", "", 3),     # AND via msm
        (2, v[3], f"{v[0]} {v[1]}", "", 1),          # must + 1-of-2
        (3, "", f"{v[0]} {v[1]}", v[2], 2),          # msm then NOT
        (4, "", f"{v[0]} {v[1]}", "", 3),            # msm > |should| -> empty
        (5, "", f"{v[0]} zzznotaterm", "", 2),       # OOV makes 2-of-2 impossible
        (6, "", f"{v[0]} {v[1]} {v[2]}", "", 0),     # msm=0 == plain OR
    ]
    queries = pd.DataFrame(
        [(q, m, s, n, 12, msm) for q, m, s, n, msm in base],
        columns=["query_id", "must", "should", "must_not", "k",
                 "min_should_match"],
    ).astype({"query_id": np.int32, "k": np.int32,
              "min_should_match": np.int32})
    want = []
    for q, m, s, n, msm in base:
        for rank, (d, sc) in enumerate(
            oracle.boolean_topk(m, s, n, 12, min_should_match=msm), 1
        ):
            want.append((q, d, sc, rank))
    want = pd.DataFrame(
        want, columns=["query_id", "doc_id", "score", "rank"])
    assert {0, 2, 3, 6} <= set(want["query_id"])
    assert not set(want["query_id"]) & {4}
    # msm must actually bind somewhere: 2-of-3 < plain OR
    n_or = len(oracle.boolean_topk("", f"{v[0]} {v[1]} {v[2]}", "", 10**9))
    n_msm = len(oracle.boolean_topk("", f"{v[0]} {v[1]} {v[2]}", "",
                                    10**9, min_should_match=2))
    assert 0 < n_msm < n_or
    for mode in ("kernel", "distributed", "auto"):
        got = boolean_topk(
            spark, built_index["postings"], queries, res.N, res.avgdl,
            cfg, mode=mode,
        ).toPandas()
        assert len(got) == len(want), mode
        for qid in set(want["query_id"]):
            g = got[got.query_id == qid].sort_values("rank")
            w = want[want.query_id == qid].sort_values("rank")
            assert list(g.doc_id) == list(w.doc_id), (mode, qid)
            assert np.allclose(g.score, w.score, atol=1e-9), (mode, qid)


def test_min_should_match_rejects_negative(built_index, spark):
    res, cfg = built_index["res"], built_index["cfg"]
    q = pd.DataFrame(
        [(0, "", "the", "", 5, -1)],
        columns=["query_id", "must", "should", "must_not", "k",
                 "min_should_match"])
    with pytest.raises(ValueError, match="min_should_match"):
        boolean_topk(spark, built_index["postings"], q, res.N,
                     res.avgdl, cfg)
    # a fractional count raises too instead of truncating 1.5 to 1
    q["min_should_match"] = 1.5
    with pytest.raises(ValueError, match="min_should_match"):
        boolean_topk(spark, built_index["postings"], q, res.N,
                     res.avgdl, cfg)


@pytest.mark.parametrize("col,val", [("offset", 5), ("after_score", 1.0),
                                     ("after_doc", 3)])
def test_paging_columns_rejected(built_index, spark, col, val):
    """boolean_topk and query_string_topk do not page: an offset or
    search_after column raises naming it instead of silently returning
    page 1 (ranks 1..k for offset=5)."""
    res, cfg = built_index["res"], built_index["cfg"]
    qb = _qpdf([(0, "", fx.HOT_TERM, "", 5)]).assign(**{col: val})
    with pytest.raises(ValueError, match=col):
        boolean_topk(spark, built_index["postings"], qb, res.N,
                     res.avgdl, cfg, mode="kernel")
    qs = pd.DataFrame({"query_id": [0], "text": [fx.HOT_TERM], "k": [5],
                       col: [val]})
    with pytest.raises(ValueError, match=col):
        query_string_topk(spark, built_index["postings"], qs, res.N,
                          res.avgdl, cfg)


@pytest.mark.parametrize("mode", ["kernel", "distributed"])
def test_bm25_is_boolean_with_one_role(built_index, spark, mode):
    """bm25_topk and boolean_topk are one term-query engine: a
    conjunctive bm25 query is the boolean query with every term MUST,
    a disjunctive one the boolean query with every term SHOULD — same
    doc ids, bit-equal scores."""
    res, cfg = built_index["res"], built_index["cfg"]
    queries = fx.queries_pdf(42).head(8).reset_index(drop=True)
    for conj, clause in ((True, "must"), (False, "should")):
        want = bm25_topk(
            spark, built_index["postings"], queries, res.N, res.avgdl,
            cfg, mode=mode, conjunctive=conj,
        ).toPandas().sort_values(["query_id", "rank"])
        bq = pd.DataFrame({"query_id": queries["query_id"],
                           "must": "", "should": "", "must_not": "",
                           "k": queries["k"]})
        bq[clause] = queries["text"]
        got = boolean_topk(
            spark, built_index["postings"], bq, res.N, res.avgdl, cfg,
            mode=mode,
        ).toPandas().sort_values(["query_id", "rank"])
        assert len(want) > 0, clause
        assert list(got.query_id) == list(want.query_id), clause
        assert list(got.doc_id) == list(want.doc_id), clause
        assert np.array_equal(got.score.to_numpy(),
                              want.score.to_numpy()), clause


def test_pure_should_batch_prunes_distributed(built_index, spark,
                                              monkeypatch):
    """A boolean batch with no MUST, min_should_match or MUST_NOT is a
    disjunctive term query: the distributed path's θ entry-prune fires
    (the frame handed to the combine holds a small fraction of the hot
    term's df rows) and ranks still match the oracle."""
    res, cfg, oracle = (built_index["res"], built_index["cfg"],
                        built_index["oracle"])
    hot_df = oracle.df(fx.HOT_TERM)
    assert hot_df > 100  # the fixture's hot term is corpus-wide
    queries = _qpdf([(0, "", fx.HOT_TERM, "", 5)])
    counts = []
    real = Q._fused_combine_topk

    def counting(c, *args, **kwargs):
        counts.append(c.count())
        return real(c, *args, **kwargs)

    monkeypatch.setattr(Q, "_fused_combine_topk", counting)
    got = boolean_topk(
        spark, built_index["postings"], queries, res.N, res.avgdl, cfg,
        mode="distributed",
    ).toPandas().sort_values("rank")
    want = _want(oracle, queries)
    assert list(got.doc_id) == list(want.doc_id)
    assert np.allclose(got.score, want.score, atol=1e-9)
    assert counts and counts[0] < max(50, hot_df // 10), (counts, hot_df)
