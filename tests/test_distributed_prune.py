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
from capsbm25.tokenize import tokenize_py


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


def _members(oracle, text, conj=False):
    """Docs containing any (conj: every) distinct term of text."""
    sets = [set(oracle.postings.get(t, {}))
            for t in sorted(set(tokenize_py(text)))]
    if not sets:
        return set()
    return set.intersection(*sets) if conj else set().union(*sets)


def _ranked(rows):
    """[(query_id, doc_id, score)] -> the engine's ranked frame."""
    want = pd.DataFrame(rows, columns=["query_id", "doc_id", "score"])
    want = want.sort_values(["query_id", "score", "doc_id"],
                            ascending=[True, False, True])
    want["rank"] = want.groupby("query_id").cumcount() + 1
    return want


def _small_chunk_bm25(ix, spark):
    res, cfg = ix["res"], ix["cfg"]
    queries = fx.queries_pdf(42)
    got = bm25_topk(
        spark, ix["postings"], queries, res.N, res.avgdl, cfg,
        mode="distributed", prune=True,
    ).toPandas()
    _identical(got, ix["oracle"].topk_pdf(queries))


def _small_chunk_boolean(ix, spark):
    res, cfg, oracle = ix["res"], ix["cfg"], ix["oracle"]
    qb = pd.DataFrame(
        [(int(q.query_id), q.text.split()[0],
          " ".join(q.text.split()[1:] + ["w0001", "w0002"]), "w0003",
          int(q.k), 1)
         for q in fx.queries_pdf(42).itertuples(index=False)],
        columns=["query_id", "must", "should", "must_not", "k",
                 "min_should_match"],
    )
    got = boolean_topk(
        spark, ix["postings"], qb, res.N, res.avgdl, cfg,
        mode="distributed",
    ).toPandas()
    want = _ranked([
        (int(q.query_id), d, s)
        for q in qb.itertuples(index=False)
        for d, s in oracle.boolean_topk(
            q.must, q.should, q.must_not, int(q.k),
            min_should_match=int(q.min_should_match))])
    assert len(want) > 0
    _identical(got, want)


def _small_chunk_query_string(ix, spark):
    from capsbm25.parser import query_string_topk

    res, cfg, oracle = ix["res"], ix["cfg"], ix["oracle"]
    texts = ["+w0000 w0001 w0002 w00*", "w0001 -w0003 w01*",
             f"{fx.HOT_TERM} w0002^2"]
    queries = pd.DataFrame({"query_id": np.arange(3, dtype=np.int32),
                            "text": texts,
                            "k": np.full(3, 40, dtype=np.int32)})
    got = query_string_topk(
        spark, ix["postings"], queries, res.N, res.avgdl, cfg).toPandas()

    def bm25(t, boost=1.0):
        return {d: boost * oracle.score_doc([t], d)
                for d in oracle.postings.get(t, {})}

    def wild(prefix):
        return {d for t in oracle.postings if t.startswith(prefix)
                for d in oracle.postings[t]}

    # (must doc sets, scored term maps, constant (docs, boost), excluded)
    specs = [
        ([set(oracle.postings["w0000"])],
         [bm25("w0000"), bm25("w0001"), bm25("w0002")],
         [(wild("w00"), 1.0)], set()),
        ([], [bm25("w0001")], [(wild("w01"), 1.0)],
         set(oracle.postings["w0003"])),
        ([], [bm25(fx.HOT_TERM), bm25("w0002", 2.0)], [], set()),
    ]
    rows = []
    for qid, (musts, scored, const, excl) in enumerate(specs):
        cand = set().union(*(m.keys() for m in scored),
                           *(ds for ds, _ in const))
        for ms in musts:
            cand &= ms
        ranked = sorted(
            ((d, sum(m.get(d, 0.0) for m in scored)
              + sum(b for ds, b in const if d in ds))
             for d in cand - excl), key=lambda x: (-x[1], x[0]))[:40]
        rows += [(qid, d, s) for d, s in ranked]
    _identical(got, _ranked(rows))


def _small_chunk_wildcard(ix, spark):
    from capsbm25.query import wildcard_topk

    oracle = ix["oracle"]
    pats = ["w00*", "w01*", "w1*"]
    queries = pd.DataFrame({"query_id": np.arange(3, dtype=np.int32),
                            "text": pats,
                            "k": np.full(3, 25, dtype=np.int32)})
    got = wildcard_topk(spark, ix["postings"], queries, ix["cfg"],
                        max_expansions=None).toPandas()
    rows = []
    for qid, p in enumerate(pats):
        tf: dict = {}
        for t in oracle.postings:
            if t.startswith(p[:-1]):
                for d, n in oracle.postings[t].items():
                    tf[d] = tf.get(d, 0) + n
        rows += [(qid, d, float(s)) for d, s in sorted(
            tf.items(), key=lambda x: (-x[1], x[0]))[:25]]
    _identical(got, _ranked(rows))


def _small_chunk_docs_only(ix, spark):
    from capsbm25.query import wildcard_topk

    oracle = ix["oracle"]
    pats = ["w00*", "w1*"]
    queries = pd.DataFrame({"query_id": np.arange(2, dtype=np.int32),
                            "text": pats,
                            "k": np.full(2, 1, dtype=np.int32)})
    got = wildcard_topk(spark, ix["postings"], queries, ix["cfg"],
                        max_expansions=None, docs_only=True).toPandas()
    for qid, p in enumerate(pats):
        want = {d for t in oracle.postings if t.startswith(p[:-1])
                for d in oracle.postings[t]}
        g = got[got.query_id == qid]
        assert set(g.doc_id) == want and want, p
        assert len(g) == len(want), p


def _small_chunk_hit_count(ix, spark):
    from capsbm25.query import hit_count

    oracle, queries = ix["oracle"], fx.queries_pdf(42)
    for conj in (False, True):
        got = hit_count(spark, ix["postings"], queries, ix["cfg"],
                        conjunctive=conj).toPandas()
        n = dict(zip(got.query_id, got.n_hits))
        for q in queries.itertuples(index=False):
            assert n[q.query_id] == oracle.hit_count(q.text, conj), (
                conj, q.text)


def _small_chunk_sorted(ix, spark):
    from capsbm25.build import load_doc_stats
    from capsbm25.query import sorted_topk

    oracle, queries = ix["oracle"], fx.queries_pdf(42)
    stats = load_doc_stats(spark, ix["res"].out_dir)
    got = sorted_topk(spark, ix["postings"], queries, stats, "dl",
                      ix["cfg"]).toPandas()
    for q in queries.itertuples(index=False):
        want = sorted(_members(oracle, q.text),
                      key=lambda d: (-oracle.dl[d], d))[:int(q.k)]
        g = got[got.query_id == q.query_id].sort_values("rank")
        assert list(g.doc_id) == want, q.text


def _small_chunk_facets(ix, spark):
    from collections import Counter

    from capsbm25.build import load_doc_stats
    from capsbm25.query import facet_counts

    oracle, queries = ix["oracle"], fx.queries_pdf(42)
    doc_map = load_doc_stats(spark, ix["res"].out_dir)
    conv = oracle.doc_meta["conv_id"]
    for conj in (False, True):
        got = facet_counts(spark, ix["postings"], queries, doc_map,
                           "conv_id", ix["cfg"],
                           conjunctive=conj).toPandas()
        for q in queries.itertuples(index=False):
            want = Counter(conv[d] for d in _members(oracle, q.text, conj))
            g = got[got.query_id == q.query_id]
            assert dict(zip(g.conv_id, g.n_docs)) == dict(want), (
                conj, q.text)


@pytest.mark.parametrize(
    "check",
    [_small_chunk_bm25, _small_chunk_boolean, _small_chunk_query_string,
     _small_chunk_wildcard, _small_chunk_docs_only,
     _small_chunk_hit_count, _small_chunk_sorted, _small_chunk_facets],
    ids=lambda f: f.__name__.removeprefix("_small_chunk_"))
def test_distributed_pruned_small_chunk(built_index, spark, monkeypatch,
                                        check):
    """Force the producer's in-task re-fold loop (chunk=64) on every
    consumer of _doc_partials — bm25 together with θ pruning, boolean
    MUST_NOT + min_should_match, query-string term and wildcard
    clauses, ranked and membership wildcard, hit_count (OR and AND),
    sorted_topk and facet_counts — against the oracle: folding partial
    folds must keep exact sums, counts and memberships."""
    monkeypatch.setattr(Q, "_COMBINE_CHUNK", 64)
    check(built_index, spark)


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
        matched, df_map, res.N, res.avgdl, cfg,
        qt=qt, prune=True).toPandas().sort_values("rank")
    unpruned = _run_distributed(
        matched, df_map, res.N, res.avgdl, cfg,
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
