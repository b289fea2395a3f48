"""Rank-identity differential tests — the reference's test-correctness.sh
pattern (byte-compare engine vs naive oracle, :36-40) recast as: top-k
doc_ids identical, BM25 scores equal within 1e-9, across all execution
modes (pruned kernel == unpruned kernel == distributed agg == oracle)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from capsbm25 import fixtures as fx
from capsbm25.query import bm25_topk


def _assert_rank_identical(got: pd.DataFrame, want: pd.DataFrame, queries):
    for qid in queries["query_id"]:
        g = got[got.query_id == qid].sort_values("rank")
        w = want[want.query_id == qid].sort_values("rank")
        assert list(g.doc_id) == list(w.doc_id), f"query {qid} doc_ids differ"
        assert np.allclose(g.score, w.score, atol=1e-9), f"query {qid} scores differ"
        assert list(g["rank"]) == list(range(1, len(g) + 1))


def test_rank_identical_all_modes(built_index, spark):
    res, cfg = built_index["res"], built_index["cfg"]
    queries = fx.queries_pdf(42)
    want = built_index["oracle"].topk_pdf(queries)
    for mode, prune in [("kernel", True), ("kernel", False), ("distributed", False)]:
        got = bm25_topk(
            spark, built_index["postings"], queries, res.N, res.avgdl, cfg,
            mode=mode, prune=prune,
        ).toPandas()
        assert len(got) == len(want), mode
        _assert_rank_identical(got, want, queries)


def test_edge_queries(built_index, spark):
    res, cfg = built_index["res"], built_index["cfg"]
    queries = pd.DataFrame(
        {
            "query_id": np.arange(4, dtype=np.int32),
            "text": [
                fx.OOV_TERM,            # out of vocab -> 0 rows
                "",                     # empty query -> 0 rows
                fx.HOT_TERM,            # hot/salted term
                f"{fx.HOT_TERM} {fx.HOT_TERM} w0000",  # duplicate terms count once
            ],
            "k": np.array([10, 10, 5, 5], dtype=np.int32),
        }
    )
    got = bm25_topk(
        spark, built_index["postings"], queries, res.N, res.avgdl, cfg
    ).toPandas()
    want = built_index["oracle"].topk_pdf(queries)
    assert (got.query_id != 0).all() and (got.query_id != 1).all()
    _assert_rank_identical(got, want, queries)


def test_conjunctive_rank_identical(built_index, spark):
    """AND semantics (posting-list intersection) vs oracle, both modes."""
    res, cfg = built_index["res"], built_index["cfg"]
    queries = fx.queries_pdf(42)
    want = built_index["oracle"].topk_pdf(queries, conjunctive=True)
    for mode in ("kernel", "distributed"):
        got = bm25_topk(
            spark, built_index["postings"], queries, res.N, res.avgdl, cfg,
            mode=mode, conjunctive=True,
        ).toPandas()
        assert len(got) == len(want), mode
        _assert_rank_identical(got, want, queries)
    # sanity: AND results are a subset of OR results per query
    or_pdf = built_index["oracle"].topk_pdf(queries)
    assert len(want) <= len(or_pdf)


def test_validate_index_hook(built_index, spark):
    from capsbm25.validate import validate_index

    out = validate_index(spark, built_index["res"].out_dir, built_index["cfg"])
    assert out["violations"] == 0, out
    assert out["rows"] > 0


def test_k_larger_than_matches(built_index, spark):
    res, cfg = built_index["res"], built_index["cfg"]
    oracle = built_index["oracle"]
    rare = next(t for t in oracle.postings if t.startswith("rare"))
    queries = pd.DataFrame(
        {"query_id": np.array([0], dtype=np.int32), "text": [rare],
         "k": np.array([100], dtype=np.int32)}
    )
    got = bm25_topk(
        spark, built_index["postings"], queries, res.N, res.avgdl, cfg
    ).toPandas()
    assert len(got) == oracle.df(rare) == 1
    _assert_rank_identical(got, want=oracle.topk_pdf(queries), queries=queries)


def _conv_filter(built_index, spark, stride=3):
    """Filter = docs from every `stride`-th conversation, built BOTH
    ways: engine-side from doc_stats metadata (what a user does) and
    oracle-side from the dense-id construction order."""
    from pyspark.sql import functions as F

    from capsbm25.build import load_doc_stats

    convs = sorted(built_index["pdf"]["conv_id"].unique())[::stride]
    fdf = (
        load_doc_stats(spark, built_index["res"].out_dir)
        .where(F.col("conv_id").isin(convs))
        .select("doc_id")
    )
    meta = built_index["oracle"].doc_meta
    fset = {i for i, c in enumerate(meta["conv_id"]) if c in set(convs)}
    return fdf, fset


def test_filtered_rank_identical(built_index, spark):
    """Lucene-filter semantics: candidates restricted to a metadata-
    selected doc set, scores corpus-global — engine (all modes) vs
    oracle, OR and AND semantics."""
    res, cfg = built_index["res"], built_index["cfg"]
    queries = fx.queries_pdf(42)
    fdf, fset = _conv_filter(built_index, spark)
    for conj in (False, True):
        want = built_index["oracle"].topk_pdf(
            queries, conjunctive=conj, doc_filter=fset
        )
        for mode, prune in [
            ("kernel", True), ("kernel", False),
            ("distributed", False), ("auto", True),
        ]:
            got = bm25_topk(
                spark, built_index["postings"], queries, res.N, res.avgdl,
                cfg, mode=mode, prune=prune, conjunctive=conj,
                doc_filter=fdf,
            ).toPandas()
            assert len(got) == len(want), (mode, conj)
            _assert_rank_identical(got, want, queries)
    # the filter actually bites: filtered results differ from unfiltered
    unf = built_index["oracle"].topk_pdf(queries)
    flt = built_index["oracle"].topk_pdf(queries, doc_filter=fset)
    assert not flt.equals(unf)
    assert set(flt.doc_id) <= fset


def test_filter_edges(built_index, spark):
    from pyspark.sql import functions as F

    res, cfg = built_index["res"], built_index["cfg"]
    queries = fx.queries_pdf(42)
    fdf, fset = _conv_filter(built_index, spark)
    all_docs = fdf.sparkSession.range(res.N).select(F.col("id").alias("doc_id"))

    # empty filter -> zero rows (both routes)
    empty = all_docs.where(F.col("doc_id") < 0)
    for mode in ("kernel", "distributed"):
        got = bm25_topk(
            spark, built_index["postings"], queries, res.N, res.avgdl, cfg,
            mode=mode, doc_filter=empty,
        ).toPandas()
        assert len(got) == 0, mode

    # all-docs filter == unfiltered
    want = built_index["oracle"].topk_pdf(queries)
    got = bm25_topk(
        spark, built_index["postings"], queries, res.N, res.avgdl, cfg,
        doc_filter=all_docs,
    ).toPandas()
    _assert_rank_identical(got, want, queries)

    # oversized filter: kernel mode refuses (no unbounded collect);
    # auto mode silently degrades to the distributed semi-join path
    # and still matches the oracle
    import pytest

    with pytest.raises(ValueError, match="max_kernel_filter"):
        bm25_topk(
            spark, built_index["postings"], queries, res.N, res.avgdl, cfg,
            mode="kernel", doc_filter=fdf, max_kernel_filter=3,
        )
    want_f = built_index["oracle"].topk_pdf(queries, doc_filter=fset)
    got = bm25_topk(
        spark, built_index["postings"], queries, res.N, res.avgdl, cfg,
        mode="auto", doc_filter=fdf, max_kernel_filter=3,
    ).toPandas()
    _assert_rank_identical(got, want_f, queries)


def _tie_rows():
    """Two queries over docs 0..99 scoring d // 10: exact ties
    straddle every cut, spread across all salt buckets."""
    return pd.DataFrame(
        [(q, d, float(d // 10), 7) for q in (0, 1) for d in range(100)],
        columns=["query_id", "doc_id", "score", "k"])


def _tie_want(pdf, offs):
    rows = []
    for q in (0, 1):
        off = offs.get(q, 0)
        sub = pdf[pdf.query_id == q].sort_values(
            ["score", "doc_id"], ascending=[False, True]
        ).iloc[off:off + 7]
        for r, (d, s) in enumerate(zip(sub.doc_id, sub.score), off + 1):
            rows.append((q, int(d), float(s), r))
    return pd.DataFrame(rows,
                        columns=["query_id", "doc_id", "score", "rank"])


def test_window_topk_ties_across_salt_buckets(spark):
    """Two-phase salted top-k (the Spark-window phase-2 helper): exact
    score ties straddling the k boundary, tied docs spread across salt
    buckets, must rank exactly like a single global (score desc,
    doc_id asc) sort — with and without a pagination offset."""
    from capsbm25.query import _salted_topk

    pdf = _tie_rows()
    for offs in ({}, {1: 3}):
        df = spark.createDataFrame(
            pdf.assign(off=pdf["query_id"].map(offs).fillna(0)
                       .astype(np.int32)))
        got = (
            _salted_topk(df)
            .toPandas()
            .sort_values(["query_id", "rank"], ignore_index=True)
        )
        pd.testing.assert_frame_equal(got, _tie_want(pdf, offs),
                                      check_dtype=False)


def test_fused_combine_ties_across_salt_buckets(spark):
    """The same tie-straddling-k case through the fused combine at
    fan-out 32: each doc's score arrives as two partials (summed in
    the kernel), the group-local tie-exact cut runs per salt bucket,
    and phase 2 must return exactly the global (score desc, doc_id
    asc) page — with and without a pagination offset."""
    from capsbm25.query import _COMBINE_CHUNK, _fused_combine_topk

    pdf = _tie_rows()
    half = pdf.assign(contrib=pdf["score"] / 2)[
        ["query_id", "doc_id", "contrib"]]
    c = spark.createDataFrame(pd.concat([half, half], ignore_index=True))
    for offs in ({}, {1: 3}):
        meta = {q: {"k": 7, "off": offs.get(q, 0)} for q in (0, 1)}
        got = (
            _fused_combine_topk(c, meta, 32 * _COMBINE_CHUNK)
            .toPandas()
            .sort_values(["query_id", "rank"], ignore_index=True)
        )
        pd.testing.assert_frame_equal(got, _tie_want(pdf, offs),
                                      check_dtype=False)


def test_facet_counts_matches_oracle(built_index, spark):
    """Facet counts per conversation == naive oracle, OR and AND."""
    from collections import Counter

    from capsbm25.build import load_doc_stats
    from capsbm25.query import facet_counts
    from capsbm25.tokenize import tokenize_py

    cfg, oracle = built_index["cfg"], built_index["oracle"]
    queries = fx.queries_pdf(42)
    doc_map = load_doc_stats(spark, built_index["res"].out_dir)
    for conj in (False, True):
        got = (
            facet_counts(
                spark, built_index["postings"], queries, doc_map,
                "conv_id", cfg, conjunctive=conj,
            )
            .toPandas()
            .sort_values(["query_id", "conv_id"], ignore_index=True)
        )
        rows = []
        for q in queries.itertuples(index=False):
            terms = sorted(set(tokenize_py(q.text, cfg)))
            if conj:
                if not terms or any(t not in oracle.postings for t in terms):
                    continue
                m = set(oracle.postings[terms[0]])
                for t in terms[1:]:
                    m &= oracle.postings[t].keys()
            else:
                m = set()
                for t in terms:
                    m |= oracle.postings.get(t, {}).keys()
            c = Counter(oracle.doc_meta["conv_id"].iloc[d] for d in m)
            rows.extend(
                (int(q.query_id), cv, n) for cv, n in c.items()
            )
        want = (
            pd.DataFrame(rows, columns=["query_id", "conv_id", "n_docs"])
            .sort_values(["query_id", "conv_id"], ignore_index=True)
        )
        assert len(got) == len(want) > 0, conj
        pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_search_after_pages_equal_sliced_ranking(built_index, spark):
    """Cursor pagination (Lucene searchAfter): walking pages with each
    page's last (score, doc_id) as the next cursor reconstructs the
    full ranking exactly, on BOTH paths, including tie boundaries; the
    offset/cursor exclusivity and half-cursor validation raise."""
    import pytest as _pytest

    res, cfg = built_index["res"], built_index["cfg"]
    queries = fx.queries_pdf(42).head(6).reset_index(drop=True)
    full = queries.assign(k=np.int32(30))
    for mode in ("kernel", "distributed"):
        want = (
            bm25_topk(spark, built_index["postings"], full, res.N,
                      res.avgdl, cfg, mode=mode)
            .toPandas()
            .sort_values(["query_id", "rank"], ignore_index=True)
        )
        pages = []
        cursor = {}  # qid -> (score, doc) of last seen hit
        page_q = queries.assign(k=np.int32(10))
        for _ in range(3):
            pq = page_q.assign(
                after_score=[cursor.get(int(q), (np.nan,))[0]
                             for q in page_q["query_id"]],
                after_doc=[cursor.get(int(q), (np.nan, np.nan))[1]
                           for q in page_q["query_id"]],
            )
            got = (
                bm25_topk(spark, built_index["postings"], pq, res.N,
                          res.avgdl, cfg, mode=mode)
                .toPandas()
                .sort_values(["query_id", "rank"],
                             ignore_index=True)
            )
            pages.append(got)
            for qid, g in got.groupby("query_id"):
                last = g.iloc[-1]
                cursor[int(qid)] = (float(last["score"]),
                                    int(last["doc_id"]))
        walked = (
            pd.concat(pages, ignore_index=True)
            .sort_values(["query_id", "score", "doc_id"],
                         ascending=[True, False, True],
                         ignore_index=True)
        )
        assert len(walked) == len(want), mode
        pd.testing.assert_frame_equal(
            walked[["query_id", "doc_id"]],
            want[["query_id", "doc_id"]], check_dtype=False)
        np.testing.assert_allclose(
            walked["score"].to_numpy(), want["score"].to_numpy(),
            rtol=1e-12)
    # validation: half a cursor / cursor + offset raise
    bad = queries.head(1).assign(k=np.int32(5),
                                 after_score=1.0, after_doc=np.nan)
    with _pytest.raises(ValueError, match="both"):
        bm25_topk(spark, built_index["postings"], bad, res.N,
                  res.avgdl, cfg)
    bad2 = queries.head(1).assign(
        k=np.int32(5), offset=10, after_score=1.0, after_doc=0)
    with _pytest.raises(ValueError, match="mutually exclusive"):
        bm25_topk(spark, built_index["postings"], bad2, res.N,
                  res.avgdl, cfg)


def test_search_after_mid_tie_cursor(built_index, spark):
    """A cursor placed INSIDE a tie group resumes at the doc_id
    tiebreak: docs with score == after_score and doc_id > after_doc
    appear, earlier tied docs don't (exercises the equality arm on the
    exhaustive, pruned, and conjunctive kernel branches, and in the
    distributed combine, where the cursor filters after the per-doc
    sum). Each path resumes from a cursor it issued itself."""
    res, cfg = built_index["res"], built_index["cfg"]
    queries = fx.queries_pdf(42).head(4).reset_index(drop=True)
    full = queries.assign(k=np.int32(60))
    for mode in ("kernel", "distributed"):
        want = bm25_topk(spark, built_index["postings"], full, res.N,
                         res.avgdl, cfg, mode=mode).toPandas()
        rows = []
        for qid, g in want.groupby("query_id"):
            g = g.sort_values("rank")
            # cut mid-ranking at rank 7 (arbitrary; ties or not, the
            # remainder must equal ranks 8.. of the full ranking)
            if len(g) <= 8:
                continue
            cut = g.iloc[6]
            rows.append((int(qid), float(cut["score"]),
                         int(cut["doc_id"]),
                         g.iloc[7:17]["doc_id"].to_numpy()))
        assert rows, "need at least one query with >8 hits"
        pq = pd.DataFrame(
            {"query_id": np.array([r[0] for r in rows], np.int32),
             "text": [queries.set_index("query_id").loc[r[0], "text"]
                      for r in rows],
             "k": np.full(len(rows), 10, np.int32),
             "after_score": [r[1] for r in rows],
             "after_doc": [r[2] for r in rows]})
        got = bm25_topk(spark, built_index["postings"], pq, res.N,
                        res.avgdl, cfg, mode=mode).toPandas()
        for r in rows:
            g2 = got[got["query_id"] == r[0]]
            np.testing.assert_array_equal(
                g2.sort_values("rank")["doc_id"].to_numpy(), r[3])
            assert (g2["rank"].to_numpy()
                    == np.arange(1, len(g2) + 1)).all()
        # conjunctive: the cursor is the conjunctive ranking's own
        # rank-3 hit when it exists; the page must equal its ranks 4..
        full_c = bm25_topk(
            spark, built_index["postings"], full, res.N,
            res.avgdl, cfg, mode=mode, conjunctive=True,
        ).toPandas()
        for r in rows:
            fc = full_c[full_c["query_id"] == r[0]].sort_values("rank")
            if len(fc) <= 3:
                continue
            cut = fc.iloc[2]
            pq2 = pq[pq["query_id"] == r[0]].assign(
                after_score=float(cut["score"]),
                after_doc=int(cut["doc_id"]))
            g2 = bm25_topk(
                spark, built_index["postings"], pq2, res.N,
                res.avgdl, cfg, mode=mode,
                conjunctive=True).toPandas()
            np.testing.assert_array_equal(
                g2.sort_values("rank")["doc_id"].to_numpy(),
                fc.iloc[3:13]["doc_id"].to_numpy())


def test_range_facet_counts_matches_oracle(built_index, spark):
    """Range facets (Lucene Long/DoubleRangeFacetCounts semantics) vs
    a naive oracle: overlapping ranges each count the doc, open sides,
    inclusive/exclusive bounds, zero-count ranges present, OR and
    AND."""
    from capsbm25.build import load_doc_stats
    from capsbm25.query import range_facet_counts
    from capsbm25.tokenize import tokenize_py

    cfg, oracle = built_index["cfg"], built_index["oracle"]
    queries = fx.queries_pdf(42).head(8).reset_index(drop=True)
    doc_map = load_doc_stats(spark, built_index["res"].out_dir)
    ranges = [
        ("lt3", None, 3, True, False),          # open low side
        ("r1_4_incl", 1, 4, True, True),        # overlaps lt3
        ("r1_4_excl", 1, 4, False, False),
        ("ge2", 2, None, True, True),           # open high side
        ("all", None, None, True, True),
        ("empty", -9, -5, True, True),          # zero everywhere
    ]
    tix = oracle.doc_meta["turn_idx"]

    def in_range(v, lo, hi, il, ih):
        if lo is not None and (v < lo or (not il and v == lo)):
            return False
        if hi is not None and (v > hi or (not ih and v == hi)):
            return False
        return True

    for conj in (False, True):
        got = (
            range_facet_counts(
                spark, built_index["postings"], queries, doc_map,
                "turn_idx", ranges, cfg, conjunctive=conj,
            )
            .toPandas()
            .sort_values(["query_id", "range_label"],
                         ignore_index=True)
        )
        rows = []
        for q in queries.itertuples(index=False):
            terms = sorted(set(tokenize_py(q.text, cfg)))
            if conj and terms and any(
                    t not in oracle.postings for t in terms):
                m = set()
            elif conj and terms:
                m = set(oracle.postings[terms[0]])
                for t in terms[1:]:
                    m &= oracle.postings[t].keys()
            else:
                m = set()
                for t in terms:
                    m |= oracle.postings.get(t, {}).keys()
            for label, lo, hi, il, ih in ranges:
                n = sum(
                    1 for d in m
                    if in_range(int(tix.iloc[d]), lo, hi, il, ih))
                rows.append((int(q.query_id), label, n))
        want = (
            pd.DataFrame(rows,
                         columns=["query_id", "range_label", "n_docs"])
            .sort_values(["query_id", "range_label"],
                         ignore_index=True)
        )
        # every requested (query, range) pair is present — zeros too
        assert len(got) == len(queries) * len(ranges), conj
        pd.testing.assert_frame_equal(got, want, check_dtype=False)
        assert (got[got["range_label"] == "empty"]["n_docs"] == 0).all()


def test_range_facet_counts_validation(built_index, spark):
    """Duplicate labels and empty range lists raise; a batch that
    tokenizes to nothing still returns every (query, range) at 0."""
    import pytest as _pytest

    from capsbm25.build import load_doc_stats
    from capsbm25.query import range_facet_counts

    cfg = built_index["cfg"]
    doc_map = load_doc_stats(spark, built_index["res"].out_dir)
    queries = pd.DataFrame(
        {"query_id": np.array([0, 1], dtype=np.int32),
         "text": ["%%%", "..."], "k": np.array([5, 5], np.int32)})
    with _pytest.raises(ValueError, match="non-empty"):
        range_facet_counts(spark, built_index["postings"], queries,
                           doc_map, "turn_idx", [], cfg)
    with _pytest.raises(ValueError, match="duplicate"):
        range_facet_counts(
            spark, built_index["postings"], queries, doc_map,
            "turn_idx", [("a", 0, 1, True, True),
                         ("a", 1, 2, True, True)], cfg)
    got = range_facet_counts(
        spark, built_index["postings"], queries, doc_map, "turn_idx",
        [("a", 0, 1, True, True), ("b", None, None, True, True)], cfg,
    ).toPandas()
    assert len(got) == 4 and (got["n_docs"] == 0).all()


def test_date_histogram_matches_oracle(built_index, spark):
    """date_histogram (ES min_doc_count=0 shape) vs a naive oracle:
    hour buckets, zero-filled between each query's first and last
    non-empty bucket, NULL-free, and the too_many_buckets guard."""
    from collections import Counter

    import pytest as _pytest

    from capsbm25.build import load_doc_stats
    from capsbm25.query import date_histogram

    cfg, oracle = built_index["cfg"], built_index["oracle"]
    from capsbm25.tokenize import tokenize_py

    corpus = spark.createDataFrame(built_index["pdf"])
    dm = (
        load_doc_stats(spark, built_index["res"].out_dir)
        .join(corpus.select("conv_id", "turn_idx", "ts"),
              ["conv_id", "turn_idx"])
        .select("doc_id", "ts")
    )
    queries = fx.queries_pdf(42).head(5).reset_index(drop=True)
    got = (
        date_histogram(spark, built_index["postings"], queries, dm,
                       "ts", "hour", cfg)
        .toPandas()
        .sort_values(["query_id", "bucket"], ignore_index=True)
    )
    key = built_index["pdf"].set_index(["conv_id", "turn_idx"])["ts"]
    hours = [
        key.loc[(c, t)].floor("h")
        for c, t in zip(oracle.doc_meta["conv_id"],
                        oracle.doc_meta["turn_idx"])
    ]
    rows = []
    for q in queries.itertuples(index=False):
        m = set()
        for t in sorted(set(tokenize_py(q.text, cfg))):
            m |= oracle.postings.get(t, {}).keys()
        if not m:
            continue
        c = Counter(hours[d] for d in m)
        for h in pd.date_range(min(c), max(c), freq="h"):
            rows.append((int(q.query_id), h, c.get(h, 0)))
    want = (
        pd.DataFrame(rows, columns=["query_id", "bucket", "n_docs"])
        .sort_values(["query_id", "bucket"], ignore_index=True)
    )
    assert len(got) == len(want) > 0
    got["bucket"] = pd.to_datetime(got["bucket"])
    if getattr(got["bucket"].dt, "tz", None) is not None:
        got["bucket"] = got["bucket"].dt.tz_localize(None)
    got["bucket"] = got["bucket"].astype("datetime64[ns]")
    want["bucket"] = want["bucket"].astype("datetime64[ns]")
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # zero-filled gaps really appear as rows (not silently dropped)
    assert (want["n_docs"] == 0).any() == (got["n_docs"] == 0).any()
    with _pytest.raises(ValueError, match="max_buckets"):
        date_histogram(spark, built_index["postings"], queries, dm,
                       "ts", "minute", cfg, max_buckets=3)


def test_date_histogram_all_intervals_branch_parity(built_index, spark,
                                                    monkeypatch):
    """Every interval's (date_trunc unit, pandas freq, count expr)
    triple agrees: the driver-fill and distributed-fill branches
    return identical rows for all 7 intervals, counts sum to the
    match total each time, and bucket boundaries are aligned to the
    unit (a wrong _HISTO_PD_FREQ mapping — e.g. week not anchored to
    Monday — would break the merge and zero the counts)."""
    from capsbm25 import query as qmod
    from capsbm25.build import load_doc_stats
    from capsbm25.query import date_histogram

    cfg = built_index["cfg"]
    corpus = spark.createDataFrame(built_index["pdf"])
    dm = (
        load_doc_stats(spark, built_index["res"].out_dir)
        .join(corpus.select("conv_id", "turn_idx", "ts"),
              ["conv_id", "turn_idx"])
        .select("doc_id", "ts")
    )
    queries = fx.queries_pdf(42).head(2).reset_index(drop=True)
    base_sums = None
    for interval in sorted(qmod._HISTO_UNITS):
        monkeypatch.setattr(qmod, "_HISTO_COLLECT_CAP", 1_000_000)
        small = (
            date_histogram(spark, built_index["postings"], queries,
                           dm, "ts", interval, cfg)
            .toPandas().sort_values(["query_id", "bucket"],
                                    ignore_index=True)
        )
        monkeypatch.setattr(qmod, "_HISTO_COLLECT_CAP", 0)
        big = (
            date_histogram(spark, built_index["postings"], queries,
                           dm, "ts", interval, cfg)
            .toPandas().sort_values(["query_id", "bucket"],
                                    ignore_index=True)
        )
        for df_ in (small, big):
            df_["bucket"] = pd.to_datetime(df_["bucket"])
            if getattr(df_["bucket"].dt, "tz", None) is not None:
                df_["bucket"] = df_["bucket"].dt.tz_localize(None)
            df_["bucket"] = df_["bucket"].astype("datetime64[ns]")
        pd.testing.assert_frame_equal(small, big, check_dtype=False)
        assert len(small) > 0, interval
        # per-query counts must sum to the same match total at every
        # interval (buckets partition the matched docs)
        sums = small.groupby("query_id")["n_docs"].sum()
        if base_sums is None:
            base_sums = sums
        else:
            pd.testing.assert_series_equal(sums, base_sums,
                                           check_dtype=False)


def test_date_histogram_distributed_fallback(built_index, spark,
                                             monkeypatch):
    """Forcing the over-cap branch (distributed zero-fill join) gives
    byte-identical rows to the driver-side fill."""
    from capsbm25 import query as qmod
    from capsbm25.build import load_doc_stats
    from capsbm25.query import date_histogram

    cfg = built_index["cfg"]
    corpus = spark.createDataFrame(built_index["pdf"])
    dm = (
        load_doc_stats(spark, built_index["res"].out_dir)
        .join(corpus.select("conv_id", "turn_idx", "ts"),
              ["conv_id", "turn_idx"])
        .select("doc_id", "ts")
    )
    queries = fx.queries_pdf(42).head(3).reset_index(drop=True)
    small = (
        date_histogram(spark, built_index["postings"], queries, dm,
                       "ts", "hour", cfg)
        .toPandas().sort_values(["query_id", "bucket"],
                                ignore_index=True)
    )
    monkeypatch.setattr(qmod, "_HISTO_COLLECT_CAP", 0)
    big = (
        date_histogram(spark, built_index["postings"], queries, dm,
                       "ts", "hour", cfg)
        .toPandas().sort_values(["query_id", "bucket"],
                                ignore_index=True)
    )
    for df_ in (small, big):
        df_["bucket"] = pd.to_datetime(df_["bucket"])
        if getattr(df_["bucket"].dt, "tz", None) is not None:
            df_["bucket"] = df_["bucket"].dt.tz_localize(None)
        df_["bucket"] = df_["bucket"].astype("datetime64[ns]")
    pd.testing.assert_frame_equal(small, big, check_dtype=False)


def test_stats_facet_matches_oracle(built_index, spark):
    """ES stats-under-terms aggregation: per (query, conv_id) count /
    min / max / sum / avg of dl over matching docs vs a naive oracle,
    OR and AND."""
    from capsbm25.build import load_doc_stats
    from capsbm25.query import stats_facet
    from capsbm25.tokenize import tokenize_py

    cfg, oracle = built_index["cfg"], built_index["oracle"]
    queries = fx.queries_pdf(42).head(6).reset_index(drop=True)
    doc_map = load_doc_stats(spark, built_index["res"].out_dir)
    dls = oracle.doc_meta.assign(dl=oracle.dl)
    for conj in (False, True):
        got = (
            stats_facet(spark, built_index["postings"], queries,
                        doc_map, "conv_id", "dl", cfg,
                        conjunctive=conj)
            .toPandas()
            .sort_values(["query_id", "conv_id"], ignore_index=True)
        )
        rows = []
        for q in queries.itertuples(index=False):
            terms = sorted(set(tokenize_py(q.text, cfg)))
            if conj:
                if not terms or any(
                        t not in oracle.postings for t in terms):
                    continue
                m = set(oracle.postings[terms[0]])
                for t in terms[1:]:
                    m &= oracle.postings[t].keys()
            else:
                m = set()
                for t in terms:
                    m |= oracle.postings.get(t, {}).keys()
            sub = dls.iloc[sorted(m)]
            for cv, g in sub.groupby("conv_id"):
                rows.append((int(q.query_id), cv, len(g),
                             int(g["dl"].min()), int(g["dl"].max()),
                             float(g["dl"].sum()),
                             float(g["dl"].mean())))
        want = (
            pd.DataFrame(rows, columns=["query_id", "conv_id",
                                        "n_docs", "min_v", "max_v",
                                        "sum_v", "avg_v"])
            .sort_values(["query_id", "conv_id"], ignore_index=True)
        )
        assert len(got) == len(want) > 0, conj
        pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_prefix_topk_matches_oracle(built_index, spark):
    """Prefix query (summed-tf ranking) vs a naive oracle, with and
    without a doc filter; StringStartsWith reaches the postings scan."""
    from capsbm25.query import prefix_topk

    res, cfg, oracle = (built_index["res"], built_index["cfg"],
                        built_index["oracle"])
    # prefixes with real expansions in the fixture vocab + a miss
    texts = ["w00", "rare", "zzznope"]
    queries = pd.DataFrame(
        {"query_id": np.arange(len(texts), dtype=np.int32),
         "text": texts,
         "k": np.full(len(texts), 12, dtype=np.int32)}
    )

    def naive(doc_filter=None):
        rows = []
        for q in queries.itertuples(index=False):
            scores = {}
            for term, posting in oracle.postings.items():
                if not term.startswith(q.text):
                    continue
                for d, tf in posting.items():
                    if doc_filter is not None and d not in doc_filter:
                        continue
                    scores[d] = scores.get(d, 0) + tf
            top = sorted(scores.items(), key=lambda x: (-x[1], x[0]))
            for r, (d, s) in enumerate(top[: int(q.k)], 1):
                rows.append((int(q.query_id), d, float(s), r))
        return pd.DataFrame(
            rows, columns=["query_id", "doc_id", "score", "rank"]
        )

    got = prefix_topk(
        spark, built_index["postings"], queries, cfg
    ).toPandas()
    want = naive()
    assert len(got) == len(want) > 0
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want, check_dtype=False
    )
    assert not (got.query_id == 2).any()  # no-expansion prefix -> 0 rows

    fdf, fset = _conv_filter(built_index, spark)
    got_f = prefix_topk(
        spark, built_index["postings"], queries, cfg, doc_filter=fdf
    ).toPandas()
    pd.testing.assert_frame_equal(
        got_f.reset_index(drop=True), naive(fset), check_dtype=False
    )

    # pushdown: the prefix predicate reaches the parquet scan
    plan = prefix_topk(
        spark, built_index["postings"], queries, cfg
    )._jdf.queryExecution().executedPlan().toString()
    # round 5: dictionary-first expansion -> pushed In(term) pruning
    assert "In(term" in plan, plan[:1500]


def test_bm25_must_not_composition(built_index, spark):
    """Boolean MUST_NOT by composition: doc_exclude=term_doc_ids(neg)
    == oracle restricted to docs without the negative term (scoring
    stats stay corpus-global)."""
    from capsbm25.query import term_doc_ids

    res, cfg, oracle = (built_index["res"], built_index["cfg"],
                        built_index["oracle"])
    neg = fx.HOT_TERM
    neg_docs = set(oracle.postings[neg])
    tdf = term_doc_ids(built_index["postings"], [neg])
    assert set(tdf.toPandas()["doc_id"]) == neg_docs

    queries = fx.queries_pdf(42)
    allowed = {d for d in range(oracle.N) if d not in neg_docs}
    want = oracle.topk_pdf(queries, doc_filter=allowed)
    for mode in ("kernel", "distributed"):
        got = bm25_topk(
            spark, built_index["postings"], queries, res.N, res.avgdl,
            cfg, mode=mode, doc_exclude=tdf,
        ).toPandas()
        assert len(got) == len(want), mode
        _assert_rank_identical(got, want, queries)


def test_more_like_this_matches_naive(built_index, spark):
    """MLT: engine == naive oracle (top tf*idf terms -> BM25, each
    query excluding exactly its OWN source) for a batch of source
    docs; another query's source is a legitimate result."""
    from capsbm25.build import load_doc_stats
    from capsbm25.query import more_like_this

    res, cfg, oracle = (built_index["res"], built_index["cfg"],
                        built_index["oracle"])
    srcs = [0, 17, 93]
    corpus = spark.createDataFrame(built_index["pdf"])
    got = more_like_this(
        spark, built_index["postings"], corpus,
        load_doc_stats(spark, res.out_dir), srcs, res.N, res.avgdl,
        cfg, k=8, max_terms=6,
    ).toPandas()

    rows = []
    for src in srcs:
        tfs = {}
        for t in oracle.docs[src]:
            tfs[t] = tfs.get(t, 0) + 1
        ranked = sorted(
            ((tf * oracle.idf(t), t) for t, tf in tfs.items()),
            key=lambda x: (-x[0], x[1]),
        )[:6]
        terms = " ".join(t for _, t in ranked)
        for rank, (d, s) in enumerate(
            (x for x in oracle.topk(terms, 10**9) if x[0] != src), 1,
        ):
            if rank > 8:
                break
            rows.append((src, d, s, rank))
    want = pd.DataFrame(
        rows, columns=["src_doc_id", "doc_id", "score", "rank"]
    )
    assert len(got) == len(want) > 0
    g = got.sort_values(["src_doc_id", "rank"], ignore_index=True)
    w = want.sort_values(["src_doc_id", "rank"], ignore_index=True)
    assert list(g.doc_id) == list(w.doc_id)
    assert np.allclose(g.score, w.score, atol=1e-9)


def test_filter_and_exclude_combined(built_index, spark):
    """doc_filter AND doc_exclude together (kernel + distributed):
    allowed = filter set minus exclude set; scores corpus-global."""
    from pyspark.sql import functions as F

    from capsbm25.build import load_doc_stats

    res, cfg, oracle = (built_index["res"], built_index["cfg"],
                        built_index["oracle"])
    queries = fx.queries_pdf(42)
    fdf, fset = _conv_filter(built_index, spark, stride=2)
    stats_df = load_doc_stats(spark, res.out_dir)
    edf = stats_df.where(F.col("turn_idx") % 3 == 0).select("doc_id")
    eset = {
        i for i, (c, t) in enumerate(
            zip(oracle.doc_meta["conv_id"], oracle.doc_meta["turn_idx"]))
        if t % 3 == 0
    }
    want = oracle.topk_pdf(queries, doc_filter=fset - eset)
    assert len(want) > 0
    for mode in ("kernel", "distributed"):
        got = bm25_topk(
            spark, built_index["postings"], queries, res.N, res.avgdl,
            cfg, mode=mode, doc_filter=fdf, doc_exclude=edf,
        ).toPandas()
        assert len(got) == len(want), mode
        _assert_rank_identical(got, want, queries)


def test_ndarray_doc_sets(built_index, spark):
    """Round-7 fast path: doc_filter/doc_exclude given as driver-side
    numpy id arrays (what query_string's expansion pushdown passes) —
    must route and rank exactly like the DataFrame form on every mode,
    refuse oversized arrays in kernel mode, demote in auto, and treat
    an empty array as a provably-empty allowlist."""
    import pytest

    from capsbm25.build import load_doc_stats
    from capsbm25.query import wildcard_topk

    res, cfg, oracle = (built_index["res"], built_index["cfg"],
                        built_index["oracle"])
    queries = fx.queries_pdf(42)
    _, fset = _conv_filter(built_index, spark, stride=2)
    farr = np.array(sorted(fset), dtype=np.int64)
    eset = {
        i for i, t in enumerate(oracle.doc_meta["turn_idx"]) if t % 3 == 0
    }
    earr = np.array(sorted(eset), dtype=np.int64)

    want = oracle.topk_pdf(queries, doc_filter=fset - eset)
    assert len(want) > 0
    for mode in ("kernel", "distributed", "auto"):
        got = bm25_topk(
            spark, built_index["postings"], queries, res.N, res.avgdl,
            cfg, mode=mode, doc_filter=farr, doc_exclude=earr,
        ).toPandas()
        assert len(got) == len(want), mode
        _assert_rank_identical(got, want, queries)

    # oversized array: kernel refuses, auto demotes to the join path
    # (the array is materialized as ONE single-column frame) and still
    # matches the oracle
    with pytest.raises(ValueError, match="max_kernel_filter"):
        bm25_topk(
            spark, built_index["postings"], queries, res.N, res.avgdl,
            cfg, mode="kernel", doc_filter=farr, max_kernel_filter=3,
        )
    want_f = oracle.topk_pdf(queries, doc_filter=fset)
    got = bm25_topk(
        spark, built_index["postings"], queries, res.N, res.avgdl, cfg,
        mode="auto", doc_filter=farr, max_kernel_filter=3,
    ).toPandas()
    _assert_rank_identical(got, want_f, queries)

    # empty array allowlist -> zero rows, no job
    got = bm25_topk(
        spark, built_index["postings"], queries, res.N, res.avgdl, cfg,
        doc_filter=np.array([], dtype=np.int64),
    ).toPandas()
    assert len(got) == 0

    # expansion entry point (the array becomes the producer's mask):
    # ndarray filter == DataFrame filter on wildcard
    wq = pd.DataFrame({"query_id": np.array([0], dtype=np.int64),
                       "text": ["w00*"],
                       "k": np.array([8], dtype=np.int64)})
    fdf = (load_doc_stats(spark, res.out_dir)
           .where(F.col("doc_id").isin([int(x) for x in farr]))
           .select("doc_id"))
    got_a = wildcard_topk(spark, built_index["postings"], wq, cfg,
                          doc_filter=farr).toPandas()
    got_d = wildcard_topk(spark, built_index["postings"], wq, cfg,
                          doc_filter=fdf).toPandas()
    g = got_a.sort_values(["query_id", "rank"], ignore_index=True)
    d = got_d.sort_values(["query_id", "rank"], ignore_index=True)
    assert list(g.doc_id) == list(d.doc_id) and len(g)
    assert np.allclose(g.score, d.score, atol=1e-9)


def test_prefix_empty_and_all_empty(built_index, spark):
    from capsbm25.query import prefix_topk

    cfg = built_index["cfg"]
    queries = pd.DataFrame(
        {"query_id": np.array([0, 1], dtype=np.int32),
         "text": ["", None],
         "k": np.array([5, 5], dtype=np.int32)}
    )
    got = prefix_topk(
        spark, built_index["postings"], queries, cfg
    ).toPandas()
    assert len(got) == 0


def test_date_histogram_by_composition(built_index, spark):
    """Date-histogram faceting (the ES/Lucene date_histogram analog) by
    COMPOSITION: facet_counts with a time-bucket doc_map built from the
    corpus ts column — no new operator needed."""
    from collections import Counter

    from pyspark.sql import functions as F

    from capsbm25.build import load_doc_stats
    from capsbm25.query import facet_counts
    from capsbm25.tokenize import tokenize_py

    cfg, oracle = built_index["cfg"], built_index["oracle"]
    corpus = spark.createDataFrame(built_index["pdf"])
    dm = (
        load_doc_stats(spark, built_index["res"].out_dir)
        .join(corpus.select("conv_id", "turn_idx", "ts"),
              ["conv_id", "turn_idx"])
        .select("doc_id", F.date_trunc("hour", "ts").alias("hour"))
    )
    queries = fx.queries_pdf(42).head(5).reset_index(drop=True)
    got = (
        facet_counts(spark, built_index["postings"], queries, dm,
                     "hour", cfg)
        .toPandas()
        .sort_values(["query_id", "hour"], ignore_index=True)
    )

    key = built_index["pdf"].set_index(["conv_id", "turn_idx"])["ts"]
    hours = [
        key.loc[(c, t)].floor("h")
        for c, t in zip(oracle.doc_meta["conv_id"],
                        oracle.doc_meta["turn_idx"])
    ]
    rows = []
    for q in queries.itertuples(index=False):
        m = set()
        for t in sorted(set(tokenize_py(q.text, cfg))):
            m |= oracle.postings.get(t, {}).keys()
        c = Counter(hours[d] for d in m)
        rows.extend((int(q.query_id), h, n) for h, n in c.items())
    want = (
        pd.DataFrame(rows, columns=["query_id", "hour", "n_docs"])
        .sort_values(["query_id", "hour"], ignore_index=True)
    )
    assert len(got) == len(want) > 0
    got["hour"] = pd.to_datetime(got["hour"])
    want["hour"] = pd.to_datetime(want["hour"])
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_more_like_this_respects_doc_exclude(built_index, spark):
    """MLT forwards doc_filter/doc_exclude to the inner BM25 — on a
    streaming index with pending tombstones, deleted docs must stop
    appearing in MLT results (round-3 advice gap)."""
    import pandas as pd

    from capsbm25.build import load_doc_stats
    from capsbm25.query import more_like_this

    res, cfg = built_index["res"], built_index["cfg"]
    corpus = spark.createDataFrame(built_index["pdf"])
    stats_df = load_doc_stats(spark, res.out_dir)
    srcs = [0, 17]
    base = more_like_this(
        spark, built_index["postings"], corpus, stats_df, srcs,
        res.N, res.avgdl, cfg, k=8, max_terms=6,
    ).toPandas()
    # tombstone the top result of each source query
    victims = sorted(set(
        base[base["rank"] == 1]["doc_id"].astype(int).tolist()))
    excl = spark.createDataFrame(pd.DataFrame({"doc_id": victims}))
    got = more_like_this(
        spark, built_index["postings"], corpus, stats_df, srcs,
        res.N, res.avgdl, cfg, k=8, max_terms=6, doc_exclude=excl,
    ).toPandas()
    assert not set(got["doc_id"]) & set(victims)
    # ranks stay dense from 1 and scores stay corpus-global: the
    # surviving results are exactly base minus victims, shifted up
    for src in srcs:
        b = base[(base.src_doc_id == src)
                 & ~base.doc_id.isin(victims)].sort_values("rank")
        g = got[got.src_doc_id == src].sort_values("rank")
        n = min(len(g), len(b))
        assert list(g.doc_id)[:n] == list(b.doc_id)[:n]
        assert list(g["rank"]) == list(range(1, len(g) + 1))


def test_doc_filter_duplicates_dont_trip_kernel_cap(built_index, spark):
    """A join-derived doc_filter with duplicate doc_ids must count
    DISTINCT ids against max_kernel_filter (round-3 advice: the limit
    ran before dedup, demoting/raising on few distinct ids)."""
    from pyspark.sql import functions as F

    from capsbm25.build import load_doc_stats
    from capsbm25.query import bm25_topk

    res, cfg = built_index["res"], built_index["cfg"]
    ids = load_doc_stats(spark, res.out_dir).limit(30).select("doc_id")
    dup = ids.crossJoin(spark.range(5)).select("doc_id")  # 150 rows, 30 ids
    queries = fx.queries_pdf(42)
    want = bm25_topk(
        spark, built_index["postings"], queries, res.N, res.avgdl, cfg,
        mode="kernel", doc_filter=ids, max_kernel_filter=40,
    ).toPandas()
    # 150 dup rows > cap 40, but 30 distinct ids <= 40: kernel mode
    # must neither raise nor demote, and results must be identical
    got = bm25_topk(
        spark, built_index["postings"], queries, res.N, res.avgdl, cfg,
        mode="kernel", doc_filter=dup, max_kernel_filter=40,
    ).toPandas()
    pd.testing.assert_frame_equal(
        got.sort_values(["query_id", "rank"], ignore_index=True),
        want.sort_values(["query_id", "rank"], ignore_index=True),
    )


# ---------------------------------------------------------------- round 6


def test_bm25_collapse_by_conv(built_index, spark):
    """Field collapsing (Lucene grouping): at most one doc per group,
    the group HEAD chosen over the FULL scored set (score DESC, doc_id)
    — not a post-filter of the top-k; differential against the naive
    per-group-best oracle. The group key is conv_id's last char (a
    coarse ≤10-value shard-style field) so collisions are guaranteed
    on the small fixture and the collapse provably binds; raw conv_id
    groups are exercised too (correctness only — top-k conv
    collisions are rare at fixture scale)."""
    from capsbm25.build import load_doc_stats
    from capsbm25.query import bm25_topk

    res, cfg, oracle = (built_index["res"], built_index["cfg"],
                        built_index["oracle"])
    queries = fx.queries_pdf(42).head(6)
    conv = oracle.doc_meta["conv_id"]
    stats = load_doc_stats(spark, res.out_dir)
    for tag, collapse_df, grp_of in (
        ("shard", stats.select(
            "doc_id", F.substring("conv_id", -1, 1).alias("shard")),
         lambda d: conv.iloc[d][-1]),
        ("conv", stats.select("doc_id", "conv_id"),
         lambda d: conv.iloc[d]),
    ):
        got = bm25_topk(
            spark, built_index["postings"], queries, res.N, res.avgdl,
            cfg, collapse=collapse_df,
        ).toPandas()
        binds = 0
        for q in queries.itertuples(index=False):
            full = oracle.topk(q.text, 10**9)  # score DESC, doc ASC
            best: dict = {}
            for d, s in full:
                best.setdefault(grp_of(d), (d, s))
            want = sorted(best.values(), key=lambda x: (-x[1], x[0]))
            want = want[: int(q.k)]
            if [d for d, _ in want] != [d for d, _ in full[: int(q.k)]]:
                binds += 1
            g = got[got.query_id == q.query_id].sort_values("rank")
            assert list(g.doc_id) == [d for d, _ in want], (tag, q.query_id)
            assert np.allclose(
                g.score, [s for _, s in want], atol=1e-9), (tag, q.query_id)
            # one doc per group, structurally
            assert len({grp_of(d) for d in g.doc_id}) == len(g), (
                tag, q.query_id)
        if tag == "shard":
            # the collapse must actually change some result
            assert binds > 0


def test_bm25_collapse_rejects_bad_map(built_index, spark):
    import pytest

    from capsbm25.build import load_doc_stats
    from capsbm25.query import bm25_topk

    res, cfg = built_index["res"], built_index["cfg"]
    queries = fx.queries_pdf(42).head(1)
    bad = load_doc_stats(spark, res.out_dir)  # 4 columns, ambiguous
    with pytest.raises(ValueError, match="collapse"):
        bm25_topk(spark, built_index["postings"], queries, res.N,
                  res.avgdl, cfg, collapse=bad).collect()


def _probe_terms(oracle, n=3):
    from collections import Counter

    c = Counter(t for d in oracle.docs for t in d)
    return [t for t, _ in c.most_common(40)][::5][:n]


def test_bm25_term_boosts_all_modes(built_index, spark):
    """Query-time term boosts (Lucene ^boost syntax): t0^2.0 t1 t2^0.5
    must rank identically to the oracle scoring with those multipliers;
    boosts must actually reorder vs the unboosted ranking somewhere."""
    res, cfg, oracle = (built_index["res"], built_index["cfg"],
                        built_index["oracle"])
    t0, t1, t2 = _probe_terms(oracle)
    text = f"{t0}^2.0 {t1} {t2}^0.5"
    boosts = {t0: 2.0, t1: 1.0, t2: 0.5}
    k = 15
    queries = pd.DataFrame(
        {"query_id": np.array([0], dtype=np.int32), "text": [text],
         "k": np.array([k], dtype=np.int32)})
    want = oracle.topk(f"{t0} {t1} {t2}", k, boosts=boosts)
    plain = oracle.topk(f"{t0} {t1} {t2}", k)
    assert [d for d, _ in want] != [d for d, _ in plain]  # boost binds
    for mode in ("kernel", "distributed", "auto"):
        got = bm25_topk(
            spark, built_index["postings"], queries, res.N, res.avgdl,
            cfg, mode=mode, boosts=True,
        ).toPandas().sort_values("rank")
        assert list(got.doc_id) == [d for d, _ in want], mode
        assert np.allclose(got.score, [s for _, s in want],
                           atol=1e-9), mode
    # boosts=False (default): '^' chunks tokenize as before — the flag
    # is opt-in and cannot change existing query semantics
    got = bm25_topk(
        spark, built_index["postings"], queries, res.N, res.avgdl, cfg,
        mode="kernel",
    ).toPandas().sort_values("rank")
    legacy = oracle.topk(text, k)  # tokenizer strips '^', keeps digits
    assert list(got.doc_id) == [d for d, _ in legacy]


def test_bm25_offset_pagination_all_modes(built_index, spark):
    """searchAfter-style paging: pages (offset=0, k), (offset=k, k), ...
    concatenate to exactly the unpaged top-3k with GLOBAL ranks, in
    every mode; WAND pruning must stay exact with the widened target."""
    res, cfg, oracle = (built_index["res"], built_index["cfg"],
                        built_index["oracle"])
    qtext = fx.queries_pdf(42).head(1)["text"].iloc[0]
    k = 7
    full = oracle.topk(qtext, 3 * k)
    assert len(full) == 3 * k  # fixture corpus is big enough
    queries = pd.DataFrame(
        {"query_id": np.arange(3, dtype=np.int32),
         "text": [qtext] * 3,
         "k": np.array([k] * 3, dtype=np.int32),
         "offset": np.array([0, k, 2 * k], dtype=np.int32)})
    for mode in ("kernel", "distributed", "auto"):
        got = bm25_topk(
            spark, built_index["postings"], queries, res.N, res.avgdl,
            cfg, mode=mode,
        ).toPandas()
        pages = []
        for page in range(3):
            g = got[got.query_id == page].sort_values("rank")
            assert list(g["rank"]) == list(
                range(page * k + 1, page * k + k + 1)), (mode, page)
            pages.extend(zip(g.doc_id, g.score))
        assert [d for d, _ in pages] == [d for d, _ in full], mode
        assert np.allclose([s for _, s in pages],
                           [s for _, s in full], atol=1e-9), mode


def test_bm25_offset_rejects_negative(built_index, spark):
    import pytest

    res, cfg = built_index["res"], built_index["cfg"]
    queries = pd.DataFrame(
        {"query_id": np.array([0], dtype=np.int32), "text": ["the"],
         "k": np.array([5], dtype=np.int32),
         "offset": np.array([-1], dtype=np.int32)})
    with pytest.raises(ValueError, match="offset"):
        bm25_topk(spark, built_index["postings"], queries, res.N,
                  res.avgdl, cfg)


def test_explain_scores_matches_oracle(built_index, spark):
    """IndexSearcher.explain analog: per-(term, doc) BM25 components
    match the oracle exactly, and per-doc contrib sums reproduce the
    bm25_topk scores for the same docs."""
    from capsbm25.query import explain_scores

    res, cfg, oracle = (built_index["res"], built_index["cfg"],
                        built_index["oracle"])
    q = fx.queries_pdf(42).head(2)
    # explain each query's top-4 docs plus one doc that matches nothing
    qrows = []
    for r in q.itertuples(index=False):
        top = [d for d, _ in oracle.topk(r.text, 4)]
        qrows.append((int(r.query_id), r.text, top + [oracle.N - 1]))
    queries = pd.DataFrame(qrows, columns=["query_id", "text", "doc_ids"])
    got = explain_scores(
        spark, built_index["postings"], queries, res.N, res.avgdl, cfg,
    ).toPandas().sort_values(["query_id", "term", "doc_id"],
                             ignore_index=True)
    n_checked = 0
    for r in queries.itertuples(index=False):
        want = oracle.explain(r.text, list(r.doc_ids))
        g = got[got.query_id == r.query_id]
        assert (list(zip(g.term, g.doc_id, g.tf, g.dl, g.df))
                == [(t, d, tf, dl, df) for t, d, tf, dl, df, _, _ in want])
        assert np.allclose(g.idf, [w[5] for w in want], atol=1e-12)
        assert np.allclose(g.contrib, [w[6] for w in want], atol=1e-12)
        # contrib sums == bm25 scores for those docs
        by_doc = g.groupby("doc_id")["contrib"].sum()
        for d, s in oracle.topk(r.text, 4):
            assert abs(by_doc[d] - s) < 1e-9
        n_checked += len(want)
    assert n_checked > 0


def test_hit_count_or_and(built_index, spark):
    """TotalHitCountCollector analog: n_hits per query vs the oracle,
    OR and AND; empty/OOV queries still get a 0 row."""
    from capsbm25.query import hit_count

    cfg, oracle = built_index["cfg"], built_index["oracle"]
    t0, t1, t2 = _probe_terms(oracle)
    base = pd.DataFrame(
        {"query_id": np.arange(3, dtype=np.int32),
         "text": [f"{t0} {t1} {t2}", f"{t0} {t2}", t1],
         "k": np.array([5, 5, 5], dtype=np.int32)})
    queries = pd.concat([base, pd.DataFrame(
        {"query_id": np.array([90, 91], dtype=np.int32),
         "text": [fx.OOV_TERM, ""],
         "k": np.array([5, 5], dtype=np.int32)})], ignore_index=True)
    for conj in (False, True):
        got = hit_count(
            spark, built_index["postings"], queries, cfg,
            conjunctive=conj,
        ).toPandas().set_index("query_id")["n_hits"]
        assert len(got) == len(queries), conj
        for q in queries.itertuples(index=False):
            want = oracle.hit_count(q.text, conjunctive=conj)
            assert got[q.query_id] == want, (conj, q.query_id)
        assert got[90] == 0 and got[91] == 0, conj
    # the OR counts must exceed AND somewhere (sanity: conj binds)
    or_c = sum(oracle.hit_count(q.text) for q in base.itertuples(index=False))
    and_c = sum(oracle.hit_count(q.text, conjunctive=True)
                for q in base.itertuples(index=False))
    assert or_c > and_c > 0


def test_synonym_topk_blended(built_index, spark):
    """SynonymQuery semantics: tf sums across group members, df = max
    member df — differential vs the oracle; the blend must differ from
    both plain-OR scoring and each member alone."""
    from capsbm25.query import synonym_topk

    res, cfg, oracle = (built_index["res"], built_index["cfg"],
                        built_index["oracle"])
    t0, t1, t2 = _probe_terms(oracle)
    k = 12
    texts = [
        f"{t0}|{t1} {t2}",      # one 2-member group + a singleton
        f"{t0}|{fx.OOV_TERM}",  # OOV member is a no-op within a group
        f"{t0}|{t1}|{t2}",      # one 3-member group
    ]
    queries = pd.DataFrame(
        {"query_id": np.arange(len(texts), dtype=np.int32),
         "text": texts,
         "k": np.array([k] * len(texts), dtype=np.int32)})
    got = synonym_topk(
        spark, built_index["postings"], queries, res.N, res.avgdl, cfg,
    ).toPandas()
    for q in queries.itertuples(index=False):
        want = oracle.synonym_topk(q.text, k)
        g = got[got.query_id == q.query_id].sort_values("rank")
        assert list(g.doc_id) == [d for d, _ in want], q.query_id
        assert np.allclose(g.score, [s for _, s in want],
                           atol=1e-9), q.query_id
    # blend binds: group scoring != plain OR scoring over same terms
    blended = [d for d, _ in oracle.synonym_topk(f"{t0}|{t1}", k)]
    plain = [d for d, _ in oracle.topk(f"{t0} {t1}", k)]
    assert blended != plain
    # OOV member changes nothing vs the bare term
    assert (oracle.synonym_topk(f"{t0}|{fx.OOV_TERM}", k)
            == oracle.synonym_topk(t0, k))


def test_missing_and_nan_query_fields(built_index, spark):
    """Round-6 review hardening: (a) facet_counts/hit_count work
    without a k column as their docstrings promise; (b) bm25_topk
    raises a clear error for a missing k instead of silently returning
    nothing; (c) NaN/None query text is an empty query, not the
    literal 'nan'/'None' term; (d) a NaN boolean clause is an absent
    clause."""
    import pytest as _pytest

    from capsbm25.build import load_doc_stats
    from capsbm25.query import boolean_topk, facet_counts, hit_count

    res, cfg, oracle = (built_index["res"], built_index["cfg"],
                        built_index["oracle"])
    base = fx.queries_pdf(42).head(2).reset_index(drop=True)
    no_k = base[["query_id", "text"]]
    doc_map = load_doc_stats(spark, res.out_dir)
    fc = facet_counts(spark, built_index["postings"], no_k, doc_map,
                      "conv_id", cfg).toPandas()
    assert len(fc) > 0
    hc = hit_count(spark, built_index["postings"], no_k, cfg).toPandas()
    assert len(hc) == 2
    with _pytest.raises(ValueError, match="k column"):
        bm25_topk(spark, built_index["postings"], no_k, res.N,
                  res.avgdl, cfg)
    # NaN/None text: no terms, no result rows — for both boost modes
    qnan = pd.DataFrame({"query_id": np.array([0, 1], dtype=np.int32),
                         "text": [None, np.nan],
                         "k": np.array([5, 5], dtype=np.int32)})
    for boosts in (False, True):
        got = bm25_topk(spark, built_index["postings"], qnan, res.N,
                        res.avgdl, cfg, boosts=boosts).toPandas()
        assert len(got) == 0, f"boosts={boosts}"
    # NaN boolean clause == no clause
    toks = sorted(oracle.postings, key=oracle.df, reverse=True)[:2]
    qb = pd.DataFrame({"query_id": np.array([0], dtype=np.int32),
                       "must": [toks[0]], "should": [np.nan],
                       "must_not": [None],
                       "k": np.array([10], dtype=np.int32)})
    got = boolean_topk(spark, built_index["postings"], qb, res.N,
                       res.avgdl, cfg).toPandas()
    want = oracle.topk(toks[0], 10)
    assert list(got.sort_values("rank").doc_id) == [d for d, _ in want]


def test_regexp_rejects_stray_braces(built_index, spark):
    """Stray braces are Java/RE2-divergent ('a{2' is a Python/RE2
    literal but a Java PatternSyntaxException at RLIKE time) — the
    validator must raise upfront; canonical quantifiers still pass."""
    import pytest as _pytest

    from capsbm25.query import regexp_topk

    cfg = built_index["cfg"]

    def q(pat):
        return pd.DataFrame({"query_id": np.array([0], dtype=np.int32),
                             "text": [pat],
                             "k": np.array([5], dtype=np.int32)})

    for bad in ("a{2", "a{,2}", "a}b", "a{2}{"):
        with _pytest.raises(ValueError, match="brace"):
            regexp_topk(spark, built_index["postings"], q(bad), cfg)
    got = regexp_topk(spark, built_index["postings"], q("w[0-9]{4}"),
                      cfg, max_expansions=None).toPandas()
    assert len(got) > 0


def test_sorted_topk_missing_stats_sort_last(built_index, spark):
    """A matching doc absent from doc_stats keeps a NULL sort_key and
    sorts LAST (the NULL contract) instead of silently vanishing."""
    from capsbm25.build import load_doc_stats
    from capsbm25.query import sorted_topk

    res, cfg, oracle = (built_index["res"], built_index["cfg"],
                        built_index["oracle"])
    term = sorted(oracle.postings, key=oracle.df, reverse=True)[0]
    q = pd.DataFrame({"query_id": np.array([0], dtype=np.int32),
                      "text": [term],
                      "k": np.array([10 ** 6], dtype=np.int32)})
    stats = load_doc_stats(spark, res.out_dir)
    full = sorted_topk(spark, built_index["postings"], q, stats, "dl",
                       cfg).toPandas()
    assert len(full) > 2
    drop_ids = set(full.doc_id.head(2))
    part = stats.where(~F.col("doc_id").isin([int(d) for d in drop_ids]))
    got = sorted_topk(spark, built_index["postings"], q, part, "dl",
                      cfg).toPandas().sort_values("rank")
    assert set(got.doc_id) == set(full.doc_id)  # nothing vanished
    tail = got.tail(2)
    assert set(tail.doc_id) == drop_ids  # NULL keys sort last
    assert tail.sort_key.isna().all()


def _neg_k_calls():
    """(id, call(ix, spark, k)) for the surfaces that read a per-query
    k, each on a one-query batch (query_id 7) with the given k."""
    from capsbm25.parser import query_string_topk
    from capsbm25.query import (boolean_topk, fuzzy_topk, prefix_topk,
                                synonym_topk, wildcard_topk)

    def q(text, k):
        return pd.DataFrame({"query_id": np.array([7], dtype=np.int32),
                             "text": [text],
                             "k": np.array([k], dtype=np.int32)
                             if isinstance(k, int) else [k]})

    def bm25(mode):
        return lambda ix, s, k: bm25_topk(
            s, ix["postings"], q(fx.HOT_TERM, k), ix["res"].N,
            ix["res"].avgdl, ix["cfg"], mode=mode)

    def boolean(ix, s, k):
        qb = pd.DataFrame({"query_id": [7], "must": [fx.HOT_TERM],
                           "should": [""], "must_not": [""], "k": [k]})
        return boolean_topk(s, ix["postings"], qb, ix["res"].N,
                            ix["res"].avgdl, ix["cfg"], mode="kernel")

    return [
        ("bm25_kernel", bm25("kernel")),
        ("bm25_distributed", bm25("distributed")),
        ("boolean", boolean),
        ("query_string", lambda ix, s, k: query_string_topk(
            s, ix["postings"], q(f"+{fx.HOT_TERM} w00*", k),
            ix["res"].N, ix["res"].avgdl, ix["cfg"])),
        ("synonym", lambda ix, s, k: synonym_topk(
            s, ix["postings"], q(f"{fx.HOT_TERM}|w0001", k),
            ix["res"].N, ix["res"].avgdl, ix["cfg"])),
        ("wildcard", lambda ix, s, k: wildcard_topk(
            s, ix["postings"], q("w00*", k), ix["cfg"])),
        ("prefix", lambda ix, s, k: prefix_topk(
            s, ix["postings"], q("w00", k), ix["cfg"])),
        ("fuzzy", lambda ix, s, k: fuzzy_topk(
            s, ix["postings"], q("w0001", k), ix["cfg"])),
    ]


@pytest.mark.parametrize(
    "call", [pytest.param(c, id=n) for n, c in _neg_k_calls()])
def test_negative_k_rejected_at_boundary(built_index, spark, call):
    """k < 0 raises a ValueError naming the query before any job runs,
    on both bm25 paths and the other surfaces reading a per-query k.
    Before, the kernel's [:k] slice returned all but the last hit and
    the distributed tail returned none."""
    with pytest.raises(ValueError, match="query 7: k must be >= 0"):
        call(built_index, spark, -1).collect()
    # a missing k names the query too, not a bare int() cast error
    for bad in (None, float("nan")):
        with pytest.raises(ValueError,
                           match="query 7: k must be an integer"):
            call(built_index, spark, bad).collect()
    # k = 0 stays a valid empty page
    assert call(built_index, spark, 0).count() == 0


def _dup_id_calls():
    """(id, call(ix, spark)) for the batch surfaces that read a
    per-query k, each on a two-row batch repeating query_id 1."""
    from capsbm25.build import load_doc_stats
    from capsbm25.parser import query_string_topk
    from capsbm25.query import (boolean_topk, fuzzy_topk, phrase_topk,
                                prefix_topk, regexp_topk, sorted_topk,
                                synonym_topk, term_range_topk,
                                wildcard_topk)

    def q(a, b):
        return pd.DataFrame({"query_id": np.array([1, 1], dtype=np.int32),
                             "text": [a, b],
                             "k": np.array([3, 5], dtype=np.int32)})

    def terms(fn, a=f"{fx.HOT_TERM} rare1047tok", b="rare1053tok",
              **kw):
        return lambda ix, s: fn(s, ix["postings"], q(a, b), ix["res"].N,
                                ix["res"].avgdl, ix["cfg"], **kw)

    def expansion(fn, a, b, **kw):
        return lambda ix, s: fn(s, ix["postings"], q(a, b), ix["cfg"],
                                **kw)

    def boolean(ix, s):
        qb = pd.DataFrame({"query_id": [1, 1], "must": [fx.HOT_TERM, ""],
                           "should": ["", "w0001"], "must_not": ["", ""],
                           "k": [3, 5]})
        return boolean_topk(s, ix["postings"], qb, ix["res"].N,
                            ix["res"].avgdl, ix["cfg"])

    def term_range(ix, s):
        qr = pd.DataFrame({"query_id": [1, 1], "lo": ["w0000", "w0100"],
                           "hi": ["w0099", "w0199"], "k": [3, 5]})
        return term_range_topk(s, ix["postings"], qr, ix["cfg"])

    def sorted_(ix, s):
        return sorted_topk(s, ix["postings"], q("w0001", "w0002"),
                           load_doc_stats(s, ix["res"].out_dir), "dl",
                           ix["cfg"])

    return [
        ("bm25_kernel", terms(bm25_topk, mode="kernel")),
        ("bm25_distributed", terms(bm25_topk, mode="distributed")),
        ("boolean", boolean),
        ("query_string", terms(query_string_topk, "w00*", "w0001")),
        ("synonym", terms(synonym_topk, "w0001|w0002", "w0003")),
        ("phrase", terms(phrase_topk, "w0001 w0002", "w0003")),
        ("sorted", sorted_),
        ("wildcard", expansion(wildcard_topk, "w0*", "w00*")),
        ("prefix", expansion(prefix_topk, "w0", "w00")),
        ("fuzzy", expansion(fuzzy_topk, "w0001", "w0002")),
        ("regexp", expansion(regexp_topk, "w0.*", "w00.*")),
        ("term_range", term_range),
    ]


@pytest.mark.parametrize(
    "call", [pytest.param(c, id=n) for n, c in _dup_id_calls()])
def test_duplicate_query_id_rejected(built_index, spark, call):
    """A query_id repeated within one batch raises a ValueError naming
    it before any job runs. Before, bm25 merged both texts under the
    first k, boolean returned no rows and the expansion family merged
    both patterns under the last k."""
    with pytest.raises(ValueError,
                       match="query 1: query_id appears more than once"):
        call(built_index, spark).collect()


def test_in_list_escapes_quotes_and_backslashes(spark):
    """_in_list builds one SQL IN expression; quotes and backslashes in
    values must round-trip as literal characters."""
    from capsbm25.query import _in_list

    vals = ["it's", "back\\slash", "both\\'", "\\", "'", "50%", "a_b",
            "plain"]
    df = spark.createDataFrame(pd.DataFrame(
        {"term": vals + ["its", "backslash", "50", "ab"],
         "n": np.arange(len(vals) + 4, dtype=np.int64)}))
    got = [r.term for r in df.where(_in_list("term", vals)).collect()]
    assert sorted(got) == sorted(vals)
    got = [r.n for r in df.where(_in_list("n", [0, np.int64(9)])).collect()]
    assert sorted(got) == [0, 9]
    assert df.where(_in_list("term", [])).count() == 0
