"""Phrase queries over positional postings — the functional analog of
the reference's substring match-range (upper_bound,
/root/reference/src/Suffix_Array.cpp:252-297), tested rank-identically
against a naive scan oracle."""

import numpy as np
import pandas as pd
import pytest

from capsbm25 import fixtures as fx
from capsbm25.build import build_index, load_postings
from capsbm25.config import BuildConfig
from capsbm25.query import bm25_topk, phrase_topk
from oracle import OracleIndex


@pytest.fixture(scope="module")
def pos_index(spark, tmp_path_factory):
    pdf = fx.gen_transcripts_pdf(120, 42)
    cfg = BuildConfig(num_part_ids=32, shuffle_partitions=8, num_waves=2,
                      hot_share_threshold=0.004, max_salt_buckets=8,
                      index_positions=True)
    out = str(tmp_path_factory.mktemp("posidx") / "t1")
    res = build_index(spark, spark.createDataFrame(pdf), out, cfg)
    return {"pdf": pdf, "cfg": cfg, "res": res,
            "postings": load_postings(spark, out),
            "oracle": OracleIndex(pdf)}


def _phrases_from_corpus(oracle, n=6):
    """Real consecutive trigrams from varied docs + a hot-term bigram."""
    out = []
    for doc_id in (0, 7, 31, 64, 99):
        toks = oracle.docs[doc_id]
        if len(toks) >= 5:
            out.append(" ".join(toks[2:5]))
    out.append(fx.HOT_TERM)                       # single-token phrase
    out.append("zz yy xx never together")          # no match
    out.append(fx.OOV_TERM + " w0000")             # OOV token
    return out[:n + 2]


def test_phrase_rank_identical_to_oracle(pos_index, spark):
    res, cfg, oracle = pos_index["res"], pos_index["cfg"], pos_index["oracle"]
    texts = _phrases_from_corpus(oracle)
    queries = pd.DataFrame({
        "query_id": np.arange(len(texts), dtype=np.int32),
        "text": texts,
        "k": np.full(len(texts), 10, dtype=np.int32),
    })
    want = oracle.phrase_topk_pdf(queries)
    for mode, kw in [("kernel", {}), ("distributed", {}),
                     ("auto", {"max_kernel_df": 60})]:
        got = phrase_topk(
            spark, pos_index["postings"], queries, res.N, res.avgdl, cfg,
            mode=mode, **kw,
        ).toPandas()
        assert len(got) == len(want), mode
        for qid in queries["query_id"]:
            g = got[got.query_id == qid].sort_values("rank")
            w = want[want.query_id == qid].sort_values("rank")
            assert list(g.doc_id) == list(w.doc_id), (mode, qid,
                                                      queries.text[qid])
            assert np.allclose(g.score, w.score, atol=1e-9), (mode, qid)
    # at least one multi-token phrase produced hits (corpus-derived)
    multi = [int(q) for q, t in zip(queries.query_id, texts)
             if len(t.split()) >= 3]
    assert any((got.query_id == q).any() for q in multi)


def test_phrase_is_subset_of_conjunctive(pos_index, spark):
    """Every phrase hit must also be an AND-semantics hit (phrase is
    strictly stronger), with identical BM25 scores for shared docs."""
    res, cfg, oracle = pos_index["res"], pos_index["cfg"], pos_index["oracle"]
    toks = oracle.docs[0][:3]
    q = pd.DataFrame({"query_id": np.array([0], dtype=np.int32),
                      "text": [" ".join(toks)],
                      "k": np.array([50], dtype=np.int32)})
    ph = phrase_topk(spark, pos_index["postings"], q, res.N, res.avgdl,
                     cfg).toPandas()
    co = bm25_topk(spark, pos_index["postings"], q, res.N, res.avgdl, cfg,
                   mode="kernel", conjunctive=True).toPandas()
    assert set(ph.doc_id) <= set(co.doc_id)
    merged = ph.merge(co, on="doc_id", suffixes=("_p", "_c"))
    assert np.allclose(merged.score_p, merged.score_c, atol=1e-12)


def test_phrase_requires_positional_index(built_index, spark):
    res, cfg = built_index["res"], built_index["cfg"]
    q = pd.DataFrame({"query_id": np.array([0], dtype=np.int32),
                      "text": ["w0000 w0001"],
                      "k": np.array([5], dtype=np.int32)})
    with pytest.raises(Exception, match="index_positions"):
        phrase_topk(spark, built_index["postings"], q, res.N, res.avgdl,
                    cfg).collect()


@pytest.mark.parametrize("mode", ["kernel", "distributed"])
@pytest.mark.parametrize("text", ["w0000 w0001", "w0000 zzzznotaword"])
def test_phrase_requires_positions_in_every_mode(built_index, spark, mode,
                                                 text):
    """On a non-positional index a phrase raises and names
    index_positions in both modes, also when one of its tokens is out of
    vocabulary (the kernel used to return 0 rows for that phrase)."""
    res, cfg = built_index["res"], built_index["cfg"]
    q = pd.DataFrame({"query_id": np.array([0], dtype=np.int32),
                      "text": [text], "k": np.array([5], dtype=np.int32)})
    with pytest.raises(Exception, match="index_positions"):
        phrase_topk(spark, built_index["postings"], q, res.N, res.avgdl,
                    cfg, mode=mode).collect()


def test_positional_index_rank_identical_for_bagofwords(pos_index, spark):
    """Positions must not perturb the existing BM25 path."""
    res, cfg, oracle = pos_index["res"], pos_index["cfg"], pos_index["oracle"]
    queries = fx.queries_pdf(42)
    want = oracle.topk_pdf(queries)
    got = bm25_topk(spark, pos_index["postings"], queries, res.N, res.avgdl,
                    cfg, mode="kernel", prune=True).toPandas()
    assert len(got) == len(want)
    for qid in queries["query_id"]:
        g = got[got.query_id == qid].sort_values("rank")
        w = want[want.query_id == qid].sort_values("rank")
        assert list(g.doc_id) == list(w.doc_id), qid
        assert np.allclose(g.score, w.score, atol=1e-9), qid


def test_validate_positional_index(pos_index, spark):
    """The is_sorted-analog validator also checks the pos payload
    (per-pair strictly increasing, every position < dl)."""
    from capsbm25.validate import validate_index

    out = validate_index(spark, pos_index["res"].out_dir, pos_index["cfg"])
    assert out["violations"] == 0, out
    assert out["rows"] > 0


def test_validator_flags_missing_pos_payload(pos_index):
    """A positional index whose pos payloads are lost must FAIL
    validation (not just break phrase queries at runtime)."""
    from pyspark.sql import functions as F

    from capsbm25.validate import validate_postings

    stripped = pos_index["postings"].withColumn("pos", F.lit(b""))
    out = validate_postings(stripped, pos_index["cfg"])
    assert out["violations"] > 0


def test_bytes_routing_forces_distributed(pos_index, spark, monkeypatch):
    """Auto-routing must bound the kernel task by ENCODED PAYLOAD BYTES,
    not just sum-df: with positions indexed, payload per df entry varies
    ~10x, so a fat positional posting must route to the distributed path
    even when sum-df is far below max_kernel_df."""
    import capsbm25.query as qmod

    res, cfg, oracle = pos_index["res"], pos_index["cfg"], pos_index["oracle"]
    toks = oracle.docs[0]
    queries = pd.DataFrame({
        "query_id": np.array([0], dtype=np.int32),
        "text": [" ".join(toks[2:5])],
        "k": np.array([5], dtype=np.int32),
    })
    want = oracle.phrase_topk_pdf(queries)

    calls = {"kernel": 0, "distributed": 0}
    real_k, real_d = qmod._run_phrase_kernel, qmod._run_phrase_distributed

    def spy_k(*a, **kw):
        calls["kernel"] += 1
        return real_k(*a, **kw)

    def spy_d(*a, **kw):
        calls["distributed"] += 1
        return real_d(*a, **kw)

    monkeypatch.setattr(qmod, "_run_phrase_kernel", spy_k)
    monkeypatch.setattr(qmod, "_run_phrase_distributed", spy_d)

    got = phrase_topk(
        spark, pos_index["postings"], queries, res.N, res.avgdl, cfg,
        mode="auto", max_kernel_df=10_000_000, max_kernel_bytes=16,
    ).toPandas()
    assert calls == {"kernel": 0, "distributed": 1}, calls
    g = got.sort_values("rank")
    w = want[want.query_id == 0].sort_values("rank")
    assert list(g.doc_id) == list(w.doc_id)
    assert np.allclose(g.score, w.score, atol=1e-9)


def test_phrase_filtered_and_excluded(pos_index, spark):
    """doc_filter / doc_exclude on phrase_topk: Lucene filter + liveDocs
    semantics (candidates restricted, BM25 stats corpus-global) —
    kernel, distributed and auto modes vs the filtered oracle."""
    from pyspark.sql import functions as F

    from capsbm25.build import load_doc_stats

    res, cfg, oracle = pos_index["res"], pos_index["cfg"], pos_index["oracle"]
    texts = _phrases_from_corpus(oracle)
    queries = pd.DataFrame(
        {"query_id": np.arange(len(texts), dtype=np.int32),
         "text": texts,
         "k": np.full(len(texts), 10, dtype=np.int32)}
    )
    convs = sorted(pos_index["pdf"]["conv_id"].unique())
    allowed = set(convs[::2])
    fset = {i for i, c in enumerate(oracle.doc_meta["conv_id"])
            if c in allowed}
    stats_df = load_doc_stats(spark, res.out_dir)
    fdf = stats_df.where(F.col("conv_id").isin(sorted(allowed))) \
                  .select("doc_id")
    edf = stats_df.where(~F.col("conv_id").isin(sorted(allowed))) \
                  .select("doc_id")

    want = oracle.phrase_topk_pdf(queries, doc_filter=fset)
    assert len(want) > 0
    # filter and its complement-exclusion must agree with the oracle
    for kwargs in ({"doc_filter": fdf}, {"doc_exclude": edf}):
        for mode in ("kernel", "distributed", "auto"):
            got = phrase_topk(
                spark, pos_index["postings"], queries, res.N, res.avgdl,
                cfg, mode=mode, **kwargs,
            ).toPandas()
            assert len(got) == len(want), (mode, list(kwargs))
            for qid in queries["query_id"]:
                g = got[got.query_id == qid].sort_values("rank")
                w = want[want.query_id == qid].sort_values("rank")
                assert list(g.doc_id) == list(w.doc_id), (mode, qid)
                assert np.allclose(g.score, w.score, atol=1e-9), (mode, qid)


def test_phrase_distributed_fallback_over_cand_cap(pos_index, spark,
                                                   monkeypatch):
    """The over-cap fallback of the distributed positions pass (AQE
    join instead of the collected broadcast mask) stays rank-identical
    — forced by shrinking MAX_CAND_COLLECT to 0."""
    import capsbm25.query as qm

    res, cfg, oracle = pos_index["res"], pos_index["cfg"], pos_index["oracle"]
    monkeypatch.setattr(qm, "MAX_CAND_COLLECT", 0)
    texts = _phrases_from_corpus(oracle)
    queries = pd.DataFrame(
        {"query_id": np.arange(len(texts), dtype=np.int32),
         "text": texts,
         "k": np.full(len(texts), 10, dtype=np.int32)}
    )
    want = oracle.phrase_topk_pdf(queries)
    got = phrase_topk(
        spark, pos_index["postings"], queries, res.N, res.avgdl, cfg,
        mode="distributed",
    ).toPandas()
    assert len(got) == len(want) > 0
    for qid in queries["query_id"]:
        g = got[got.query_id == qid].sort_values("rank")
        w = want[want.query_id == qid].sort_values("rank")
        assert list(g.doc_id) == list(w.doc_id), qid
        assert np.allclose(g.score, w.score, atol=1e-9), qid


def test_phrase_distributed_chunked_cand_mask(pos_index, spark, monkeypatch):
    """Unbounded-cardinality path: the distributed candidate mask is
    CHUNKED by doc-id range (chunk = doc_id // CAND_CHUNK_SPAN), so no
    row ever holds the whole candidate set. Forced worst case: span=4
    makes nearly every candidate its own chunk row — every posting row
    joins MANY disjoint chunk arrays and the emitted rows must union
    back without loss or duplication; must stay rank-identical."""
    import capsbm25.query as qm

    res, cfg, oracle = pos_index["res"], pos_index["cfg"], pos_index["oracle"]
    monkeypatch.setattr(qm, "MAX_CAND_COLLECT", 0)
    monkeypatch.setattr(qm, "CAND_CHUNK_SPAN", 4)
    texts = _phrases_from_corpus(oracle)
    queries = pd.DataFrame(
        {"query_id": np.arange(len(texts), dtype=np.int32),
         "text": texts,
         "k": np.full(len(texts), 10, dtype=np.int32)}
    )
    want = oracle.phrase_topk_pdf(queries)
    got = phrase_topk(
        spark, pos_index["postings"], queries, res.N, res.avgdl, cfg,
        mode="distributed",
    ).toPandas()
    assert len(got) == len(want) > 0
    for qid in queries["query_id"]:
        g = got[got.query_id == qid].sort_values("rank")
        w = want[want.query_id == qid].sort_values("rank")
        assert list(g.doc_id) == list(w.doc_id), qid
        assert np.allclose(g.score, w.score, atol=1e-9), qid


def test_rescore_topk_matches_oracle(pos_index, spark):
    """ES rescore (two-phase): window by BM25, phrase re-score over
    the window only, combined qw*bm25 + rw*phrase ranking vs a naive
    composition of the test oracle's own topk + phrase_topk; phrase
    non-matches keep their base score; validation raises."""
    from capsbm25.query import rescore_topk

    res, cfg, oracle = (pos_index["res"], pos_index["cfg"],
                        pos_index["oracle"])
    # phrases drawn from query texts so the bonus actually reorders
    # (the fixture's first 10 queries are single-term — filter first)
    base = fx.queries_pdf(42)
    queries = base[base["text"].str.split().str.len() >= 2].head(6) \
        .assign(
            phrase=lambda d: d["text"].str.split().str[:2]
            .str.join(" "),
            k=np.int32(10),
    ).reset_index(drop=True)
    assert len(queries) >= 2
    W, QW, RW = 50, 1.0, 2.0
    got = (
        rescore_topk(spark, pos_index["postings"], queries, res.N,
                     res.avgdl, cfg, window_size=W, query_weight=QW,
                     rescore_weight=RW)
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    rows = []
    for q in queries.itertuples(index=False):
        win = oracle.topk(q.text, W)          # [(doc, score)]
        wids = [d for d, _ in win]
        ph = dict(oracle.phrase_topk(q.phrase, W,
                                     doc_filter=set(wids)))
        comb = sorted(
            ((QW * s + RW * ph.get(d, 0.0), d) for d, s in win),
            key=lambda t: (-t[0], t[1]))[:int(q.k)]
        rows.extend((int(q.query_id), d, sc, i + 1)
                    for i, (sc, d) in enumerate(comb))
    want = pd.DataFrame(
        rows, columns=["query_id", "doc_id", "score", "rank"])
    assert len(got) == len(want) > 0
    pd.testing.assert_frame_equal(
        got[["query_id", "doc_id", "rank"]],
        want[["query_id", "doc_id", "rank"]], check_dtype=False)
    np.testing.assert_allclose(got["score"].to_numpy(),
                               want["score"].to_numpy(), rtol=1e-9)
    with pytest.raises(ValueError, match="window_size"):
        rescore_topk(spark, pos_index["postings"], queries, res.N,
                     res.avgdl, cfg, window_size=0)
    with pytest.raises(ValueError, match="phrase"):
        rescore_topk(spark, pos_index["postings"],
                     queries.drop(columns=["phrase"]), res.N,
                     res.avgdl, cfg)


def test_rescore_topk_multiquery_window_not_crowded(pos_index, spark):
    """Round-7 advice: the phrase pass filters by the UNION of all
    queries' windows; with a small window_size and a phrase matching
    most union docs, a k=window_size phrase pass crowded a query's
    own-window docs out of the top-k and silently zeroed their bonus.
    Every query must get its full per-window bonus regardless of how
    many OTHER queries are in the batch."""
    from capsbm25.query import rescore_topk

    res, cfg, oracle = (pos_index["res"], pos_index["cfg"],
                        pos_index["oracle"])
    base = fx.queries_pdf(42)
    # distinct windows per query, ONE ubiquitous phrase shared by all
    # (the corpus's top-df term): the union of windows then holds more
    # phrase matches than window_size, the exact crowding setup —
    # verified to crowd 2 queries' own-window docs out of a
    # k=window_size union top-k
    from collections import Counter

    dfc = Counter()
    for toks in oracle.docs:
        dfc.update(set(toks))
    common = dfc.most_common(1)[0][0]
    queries = base[base["text"].str.split().str.len() >= 2].head(5) \
        .assign(phrase=common, k=np.int32(4)).reset_index(drop=True)
    W, QW, RW = 4, 1.0, 2.0
    got = (
        rescore_topk(spark, pos_index["postings"], queries, res.N,
                     res.avgdl, cfg, window_size=W, query_weight=QW,
                     rescore_weight=RW)
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    rows = []
    for q in queries.itertuples(index=False):
        win = oracle.topk(q.text, W)
        wids = [d for d, _ in win]
        ph = dict(oracle.phrase_topk(q.phrase, W, doc_filter=set(wids)))
        comb = sorted(
            ((QW * s + RW * ph.get(d, 0.0), d) for d, s in win),
            key=lambda t: (-t[0], t[1]))[:int(q.k)]
        rows.extend((int(q.query_id), d, sc, i + 1)
                    for i, (sc, d) in enumerate(comb))
    want = pd.DataFrame(
        rows, columns=["query_id", "doc_id", "score", "rank"])
    assert len(got) == len(want) > 0
    pd.testing.assert_frame_equal(
        got[["query_id", "doc_id", "rank"]],
        want[["query_id", "doc_id", "rank"]], check_dtype=False)
    np.testing.assert_allclose(got["score"].to_numpy(),
                               want["score"].to_numpy(), rtol=1e-9)


def test_phrase_array_filter_on_distributed_route(pos_index, spark):
    """A doc_filter / doc_exclude given as an id array in auto mode
    becomes a broadcast mask only; a phrase that auto mode routes to
    the distributed path must still apply it (rank-identical to the
    filtered oracle)."""
    res, cfg, oracle = pos_index["res"], pos_index["cfg"], pos_index["oracle"]
    texts = _phrases_from_corpus(oracle)
    queries = pd.DataFrame(
        {"query_id": np.arange(len(texts), dtype=np.int32),
         "text": texts,
         "k": np.full(len(texts), 10, dtype=np.int32)}
    )
    keep = np.arange(0, res.N, 2, dtype=np.int64)
    want = oracle.phrase_topk_pdf(queries, doc_filter=set(keep.tolist()))
    assert len(want) > 0
    drop = np.setdiff1d(np.arange(res.N, dtype=np.int64), keep)
    for kwargs in ({"doc_filter": keep}, {"doc_exclude": drop}):
        got = phrase_topk(
            spark, pos_index["postings"], queries, res.N, res.avgdl, cfg,
            mode="auto", max_kernel_df=0, **kwargs,
        ).toPandas()
        assert len(got) == len(want), list(kwargs)
        for qid in queries["query_id"]:
            g = got[got.query_id == qid].sort_values("rank")
            w = want[want.query_id == qid].sort_values("rank")
            assert list(g.doc_id) == list(w.doc_id), (list(kwargs), qid)
            assert np.allclose(g.score, w.score, atol=1e-9), qid


# Spark jobs of one collected distributed phrase_topk call on pos_index
# as counted with the count_distinct candidate pass (narrow per-term rows
# + qmeta join) that the term-engine pass replaced
_PHRASE_DIST_JOBS = {"under_cap": 14, "over_cap": 22}


@pytest.mark.parametrize("cap", ["under_cap", "over_cap"])
def test_phrase_distributed_job_count(pos_index, spark, monkeypatch, cap):
    """A distributed phrase call, collected, runs no more Spark jobs
    than the count_distinct candidate pass it replaced, under the
    candidate collect cap and over it."""
    import uuid

    import capsbm25.query as qm
    from test_streaming import _jobs_of

    if cap == "over_cap":
        monkeypatch.setattr(qm, "MAX_CAND_COLLECT", 0)
    res, cfg, oracle = pos_index["res"], pos_index["cfg"], pos_index["oracle"]
    texts = _phrases_from_corpus(oracle)
    queries = pd.DataFrame(
        {"query_id": np.arange(len(texts), dtype=np.int32),
         "text": texts,
         "k": np.full(len(texts), 10, dtype=np.int32)}
    )
    rows, jobs = _jobs_of(
        spark, f"phrase-{uuid.uuid4().hex}",
        lambda: phrase_topk(spark, pos_index["postings"], queries, res.N,
                            res.avgdl, cfg, mode="distributed").collect())
    assert len(rows) == len(oracle.phrase_topk_pdf(queries)) > 0
    assert 0 < jobs <= _PHRASE_DIST_JOBS[cap], jobs
