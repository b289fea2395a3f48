"""Round-2 regression tests: stale block-max bounds, auto query-mode
fallback, empty-relation build, truncated-varint detection, persisted
build-config adoption."""

import json
import os

import numpy as np
import pandas as pd
import pytest

from capsbm25 import fixtures as fx
from capsbm25 import query as qmod
from capsbm25.codec import decode_varints, delta_decode, delta_encode, encode_varints
from capsbm25.config import BuildConfig
from capsbm25.query import _score_query_kernel, bm25_topk
from capsbm25.scoring import idf as idf_fn
from capsbm25.scoring import term_scores


def _posting_row(qid, term, docs, tfs, dls, k, df=None):
    return {
        "query_id": qid,
        "term": term,
        "k": k,
        "role": "should",
        "n_must": 0,
        "msm": 0,
        "df": df if df is not None else len(docs),
        "cf": int(np.sum(tfs)),
        "doc_ids": delta_encode(np.asarray(docs, dtype=np.int64)),
        "tfs": encode_varints(np.asarray(tfs, dtype=np.int64)),
        "dls": encode_varints(np.asarray(dls, dtype=np.int64)),
        "part_id": 0,
        "partial": False,
    }


def test_stale_blockmax_cannot_drop_topk():
    """ADVICE(high) regression (round 8: the stored block_max column is
    gone entirely — this test keeps the scenario that motivated
    recompute-from-exact-scores): a rare term whose top doc sits in a
    late block of a multi-segment-shaped row must survive WAND pruning
    when a stopword-grade sibling term seeds a high theta. Bounds must
    come from the exact scores the kernel already materialized."""
    cfg = BuildConfig(block_size=128)
    N, avgdl, k = 1_000_000, 10.0, 1

    # term A (rare, idf ~8.3): bridge doc 50, filler docs 1000..1254,
    # HERO doc 1999 with tf=100/dl=1 — the true top-1 (score ~18.1).
    a_docs = [50] + list(range(1000, 1255)) + [1999]
    a_tfs = [1] + [1] * 255 + [100]
    a_dls = [1] + [10] * 255 + [1]
    # term B (stopword-grade: declared df=300k over the full corpus, the
    # decoded rows are the segment's subset — idf ~1.2): docs 0..99 so
    # phase-1 seeds from B alone (>=64). The bridge doc 50 is in BOTH
    # terms with best-in-B score, so theta ~15.0 far exceeds every
    # filler entry of A — only exact per-block bounds keep the hero.
    b_docs = list(range(100))
    b_tfs = [1] * 100
    b_dls = [100] * 50 + [1] + [100] * 49

    pdf = pd.DataFrame([
        _posting_row(0, "aaa", a_docs, a_tfs, a_dls, k),
        _posting_row(0, "bbb", b_docs, b_tfs, b_dls, k, df=300_000),
    ])
    pruned = _score_query_kernel(pdf, N, avgdl, cfg, prune=True)
    exhaustive = _score_query_kernel(pdf, N, avgdl, cfg, prune=False)

    # true top-1: the hero doc (tf=100, dl=1 on rare term A)
    want = float(
        term_scores(np.array([100]), np.array([1]),
                    float(idf_fn(N, 257)), avgdl, cfg.k1, cfg.b)[0]
    )
    assert list(exhaustive.doc_id) == [1999]
    assert list(pruned.doc_id) == [1999], (
        "stale stored block_max pruned the true top-1 doc"
    )
    assert pruned.score.iloc[0] == pytest.approx(want, abs=1e-9)
    assert pruned.score.iloc[0] == exhaustive.score.iloc[0]


def test_auto_mode_fallback(built_index, spark, monkeypatch):
    """mode='auto' must route heavy queries (sum df > max_kernel_df) to
    the distributed path and stay rank-identical to the oracle."""
    res, cfg = built_index["res"], built_index["cfg"]
    oracle = built_index["oracle"]
    queries = pd.DataFrame({
        "query_id": np.array([0, 1], dtype=np.int32),
        "text": [fx.HOT_TERM + " w0000", "rare7tok w0001"],
        "k": np.array([5, 5], dtype=np.int32),
    })
    want = oracle.topk_pdf(queries)

    calls = {"kernel": 0, "distributed": 0}
    real_k, real_d = qmod._run_kernel, qmod._run_distributed

    def spy_k(*a, **kw):
        calls["kernel"] += 1
        return real_k(*a, **kw)

    def spy_d(*a, **kw):
        calls["distributed"] += 1
        return real_d(*a, **kw)

    monkeypatch.setattr(qmod, "_run_kernel", spy_k)
    monkeypatch.setattr(qmod, "_run_distributed", spy_d)

    # threshold between the two queries' sum-df: hot query goes
    # distributed, rare query stays on the kernel
    hot_df = oracle.df(fx.HOT_TERM) + oracle.df("w0000")
    rare_df = oracle.df("rare7tok") + oracle.df("w0001")
    assert rare_df < hot_df
    thresh = (rare_df + hot_df) // 2

    got = bm25_topk(
        spark, built_index["postings"], queries, res.N, res.avgdl, cfg,
        mode="auto", max_kernel_df=thresh,
    ).toPandas()
    assert calls == {"kernel": 1, "distributed": 1}, calls
    for qid in queries["query_id"]:
        g = got[got.query_id == qid].sort_values("rank")
        w = want[want.query_id == qid].sort_values("rank")
        assert list(g.doc_id) == list(w.doc_id), qid
        assert np.allclose(g.score, w.score, atol=1e-9), qid

    # all-light: auto degrades to pure kernel (no distributed call)
    calls.update(kernel=0, distributed=0)
    got2 = bm25_topk(
        spark, built_index["postings"], queries, res.N, res.avgdl, cfg,
        mode="auto", max_kernel_df=10 ** 9,
    ).toPandas()
    assert calls["distributed"] == 0 and calls["kernel"] == 1
    assert len(got2) == len(want)


def test_empty_relation_build(spark, tmp_path):
    """build_index on a ZERO-ROW relation (not just empty texts) must
    complete: the empty doc-id branch now carries dl for stage_docs."""
    from capsbm25.build import build_index

    empty = spark.createDataFrame([], fx.TRANSCRIPT_SCHEMA)
    res = build_index(spark, empty, str(tmp_path / "empty_idx"),
                      BuildConfig(num_part_ids=8, shuffle_partitions=2))
    assert res.N == 0 and res.avgdl == 0.0


def test_truncated_varint_raises():
    buf = encode_varints(np.array([1, 300, 7], dtype=np.int64))
    assert decode_varints(buf).tolist() == [1, 300, 7]
    with pytest.raises(ValueError, match="truncated"):
        decode_varints(buf[:-1] + bytes([buf[-1] | 0x80]))
    with pytest.raises(ValueError, match="truncated"):
        delta_decode(b"\x80")


def test_config_persisted_and_adopted(built_index):
    """Build-shaped fields live in corpus_stats.json; load_build_config
    adopts them over a caller's mismatched runtime config."""
    from capsbm25.build import load_build_config

    out = built_index["res"].out_dir
    with open(os.path.join(out, "corpus_stats.json")) as f:
        stats = json.load(f)
    cfg = built_index["cfg"]
    assert stats["config"] == cfg.persist_dict()

    mismatched = BuildConfig(block_size=7, k1=9.9, b=0.1,
                             token_pattern="[a-z]", max_token_len=3,
                             shuffle_partitions=2)
    adopted = load_build_config(out, base=mismatched)
    for f_ in BuildConfig.PERSISTED_FIELDS:
        assert getattr(adopted, f_) == getattr(cfg, f_), f_
    # runtime knobs stay the caller's
    assert adopted.shuffle_partitions == 2


def test_runs_pack_pairs_losslessly(built_index, spark):
    """extract_runs is a lossless re-packing of extract_pairs: same
    (term, doc_id, tf, dl) multiset, each run strictly increasing, far
    fewer shuffle rows."""
    from capsbm25.codec import decode_varints, delta_decode
    from capsbm25.docids import assign_doc_ids
    from capsbm25.postings import extract_pairs, extract_runs

    res, cfg = built_index["res"], built_index["cfg"]
    docs = assign_doc_ids(
        spark.createDataFrame(built_index["pdf"]), cfg
    ).select("doc_id", "text")
    pairs = (
        extract_pairs(docs, cfg, plan=res.plan)
        .toPandas()
        .sort_values(["term", "doc_id"], ignore_index=True)
    )
    runs = extract_runs(docs, cfg, plan=res.plan).toPandas()
    assert len(runs) < len(pairs) / 2, (len(runs), len(pairs))
    assert runs["n"].sum() == len(pairs)

    rows = []
    for r in runs.itertuples(index=False):
        d = delta_decode(r.doc_ids)
        t = decode_varints(r.tfs).astype(int)
        dl = decode_varints(r.dls).astype(int)
        assert d.size == t.size == dl.size == r.n
        assert (np.diff(d) > 0).all(), "run not strictly increasing"
        assert d[0] == r.first_doc and d[-1] == r.last_doc
        for i in range(d.size):
            rows.append((r.term, int(d[i]), int(t[i]), int(dl[i]), r.part_id))
    unpacked = (
        pd.DataFrame(rows, columns=["term", "doc_id", "tf", "dl", "part_id"])
        .sort_values(["term", "doc_id"], ignore_index=True)
    )
    assert unpacked[["term", "doc_id"]].equals(pairs[["term", "doc_id"]])
    assert (unpacked["tf"].to_numpy() == pairs["tf"].to_numpy()).all()
    assert (unpacked["dl"].to_numpy() == pairs["dl"].to_numpy()).all()
    assert (unpacked["part_id"].to_numpy() == pairs["part_id"].to_numpy()).all()


def test_encode_varints_grouped_matches_ungrouped():
    from capsbm25.codec import encode_varints, encode_varints_grouped

    rng = np.random.default_rng(7)
    groups = (
        [np.array([], dtype=np.int64)]  # LEADING empty group (regression:
        # the boundary formula used ends[gs-1] which wrapped to the
        # buffer end and handed group 0 every byte)
        + [rng.integers(0, 1 << 40, size=rng.integers(1, 50)).astype(np.int64)
           for _ in range(200)]
        + [np.array([], dtype=np.int64)]
    )
    values = np.concatenate(groups)
    sizes = np.array([g.size for g in groups], dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(sizes)[:-1]))
    got = encode_varints_grouped(values, starts)
    assert got == [encode_varints(g) for g in groups]


def test_distributed_df_not_inflated_by_shared_terms(built_index, spark):
    """Regression: term df must be aggregated over the PRE-query-join
    postings. Two queries sharing a term previously doubled its df in
    distributed mode (smaller idf => wrong scores for both queries)."""
    res, cfg = built_index["res"], built_index["cfg"]
    oracle = built_index["oracle"]
    queries = pd.DataFrame({
        "query_id": np.array([0, 1], dtype=np.int32),
        "text": ["w0000 w0003", "w0000 w0007"],  # w0000 shared
        "k": np.array([5, 5], dtype=np.int32),
    })
    want = oracle.topk_pdf(queries)
    got = bm25_topk(
        spark, built_index["postings"], queries, res.N, res.avgdl, cfg,
        mode="distributed",
    ).toPandas()
    assert len(got) == len(want)
    for qid in (0, 1):
        g = got[got.query_id == qid].sort_values("rank")
        w = want[want.query_id == qid].sort_values("rank")
        assert list(g.doc_id) == list(w.doc_id), qid
        assert np.allclose(g.score, w.score, atol=1e-9), qid


def test_posting_rows_no_blockmax_interleaved_partials():
    """Round 8: _posting_rows no longer computes/stores block_max (no
    query path read it — the kernel recomputes exact bounds). The
    schema must carry no such column, and the encode of normal terms
    interleaved with a hot/partial term must stay intact (the shape
    the old reduceat regression guarded)."""
    from capsbm25.codec import decode_varints as dv
    from capsbm25.postings import POSTINGS_COLS, _posting_rows

    flushes = [
        ("aaa", np.arange(6, dtype=np.int64), np.ones(6, dtype=np.int64),
         np.full(6, 10, dtype=np.int64), 0),
        ("mmm", np.arange(100, 104, dtype=np.int64),
         np.full(4, 500, dtype=np.int64), np.full(4, 10, dtype=np.int64), 1),
        ("zzz", np.arange(200, 203, dtype=np.int64),
         np.ones(3, dtype=np.int64), np.full(3, 10, dtype=np.int64), 2),
    ]
    out = _posting_rows(flushes, hot_terms={"mmm"})
    assert "block_max" not in POSTINGS_COLS
    assert "block_max" not in out.columns
    rows = {r["term"]: r for _, r in out.iterrows()}
    assert rows["mmm"]["partial"] and not rows["aaa"]["partial"]
    for term, docs, tfs, dls, _pid in flushes:
        r = rows[term]
        assert r["df"] == docs.size and r["cf"] == int(tfs.sum())
        np.testing.assert_array_equal(
            np.cumsum(dv(r["doc_ids"]).astype(np.int64)), docs)
        np.testing.assert_array_equal(
            dv(r["tfs"]).astype(np.int64), tfs)
        np.testing.assert_array_equal(
            dv(r["dls"]).astype(np.int64), dls)


def test_compaction_generations_and_id_retention(spark, tmp_path):
    """Repeated compactions must use fresh generation ids (never
    overwrite a path being read) and keep ALL historical batch ids in
    compacted_from so streaming replays stay idempotent."""
    import shutil

    from capsbm25 import fixtures as fx
    from capsbm25.streaming import (
        compact_segments,
        load_segment_postings,
        load_stream_stats,
        process_batch,
    )

    out = str(tmp_path / "cstream")
    os.makedirs(out)
    pdf = fx.gen_transcripts_pdf(60, 42)
    convs = sorted(pdf["conv_id"].unique())
    cfg = BuildConfig(num_part_ids=8, shuffle_partitions=2)
    chunks = [convs[:20], convs[20:40], convs[40:]]

    def ingest(i):
        batch = spark.createDataFrame(pdf[pdf["conv_id"].isin(chunks[i])])
        process_batch(spark, batch, i, out, cfg)

    ingest(0); ingest(1)
    r1 = compact_segments(spark, out, cfg)
    assert r1["compacted"]
    ingest(2)
    r2 = compact_segments(spark, out, cfg)
    assert r2["compacted"]
    stats = load_stream_stats(out)
    assert stats["segments"][0]["id"] == "compacted-2"
    assert set(map(str, stats["compacted_from"])) >= {"0", "1", "2",
                                                      "compacted-1"}
    # replaying every original batch must be a no-op
    before_n = stats["N"]
    ingest(0); ingest(1); ingest(2)
    after = load_stream_stats(out)
    assert after["N"] == before_n and len(after["segments"]) == 1
    # the compacted index is complete
    p = load_segment_postings(spark, out)
    assert p.groupBy("term").count().where("count > 1").count() == 0
    assert after["N"] == len(pdf)


def test_index_stats(built_index, spark):
    from capsbm25.build import index_stats

    oracle = built_index["oracle"]
    s = index_stats(spark, built_index["res"].out_dir)
    assert s["N"] == oracle.N
    assert s["terms"] == len(oracle.postings)
    assert s["postings"] == sum(len(p) for p in oracle.postings.values())
    assert s["max_df"] == max(len(p) for p in oracle.postings.values())
    assert s["top_terms"][0]["df"] == s["max_df"]
    assert 0 < s["bytes_per_posting"] < 24  # beats raw (8+8+8)B encoding
    assert s["config"]["block_size"] == built_index["cfg"].block_size
