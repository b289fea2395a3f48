"""Delete tombstones: Lucene liveDocs semantics pre-compaction
(doc_exclude masks deleted docs, scoring stats stay stale-global) and
physical removal at compaction (index == fresh batch build over the
surviving corpus, score-identically by key)."""

import os
import shutil

import numpy as np
import pandas as pd
import pytest

from capsbm25 import fixtures as fx
from capsbm25.config import BuildConfig
from capsbm25.query import bm25_topk
from capsbm25.streaming import (
    compact_segments,
    delete_docs,
    load_segment_postings,
    load_stream_stats,
    load_tombstones,
    segment_docs,
    start_incremental_build,
    stream_corpus_stats,
)
from oracle import OracleIndex


@pytest.fixture(scope="module")
def streamed_del(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream_del")
    src = str(base / "incoming")
    out = str(base / "idx")
    os.makedirs(src)
    pdf = fx.gen_transcripts_pdf(90, 7)
    convs = sorted(pdf["conv_id"].unique())
    for i, chunk in enumerate([convs[:30], convs[30:60], convs[60:]]):
        pdf[pdf["conv_id"].isin(chunk)].to_parquet(f"{src}/part{i}.parquet")
    cfg = BuildConfig(num_part_ids=16, shuffle_partitions=4)
    q = start_incremental_build(spark, src, out, cfg, max_files_per_trigger=1)
    q.awaitTermination(300)
    # delete every 5th conversation
    victims = convs[::5]
    return {"pdf": pdf, "src": src, "out": out, "cfg": cfg,
            "victims": victims}


def _fresh(streamed_del):
    out = streamed_del["out"] + "_c"
    if os.path.exists(out):
        shutil.rmtree(out)
    shutil.copytree(streamed_del["out"], out)
    return out


def _by_key(spark, out, got: pd.DataFrame) -> pd.DataFrame:
    keys = (
        segment_docs(spark, out).select("doc_id", "conv_id", "turn_idx")
        .toPandas()
    )
    return got.merge(keys, on="doc_id")


def test_delete_then_query_excluded(streamed_del, spark):
    """Pre-compaction: doc_exclude masks deleted docs; scores stay
    stale-global == oracle-with-filter over the FULL corpus."""
    out = _fresh(streamed_del)
    r = delete_docs(spark, out, streamed_del["victims"])
    assert r["deleted"] > 0
    stats = load_stream_stats(out)
    assert stats["deleted_n"] == r["deleted"]
    assert stats["N"] == len(streamed_del["pdf"])  # stale until compact

    oracle = OracleIndex(streamed_del["pdf"])
    live = {
        i for i, c in enumerate(oracle.doc_meta["conv_id"])
        if c not in set(streamed_del["victims"])
    }
    queries = fx.queries_pdf(7)
    want = oracle.topk_pdf(queries, doc_filter=live)
    N, avgdl = stream_corpus_stats(out)
    postings = load_segment_postings(spark, out)
    tomb = load_tombstones(spark, out)
    assert tomb is not None
    for mode in ("kernel", "distributed"):
        got = bm25_topk(
            spark, postings, queries, N, avgdl, streamed_del["cfg"],
            mode=mode, doc_exclude=tomb,
        ).toPandas()
        assert len(got) == len(want), mode
        for qid in queries["query_id"]:
            g = got[got.query_id == qid].sort_values("rank")
            w = want[want.query_id == qid].sort_values("rank")
            assert list(g.doc_id) == list(w.doc_id), (mode, qid)
            assert np.allclose(g.score, w.score, atol=1e-9), (mode, qid)


def test_delete_is_deduped(streamed_del, spark):
    out = _fresh(streamed_del)
    r1 = delete_docs(spark, out, streamed_del["victims"])
    r2 = delete_docs(spark, out, streamed_del["victims"])
    assert r1["deleted"] > 0 and r2["deleted"] == 0
    assert load_stream_stats(out)["deleted_n"] == r1["deleted"]


def test_compaction_applies_deletes(streamed_del, spark):
    """Post-compaction: tombstoned docs are physically gone, stats are
    exact live values, and scores match a FRESH oracle over the
    surviving corpus (compared by (conv_id, turn_idx) key — dense ids
    differ: the compacted index keeps its sparse ids)."""
    out = _fresh(streamed_del)
    r = delete_docs(spark, out, streamed_del["victims"])
    c = compact_segments(spark, out, streamed_del["cfg"])
    assert c["compacted"] and c["deleted_applied"] == r["deleted"]

    surviving = streamed_del["pdf"][
        ~streamed_del["pdf"]["conv_id"].isin(streamed_del["victims"])
    ].reset_index(drop=True)
    oracle = OracleIndex(surviving)
    stats = load_stream_stats(out)
    assert stats["N"] == oracle.N == len(surviving)
    assert stats.get("deleted_n", 0) == 0
    # applied tombstone files stay on disk for async GC but are no
    # longer PENDING: load_tombstones filters them via the applied list
    assert load_tombstones(spark, out) is None
    assert len(stats.get("tombstones_applied", [])) > 0
    N, avgdl = stream_corpus_stats(out)
    assert N == oracle.N and abs(avgdl - oracle.avgdl) < 1e-9

    # doc metadata survived, minus deleted docs
    md = segment_docs(spark, out).toPandas()
    assert len(md) == oracle.N
    assert not set(md["conv_id"]) & set(streamed_del["victims"])

    # posting invariants hold on the delete-compacted index (df/cf
    # consistency, strict doc-id order, tf/dl sanity)
    from capsbm25.validate import validate_postings

    v = validate_postings(
        load_segment_postings(spark, out), streamed_del["cfg"]
    )
    assert v["violations"] == 0, v
    assert v["rows"] > 0

    # k large enough to avoid tie-order truncation across id layouts
    queries = fx.queries_pdf(7).assign(k=np.int32(10_000))
    want = oracle.topk_pdf(queries)
    got = bm25_topk(
        spark, load_segment_postings(spark, out), queries, N, avgdl,
        streamed_del["cfg"],
    ).toPandas()
    assert len(got) == len(want)
    wk = want.merge(
        oracle.doc_meta.reset_index(names="oid"),
        left_on="doc_id", right_on="oid",
    )
    gk = _by_key(spark, out, got)
    m = gk.merge(wk, on=["query_id", "conv_id", "turn_idx"],
                 suffixes=("_g", "_w"))
    assert len(m) == len(want)
    assert np.allclose(m["score_g"], m["score_w"], atol=1e-9)


def test_post_delete_ingest_no_id_collision(streamed_del, spark):
    """next_doc_id stays monotone: a batch ingested after a delete-
    compaction must not reuse surviving docs' ids."""
    import capsbm25.streaming as sm

    out = _fresh(streamed_del)
    delete_docs(spark, out, streamed_del["victims"])
    compact_segments(spark, out, streamed_del["cfg"])
    before = load_stream_stats(out)
    assert before["next_doc_id"] == len(streamed_del["pdf"])
    assert before["N"] < before["next_doc_id"]

    new_pdf = fx.gen_transcripts_pdf(6, 99)
    sm.process_batch(spark, spark.createDataFrame(new_pdf), 50, out,
                     streamed_del["cfg"])
    md = segment_docs(spark, out).toPandas()
    assert md["doc_id"].is_unique
    assert md["doc_id"].max() == before["next_doc_id"] + len(new_pdf) - 1
    stats = load_stream_stats(out)
    assert stats["N"] == before["N"] + len(new_pdf)
    assert stats["next_doc_id"] == before["next_doc_id"] + len(new_pdf)


def test_compaction_aborts_on_mid_merge_delete(streamed_del, spark,
                                               monkeypatch):
    """A delete landing while compaction merges must abort the
    compaction — its output would silently resurrect the docs."""
    import capsbm25.postings as pmod
    import capsbm25.streaming as sm

    out = _fresh(streamed_del)
    real_merge = pmod.merge_hot_partials
    fired = {}

    def hook(*a, **kw):
        if not fired:
            fired["r"] = delete_docs(spark, out, streamed_del["victims"][:1])
        return real_merge(*a, **kw)

    monkeypatch.setattr(pmod, "merge_hot_partials", hook)
    r = sm.compact_segments(spark, out, streamed_del["cfg"])
    assert not r["compacted"] and "tombstones" in r.get("aborted", ""), r
    assert fired["r"]["deleted"] > 0
    # tombstones still pending; a rerun applies them
    r2 = sm.compact_segments(spark, out, streamed_del["cfg"])
    assert r2["compacted"] and r2["deleted_applied"] == fired["r"]["deleted"]


@pytest.mark.parametrize("deletes,max_jobs", [(False, 5), (True, 10)],
                         ids=["clean", "tombstones"])
def test_full_compaction_job_count(streamed_del, spark, deletes, max_jobs):
    """A full compaction runs no more Spark jobs than the separate
    full-merge path it replaced (5 clean, 10 with tombstones pending on
    this fixture): the drain takes the tombstone probe as its drop set
    and needs no job for its empty remainder."""
    import uuid

    from test_streaming import _jobs_of

    out = _fresh(streamed_del)
    if deletes:
        assert delete_docs(spark, out, streamed_del["victims"])["deleted"]
    r, jobs = _jobs_of(
        spark, f"compact-{uuid.uuid4().hex}",
        lambda: compact_segments(spark, out, streamed_del["cfg"]))
    assert r["compacted"], r
    assert 0 < jobs <= max_jobs, jobs


def test_positional_delete_compact_phrase(spark, tmp_path):
    """Deletes drop positional payload coherently: after delete +
    compact on a positional index, phrase results == oracle over the
    surviving corpus (exercises the pos-mask path in
    merge_hot_partials)."""
    from capsbm25.query import phrase_topk

    pdf = fx.gen_transcripts_pdf(40, 11)
    src = str(tmp_path / "in")
    out = str(tmp_path / "idx")
    os.makedirs(src)
    convs = sorted(pdf["conv_id"].unique())
    for i, chunk in enumerate([convs[:20], convs[20:]]):
        pdf[pdf["conv_id"].isin(chunk)].to_parquet(f"{src}/p{i}.parquet")
    cfg = BuildConfig(num_part_ids=16, shuffle_partitions=4,
                      index_positions=True)
    q = start_incremental_build(spark, src, out, cfg,
                                max_files_per_trigger=1)
    q.awaitTermination(300)

    victims = convs[::4]
    delete_docs(spark, out, victims)
    c = compact_segments(spark, out, cfg)
    assert c["compacted"] and c["deleted_applied"] > 0

    surviving = pdf[~pdf["conv_id"].isin(victims)].reset_index(drop=True)
    oracle = OracleIndex(surviving)
    N, avgdl = stream_corpus_stats(out)
    assert N == oracle.N
    # pick a phrase that certainly occurs: first two tokens of a
    # surviving doc
    toks = next(d for d in oracle.docs if len(d) >= 2)
    phrase = " ".join(toks[:2])
    queries = pd.DataFrame(
        {"query_id": np.array([0], dtype=np.int32), "text": [phrase],
         "k": np.array([10_000], dtype=np.int32)}
    )
    want = oracle.phrase_topk_pdf(queries)
    got = phrase_topk(
        spark, load_segment_postings(spark, out), queries, N, avgdl, cfg
    ).toPandas()
    assert len(got) == len(want) > 0
    gk = _by_key(spark, out, got)
    wk = want.merge(oracle.doc_meta.reset_index(names="oid"),
                    left_on="doc_id", right_on="oid")
    m = gk.merge(wk, on=["query_id", "conv_id", "turn_idx"],
                 suffixes=("_g", "_w"))
    assert len(m) == len(want)
    assert np.allclose(m["score_g"], m["score_w"], atol=1e-9)


def test_positional_pre_compaction_phrase_exclusion(spark, tmp_path):
    """Before compaction, phrase queries mask deletes via
    doc_exclude=load_tombstones (liveDocs semantics: stale-global BM25
    stats, deleted docs gone from results)."""
    from capsbm25.query import phrase_topk

    pdf = fx.gen_transcripts_pdf(30, 13)
    src = str(tmp_path / "in")
    out = str(tmp_path / "idx")
    os.makedirs(src)
    convs = sorted(pdf["conv_id"].unique())
    for i, chunk in enumerate([convs[:15], convs[15:]]):
        pdf[pdf["conv_id"].isin(chunk)].to_parquet(f"{src}/p{i}.parquet")
    cfg = BuildConfig(num_part_ids=16, shuffle_partitions=4,
                      index_positions=True)
    q = start_incremental_build(spark, src, out, cfg,
                                max_files_per_trigger=1)
    q.awaitTermination(300)

    victims = convs[::3]
    delete_docs(spark, out, victims)

    oracle = OracleIndex(pdf)   # FULL corpus: stats stay stale
    live = {i for i, c in enumerate(oracle.doc_meta["conv_id"])
            if c not in set(victims)}
    # phrase from a SURVIVING doc so the filtered result is non-empty
    toks = next(oracle.docs[d] for d in sorted(live)
                if len(oracle.docs[d]) >= 2)
    queries = pd.DataFrame(
        {"query_id": np.array([0], dtype=np.int32),
         "text": [" ".join(toks[:2])],
         "k": np.array([50], dtype=np.int32)}
    )
    want = oracle.phrase_topk_pdf(queries, doc_filter=live)
    assert len(want) > 0
    N, avgdl = stream_corpus_stats(out)
    tomb = load_tombstones(spark, out)
    for mode in ("kernel", "distributed"):
        got = phrase_topk(
            spark, load_segment_postings(spark, out), queries, N, avgdl,
            cfg, mode=mode, doc_exclude=tomb,
        ).toPandas()
        assert len(got) == len(want), mode
        g = got.sort_values("rank")
        w = want.sort_values("rank")
        assert list(g.doc_id) == list(w.doc_id), mode
        assert np.allclose(g.score, w.score, atol=1e-9), mode


def test_delete_resolution_races_compaction(streamed_del, spark,
                                            monkeypatch):
    """Review finding (round 3): ids resolved BEFORE a compaction that
    applies the same docs must not be committed AFTER it — that would
    re-tombstone physically-removed docs and the next compaction would
    double-subtract N/total_dl. delete_docs validates its snapshot
    under the lock and re-resolves."""
    import capsbm25.streaming as sm

    out = _fresh(streamed_del)
    delete_docs(spark, out, streamed_del["victims"])  # pending tombstones
    real = sm.segment_docs
    state = {"fired": False}

    def hook(spark_, out_):
        df = real(spark_, out_)
        if not state["fired"]:
            state["fired"] = True
            # compaction applies the pending tombstones AFTER the
            # retried delete resolved its ids, BEFORE it commits
            r = sm.compact_segments(spark_, out_, streamed_del["cfg"])
            assert r["compacted"], r
        return df

    monkeypatch.setattr(sm, "segment_docs", hook)
    r = sm.delete_docs(spark, out, streamed_del["victims"])
    assert r["deleted"] == 0, "re-tombstoned physically-removed docs"
    stats = load_stream_stats(out)
    assert stats.get("deleted_n", 0) == 0
    n_live = stats["N"]
    # a later compaction must not shrink N again
    sm.compact_segments(spark, out, streamed_del["cfg"])
    assert load_stream_stats(out)["N"] == n_live


def test_batch_crash_before_commit_replays_cleanly(streamed_del, spark,
                                                   monkeypatch):
    """Crash consistency: a batch that dies AFTER writing its segment
    dirs but BEFORE the stats commit leaves no trace in stats; the
    streaming replay re-processes it exactly once (segment dirs are
    overwritten, not duplicated)."""
    import capsbm25.streaming as sm
    from capsbm25.validate import validate_postings

    out = _fresh(streamed_del)
    new_pdf = fx.gen_transcripts_pdf(5, 123)
    bdf = spark.createDataFrame(new_pdf)

    real_lock = sm._stats_lock

    def boom(out_dir):
        raise RuntimeError("crash before commit")

    monkeypatch.setattr(sm, "_stats_lock", boom)
    with pytest.raises(RuntimeError, match="crash before commit"):
        sm.process_batch(spark, bdf, 77, out, streamed_del["cfg"])
    monkeypatch.setattr(sm, "_stats_lock", real_lock)

    before = load_stream_stats(out)
    assert all(s["id"] != 77 for s in before["segments"])
    assert before["N"] == len(streamed_del["pdf"])

    sm.process_batch(spark, bdf, 77, out, streamed_del["cfg"])
    stats = load_stream_stats(out)
    assert [s["id"] for s in stats["segments"]].count(77) == 1
    assert stats["N"] == len(streamed_del["pdf"]) + len(new_pdf)
    # multi-segment index: a term has one final row per segment, so
    # relax the uniqueness invariant (strict form re-applies after
    # compaction — see test_compaction_applies_deletes)
    v = validate_postings(
        load_segment_postings(spark, out), streamed_del["cfg"],
        unique_terms=False,
    )
    assert v["violations"] == 0, v


def test_reader_isolation_across_compaction(streamed_del, spark):
    """A query planned against pre-compaction segment paths still
    executes correctly after the compaction swap: old segment dirs and
    applied tombstone files are left on disk for async GC precisely so
    in-flight readers never hit FileNotFound."""
    out = _fresh(streamed_del)
    delete_docs(spark, out, streamed_del["victims"])
    # plan (lazily) against the PRE-compaction state
    postings_old = load_segment_postings(spark, out)
    tomb_old = load_tombstones(spark, out)
    N_old, avgdl_old = stream_corpus_stats(out)

    c = compact_segments(spark, out, streamed_del["cfg"])
    assert c["compacted"]

    # the old plan executes after the swap, matching the stale-stats
    # oracle (full corpus stats, deleted docs masked)
    oracle = OracleIndex(streamed_del["pdf"])
    live = {i for i, cv in enumerate(oracle.doc_meta["conv_id"])
            if cv not in set(streamed_del["victims"])}
    queries = fx.queries_pdf(7)
    want = oracle.topk_pdf(queries, doc_filter=live)
    got = bm25_topk(
        spark, postings_old, queries, N_old, avgdl_old,
        streamed_del["cfg"], mode="kernel", doc_exclude=tomb_old,
    ).toPandas()
    assert len(got) == len(want)
    for qid in queries["query_id"]:
        g = got[got.query_id == qid].sort_values("rank")
        w = want[want.query_id == qid].sort_values("rank")
        assert list(g.doc_id) == list(w.doc_id), qid
        assert np.allclose(g.score, w.score, atol=1e-9), qid
