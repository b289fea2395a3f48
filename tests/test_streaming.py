"""Incremental (Structured Streaming) build == batch build == oracle,
rank-identically, on the full reference query set."""

import os

import numpy as np
import pandas as pd
import pytest

from capsbm25 import fixtures as fx
from capsbm25.config import BuildConfig
from capsbm25.query import bm25_topk
from capsbm25.streaming import (
    load_segment_postings,
    load_stream_stats,
    start_incremental_build,
    stream_corpus_stats,
)
from oracle import OracleIndex


@pytest.fixture(scope="module")
def streamed(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    src = str(base / "incoming")
    out = str(base / "idx")
    os.makedirs(src)
    # three arrivals of conversations (files land over time)
    pdf = fx.gen_transcripts_pdf(120, 42)
    convs = sorted(pdf["conv_id"].unique())
    chunks = [convs[:40], convs[40:80], convs[80:]]
    for i, chunk in enumerate(chunks):
        pdf[pdf["conv_id"].isin(chunk)].to_parquet(f"{src}/part{i}.parquet")

    cfg = BuildConfig(num_part_ids=16, shuffle_partitions=4)
    q = start_incremental_build(spark, src, out, cfg, max_files_per_trigger=1)
    q.awaitTermination(300)
    return {"pdf": pdf, "out": out, "cfg": cfg}


def test_segments_created(streamed, spark):
    stats = load_stream_stats(streamed["out"])
    assert len(stats["segments"]) == 3
    assert stats["N"] == len(streamed["pdf"])


def test_incremental_rank_identical_to_oracle(streamed, spark):
    # arrival order = file order = conv order here, so global doc order
    # matches the oracle's stable (conv_id, turn_idx) ordering
    oracle = OracleIndex(streamed["pdf"])
    N, avgdl = stream_corpus_stats(streamed["out"])
    assert N == oracle.N and abs(avgdl - oracle.avgdl) < 1e-9

    postings = load_segment_postings(spark, streamed["out"])
    queries = fx.queries_pdf(42)
    want = oracle.topk_pdf(queries)
    for mode, prune in [("kernel", True), ("kernel", False), ("distributed", False)]:
        got = bm25_topk(
            spark, postings, queries, N, avgdl, streamed["cfg"],
            mode=mode, prune=prune,
        ).toPandas()
        assert len(got) == len(want), mode
        for qid in queries["query_id"]:
            g = got[got.query_id == qid].sort_values("rank")
            w = want[want.query_id == qid].sort_values("rank")
            assert list(g.doc_id) == list(w.doc_id), (mode, qid)
            assert np.allclose(g.score, w.score, atol=1e-9), (mode, qid)


def _jobs_of(spark, group: str, fn):
    """(fn(), number of Spark jobs it ran), counted by job group from
    the status tracker."""
    import time

    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    # the status store is fed by the asynchronous listener bus
    deadline = time.time() + 10
    while True:
        ids = tracker.getJobIdsForGroup(group)
        done = all(tracker.getJobInfo(j) is not None
                   and tracker.getJobInfo(j).status == "SUCCEEDED"
                   for j in ids)
        if (ids and done) or time.time() > deadline:
            return out, len(ids)
        time.sleep(0.1)


def test_routing_stats_one_job_match_aggregate(streamed, spark):
    """_term_stats_map / _term_df_map over a segmented snapshot (a
    term spans one posting row per segment) equal the groupBy-sum
    reference over the same rows, and each runs ONE Spark job."""
    from pyspark.sql import functions as F

    from capsbm25.query import _in_list, _term_df_map, _term_stats_map

    postings = load_segment_postings(spark, streamed["out"])
    terms = [fx.HOT_TERM, "w0001", "w0002", "w0003", fx.OOV_TERM]
    filtered = postings.where(_in_list("term", terms))
    size = (F.octet_length("doc_ids") + F.octet_length("tfs")
            + F.octet_length("dls"))
    if "pos" in filtered.columns:
        size = size + F.coalesce(F.octet_length("pos"), F.lit(0))
    ref = filtered.groupBy("term").agg(
        F.sum("df").alias("d"), F.sum(size).alias("b"),
        F.count("*").alias("rows")).toPandas().set_index("term")
    assert ref["rows"].max() >= 2, ref
    (df_map, bytes_map), n_stats = _jobs_of(
        spark, "routing-stats", lambda: _term_stats_map(filtered))
    df_only, n_df = _jobs_of(
        spark, "routing-df", lambda: _term_df_map(filtered))
    want_df = {t: int(v) for t, v in ref["d"].items()}
    assert df_map == df_only == want_df
    assert bytes_map == {t: int(v) for t, v in ref["b"].items()}
    assert (n_stats, n_df) == (1, 1)


def test_streaming_windowed_term_counts(streamed, spark, tmp_path):
    """Watermark + event-time window agg over the stream equals the
    batch equivalent (complete mode, availableNow)."""
    from pyspark.sql import functions as F

    from capsbm25.streaming import streaming_term_counts
    from capsbm25.tokenize import tokens_expr

    src = os.path.dirname(streamed["out"]) + "/incoming"
    sdf = streaming_term_counts(spark, src, window="1 hour", watermark="2 hours")
    q = (
        sdf.writeStream.format("memory")
        .queryName("term_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = (
        spark.table("term_counts")
        .toPandas()
        .sort_values(["window_start", "term"], ignore_index=True)
    )
    batch = (
        spark.read.parquet(src)
        .select(F.col("ts"), F.explode(tokens_expr(F.col("text"))).alias("term"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "term")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "term", "n")
        .toPandas()
        .sort_values(["window_start", "term"], ignore_index=True)
    )
    pd.testing.assert_frame_equal(got, batch)


def test_restart_is_idempotent(streamed, spark):
    """Re-running the stream over the same input must not duplicate
    segments (foreachBatch replay safety)."""
    before = load_stream_stats(streamed["out"])
    q = start_incremental_build(
        spark, os.path.dirname(streamed["out"]) + "/incoming", streamed["out"],
        streamed["cfg"], max_files_per_trigger=1,
    )
    q.awaitTermination(300)
    after = load_stream_stats(streamed["out"])
    assert after["N"] == before["N"]
    assert [s["id"] for s in after["segments"]] == [
        s["id"] for s in before["segments"]
    ]


def test_compaction_preserves_rank_identity(streamed, spark):
    """compact_segments: 3 segments -> 1, every term single-row with
    GLOBAL block_max; results stay rank-identical to the oracle, and
    restart replay after compaction must not re-ingest old batches."""
    import shutil

    from pyspark.sql import functions as F

    from capsbm25.streaming import compact_segments

    # compact a COPY so the other module-scoped tests keep their state
    src_dir = streamed["out"]
    out = src_dir + "_compacted"
    shutil.copytree(src_dir, out, dirs_exist_ok=True)

    r = compact_segments(spark, out, streamed["cfg"])
    assert r["compacted"] and r["segments_before"] == 3
    stats = load_stream_stats(out)
    assert len(stats["segments"]) == 1
    assert stats["N"] == len(streamed["pdf"])

    postings = load_segment_postings(spark, out)
    assert postings.groupBy("term").count().where("count > 1").count() == 0
    assert postings.where(F.col("partial")).count() == 0

    oracle = OracleIndex(streamed["pdf"])
    N, avgdl = stream_corpus_stats(out)
    queries = fx.queries_pdf(42)
    want = oracle.topk_pdf(queries)
    got = bm25_topk(spark, postings, queries, N, avgdl, streamed["cfg"],
                    mode="kernel", prune=True).toPandas()
    assert len(got) == len(want)
    for qid in queries["query_id"]:
        g = got[got.query_id == qid].sort_values("rank")
        w = want[want.query_id == qid].sort_values("rank")
        assert list(g.doc_id) == list(w.doc_id), qid
        assert np.allclose(g.score, w.score, atol=1e-9), qid

    # replaying the stream over the same input must be a no-op:
    # compacted_from keeps the ingested batch ids visible to the
    # idempotence check
    from capsbm25.streaming import start_incremental_build

    q = start_incremental_build(
        spark, os.path.dirname(src_dir) + "/incoming", out,
        streamed["cfg"], max_files_per_trigger=1,
    )
    q.awaitTermination(300)
    after = load_stream_stats(out)
    assert after["N"] == stats["N"]
    assert len(after["segments"]) == 1


def test_batch_commit_merges_with_midbatch_compaction(streamed, spark,
                                                      monkeypatch):
    """A compaction that swaps stats.json while a batch is mid-build
    must be MERGED with at commit, not clobbered from the batch's
    startup snapshot (which lost compact_gen/compacted_from and made
    the next compaction restart at generation 1)."""
    import shutil

    import capsbm25.streaming as sm

    out = streamed["out"] + "_race1"
    shutil.copytree(streamed["out"], out, dirs_exist_ok=True)

    new_pdf = fx.gen_transcripts_pdf(10, 77)
    bdf = spark.createDataFrame(new_pdf)

    real_assign = sm.assign_doc_ids
    fired = {}

    def hook(df, cfg, **kw):
        # runs after process_batch snapshots stats, before its commit
        if not fired:
            fired["r"] = sm.compact_segments(spark, out, streamed["cfg"])
        return real_assign(df, cfg, **kw)

    monkeypatch.setattr(sm, "assign_doc_ids", hook)
    sm.process_batch(spark, bdf, 99, out, streamed["cfg"])

    assert fired["r"]["compacted"], fired["r"]
    stats = load_stream_stats(out)
    assert stats.get("compact_gen") == 1, "batch clobbered the compaction"
    assert [s["id"] for s in stats["segments"]] == ["compacted-1", 99]
    assert set(stats.get("compacted_from", [])) == {0, 1, 2}
    assert stats["N"] == len(streamed["pdf"]) + len(new_pdf)


def test_compaction_aborts_when_batch_lands_during_merge(streamed, spark,
                                                         monkeypatch):
    """The inverse race: a batch committing while compaction merges must
    abort the compaction (check + swap are atomic under the write lock),
    never be dropped from the segment list."""
    import shutil

    import capsbm25.postings as pmod
    import capsbm25.streaming as sm

    out = streamed["out"] + "_race2"
    shutil.copytree(streamed["out"], out, dirs_exist_ok=True)

    new_pdf = fx.gen_transcripts_pdf(8, 88)
    bdf = spark.createDataFrame(new_pdf)

    real_merge = pmod.merge_hot_partials
    fired = {}

    def hook(*a, **kw):
        if not fired:
            fired["x"] = True
            sm.process_batch(spark, bdf, 98, out, streamed["cfg"])
        return real_merge(*a, **kw)

    monkeypatch.setattr(pmod, "merge_hot_partials", hook)
    r = sm.compact_segments(spark, out, streamed["cfg"])
    assert not r["compacted"] and "aborted" in r, r

    stats = load_stream_stats(out)
    ids = [s["id"] for s in stats["segments"]]
    assert 98 in ids, "the interleaved batch's segment was dropped"
    assert ids[:3] == [0, 1, 2]
    assert stats["N"] == len(streamed["pdf"]) + len(new_pdf)
    # the aborted compaction's segment dir must not linger
    segdirs = os.listdir(os.path.join(out, "segments"))
    assert not any("compacted" in d for d in segdirs), segdirs


def test_concurrent_compactions_do_not_destroy_winner(streamed, spark,
                                                      monkeypatch):
    """Two racing compactions: the loser must abort WITHOUT touching the
    segment the winner published (round-3 review finding: a shared
    canonical path let the loser rmtree the winner's live segment)."""
    import shutil

    import capsbm25.postings as pmod
    import capsbm25.streaming as sm

    out = streamed["out"] + "_race3"
    shutil.copytree(streamed["out"], out, dirs_exist_ok=True)

    real_merge = pmod.merge_hot_partials
    fired = {}

    def hook(*a, **kw):
        if not fired:
            fired["inner"] = True
            # the INNER compaction runs to completion while the outer
            # one is mid-merge
            r = sm.compact_segments(spark, out, streamed["cfg"])
            fired["r"] = r
        return real_merge(*a, **kw)

    monkeypatch.setattr(pmod, "merge_hot_partials", hook)
    outer = sm.compact_segments(spark, out, streamed["cfg"])

    assert fired["r"]["compacted"], fired["r"]
    assert not outer["compacted"] and "aborted" in outer, outer
    stats = load_stream_stats(out)
    assert [s["id"] for s in stats["segments"]] == ["compacted-1"]
    assert stats["compact_gen"] == 1
    # the winner's segment directory must still exist and be readable
    seg = os.path.join(out, "segments", "seg=compacted-1", "postings")
    assert os.path.isdir(seg), "loser deleted the winner's segment"
    assert spark.read.parquet(seg).count() > 0
    # no orphaned temp dirs
    leftovers = [d for d in os.listdir(os.path.join(out, "segments"))
                 if d.startswith(".compacting-")]
    assert not leftovers, leftovers
