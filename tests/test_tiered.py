"""Tiered segment compaction (the Lucene TieredMergePolicy / the
reference's bounded k-way merge tree analog,
/root/reference/src/Suffix_Array.cpp:371-428): bytes rewritten per call
is O(merged tiers) not O(index), rank-identity survives mixed
ingest/delete/tiered-compact cycles, in-group tombstones are applied and
the remainder consolidated, and the mass-delete rebuild path of full
compaction stays driver-materialization-free."""

import os

import numpy as np
import pandas as pd
import pytest

import capsbm25.streaming as sm
from capsbm25 import fixtures as fx
from capsbm25.config import BuildConfig
from capsbm25.query import bm25_topk
from oracle import OracleIndex


def _chunks(pdf: pd.DataFrame, n: int) -> list[pd.DataFrame]:
    """Round-robin convs into n similar-row-count chunks (keeps every
    chunk inside one size tier for merge_factor=3)."""
    convs = sorted(pdf["conv_id"].unique())
    return [
        pdf[pdf["conv_id"].isin(convs[i::n])].reset_index(drop=True)
        for i in range(n)
    ]


def _ingest(spark, out, cfg, chunk: pd.DataFrame, batch_id: int):
    # auto_compact off: these tests exercise MANUAL tiered compaction
    # and assert exact segment layouts between calls
    sm.process_batch(spark, spark.createDataFrame(chunk), batch_id, out, cfg,
                     auto_compact=False)


def _assert_rank_identical_by_key(spark, out, cfg, surviving: pd.DataFrame,
                                  doc_exclude=None, oracle_filter=None):
    """Engine top-k == oracle top-k over `surviving`, compared by
    (conv_id, turn_idx) key (dense oracle ids vs the engine's sparse
    post-delete ids)."""
    oracle = OracleIndex(surviving)
    N, avgdl = sm.stream_corpus_stats(out)
    assert N == oracle.N and abs(avgdl - oracle.avgdl) < 1e-9
    queries = fx.queries_pdf(21).assign(k=np.int32(10_000))
    want = oracle.topk_pdf(queries, doc_filter=oracle_filter)
    got = bm25_topk(
        spark, sm.load_segment_postings(spark, out), queries, N, avgdl,
        cfg, doc_exclude=doc_exclude,
    ).toPandas()
    assert len(got) == len(want) > 0
    keys = (
        sm.segment_docs(spark, out)
        .select("doc_id", "conv_id", "turn_idx").toPandas()
    )
    gk = got.merge(keys, on="doc_id")
    wk = want.merge(oracle.doc_meta.reset_index(names="oid"),
                    left_on="doc_id", right_on="oid")
    m = gk.merge(wk, on=["query_id", "conv_id", "turn_idx"],
                 suffixes=("_g", "_w"))
    assert len(m) == len(want)
    assert np.allclose(m["score_g"], m["score_w"], atol=1e-9)


def test_tiered_rewrites_o_tier_not_o_index(spark, tmp_path):
    """Continuous ingest with periodic tiered compaction: each call
    rewrites ONLY the tier that filled up — segments already promoted
    to a higher tier are untouched — and per-term fan-in (segment
    count) stays bounded instead of growing with batches."""
    out = str(tmp_path / "idx")
    cfg = BuildConfig(num_part_ids=16, shuffle_partitions=4)
    pdf = fx.gen_transcripts_pdf(180, 21)
    chunks = _chunks(pdf, 9)

    # wave 1: three batches, one tier merge
    for i in range(3):
        _ingest(spark, out, cfg, chunks[i], i)
    sizes1 = {s["id"]: s["rows"] for s in sm.load_stream_stats(out)["segments"]}
    r1 = sm.compact_segments(spark, out, cfg, policy="tiered",
                             merge_factor=3)
    assert r1["compacted"] and len(r1["merges"]) == 1
    assert sorted(r1["merges"][0]["members"]) == [0, 1, 2]
    assert r1["rows_rewritten"] == sum(sizes1.values())
    stats = sm.load_stream_stats(out)
    assert len(stats["segments"]) == 1
    big_id = stats["segments"][0]["id"]
    assert big_id.startswith("tiered-")

    # wave 2: three more small batches — the next tiered call must
    # merge ONLY them; the promoted segment is in a higher tier
    for i in range(3, 6):
        _ingest(spark, out, cfg, chunks[i], i)
    small_rows = sum(
        s["rows"] for s in sm.load_stream_stats(out)["segments"]
        if s["id"] != big_id
    )
    total_rows = sm.load_stream_stats(out)["N"]
    r2 = sm.compact_segments(spark, out, cfg, policy="tiered",
                             merge_factor=3)
    assert r2["compacted"] and len(r2["merges"]) == 1
    assert sorted(r2["merges"][0]["members"]) == [3, 4, 5]
    assert big_id not in r2["merges"][0]["members"]
    assert r2["rows_rewritten"] == small_rows < total_rows  # O(tier)

    # wave 3: fill the SMALL tier again, then the MEDIUM tier (3
    # promoted segments) — the cascade merges mediums, still not O(N)
    # per call beyond the filled tier
    for i in range(6, 9):
        _ingest(spark, out, cfg, chunks[i], i)
    r3 = sm.compact_segments(spark, out, cfg, policy="tiered",
                             merge_factor=3)
    assert r3["compacted"] and sorted(r3["merges"][0]["members"]) == [6, 7, 8]
    r4 = sm.compact_segments(spark, out, cfg, policy="tiered",
                             merge_factor=3)
    assert r4["compacted"] and len(r4["merges"]) == 1
    assert all(str(m).startswith("tiered-")
               for m in r4["merges"][0]["members"])
    stats = sm.load_stream_stats(out)
    assert len(stats["segments"]) == 1  # bounded fan-in
    assert stats["N"] == len(pdf)

    # replay protection: every consumed batch id stays visible
    assert set(range(9)) <= set(stats["compacted_from"])
    # ingesting a consumed batch id again is a no-op
    _ingest(spark, out, cfg, chunks[0], 0)
    assert sm.load_stream_stats(out)["N"] == len(pdf)

    _assert_rank_identical_by_key(spark, out, cfg, pdf)


def test_tiered_below_merge_factor_is_noop(spark, tmp_path):
    out = str(tmp_path / "idx")
    cfg = BuildConfig(num_part_ids=16, shuffle_partitions=4)
    chunks = _chunks(fx.gen_transcripts_pdf(40, 5), 2)
    for i, c in enumerate(chunks):
        _ingest(spark, out, cfg, c, i)
    r = sm.compact_segments(spark, out, cfg, policy="tiered",
                            merge_factor=3)
    assert not r["compacted"] and r["merges"] == []
    assert len(sm.load_stream_stats(out)["segments"]) == 2


def test_tiered_applies_in_group_tombstones_and_consolidates(spark,
                                                             tmp_path):
    """Deletes spanning a merged tier and an untouched segment: the
    in-tier subset is physically applied with the merge (stats shrink
    by exactly those docs), the remainder is consolidated into ONE
    pending file, and queries with doc_exclude=load_tombstones stay
    oracle-identical. A later full compaction applies the rest."""
    out = str(tmp_path / "idx")
    cfg = BuildConfig(num_part_ids=16, shuffle_partitions=4)
    pdf = fx.gen_transcripts_pdf(80, 21)
    chunks = _chunks(pdf, 4)
    for i in range(4):
        _ingest(spark, out, cfg, chunks[i], i)

    # victims in batches 0-2 (the tier that will merge) AND batch 3
    in_tier = sorted(chunks[0]["conv_id"].unique())[:4]
    out_tier = sorted(chunks[3]["conv_id"].unique())[:3]
    r = sm.delete_docs(spark, out, in_tier + out_tier)
    assert r["deleted"] > 0
    n_out_tier = int(chunks[3]["conv_id"].isin(out_tier).sum())
    n_in_tier = r["deleted"] - n_out_tier

    before = sm.load_stream_stats(out)
    rc = sm.compact_segments(spark, out, cfg, policy="tiered",
                             merge_factor=3)
    assert rc["compacted"] and len(rc["merges"]) == 1
    assert sorted(rc["merges"][0]["members"]) == [0, 1, 2]
    assert rc["deleted_applied"] == n_in_tier > 0

    stats = sm.load_stream_stats(out)
    assert stats["N"] == before["N"] - n_in_tier
    assert stats["deleted_n"] == n_out_tier
    pending = sm._tombstone_files(out)
    assert len(pending) == 1  # consolidated
    tomb = sm.load_tombstones(spark, out)
    tomb_ids = set(tomb.toPandas()["doc_id"])
    assert len(tomb_ids) == n_out_tier
    # applied docs are physically gone from doc metadata
    md = sm.segment_docs(spark, out).toPandas()
    assert not set(md["conv_id"]) & set(in_tier)
    assert set(md["conv_id"]) >= set(out_tier)  # pending, still live

    # index state == corpus minus APPLIED docs; pending deletes masked
    surviving_applied = pdf[~pdf["conv_id"].isin(in_tier)].reset_index(
        drop=True)
    oracle_live = {
        i for i, cv in enumerate(
            OracleIndex(surviving_applied).doc_meta["conv_id"])
        if cv not in set(out_tier)
    }
    _assert_rank_identical_by_key(
        spark, out, cfg, surviving_applied,
        doc_exclude=tomb, oracle_filter=oracle_live,
    )

    # the dedup cache tracks the consolidated file: a repeat delete of
    # still-pending convs is a no-op, a new delete still lands
    assert sm.delete_docs(spark, out, out_tier)["deleted"] == 0
    # full compaction applies the remainder
    rf = sm.compact_segments(spark, out, cfg)
    assert rf["compacted"] and rf["deleted_applied"] == n_out_tier
    final = pdf[~pdf["conv_id"].isin(in_tier + out_tier)].reset_index(
        drop=True)
    _assert_rank_identical_by_key(spark, out, cfg, final)
    assert sm.load_stream_stats(out)["N"] == len(final)


def test_mass_delete_compaction_rebuild_path(spark, tmp_path):
    """Forcing max_tombstone_collect=0 routes full compaction through
    the distributed rebuild (tombstones stay a DataFrame anti-join;
    nothing collected): result must be rank-identical to the normal
    merge path's contract — a fresh build over the surviving corpus —
    and keep the single-row-per-term invariant."""
    from capsbm25.validate import validate_postings
    from pyspark.sql import functions as F

    out = str(tmp_path / "idx")
    cfg = BuildConfig(num_part_ids=16, shuffle_partitions=4)
    pdf = fx.gen_transcripts_pdf(60, 21)
    chunks = _chunks(pdf, 3)
    for i in range(3):
        _ingest(spark, out, cfg, chunks[i], i)
    victims = sorted(pdf["conv_id"].unique())[::4]
    r = sm.delete_docs(spark, out, victims)
    assert r["deleted"] > 0

    c = sm.compact_segments(spark, out, cfg, max_tombstone_collect=0)
    assert c["compacted"] and c["path"] == "rebuild"
    assert c["deleted_applied"] == r["deleted"]

    stats = sm.load_stream_stats(out)
    surviving = pdf[~pdf["conv_id"].isin(victims)].reset_index(drop=True)
    assert stats["N"] == len(surviving)
    assert sm.load_tombstones(spark, out) is None

    postings = sm.load_segment_postings(spark, out)
    assert postings.groupBy("term").count().where("count > 1").count() == 0
    assert postings.where(F.col("partial")).count() == 0
    v = validate_postings(postings, cfg)
    assert v["violations"] == 0, v

    _assert_rank_identical_by_key(spark, out, cfg, surviving)


def test_tiered_positional_index(spark, tmp_path):
    """Tier merges preserve positional payloads: phrase queries stay
    oracle-identical after a tiered merge with an in-tier delete."""
    from capsbm25.query import phrase_topk

    out = str(tmp_path / "idx")
    cfg = BuildConfig(num_part_ids=16, shuffle_partitions=4,
                      index_positions=True)
    pdf = fx.gen_transcripts_pdf(60, 31)
    chunks = _chunks(pdf, 3)
    for i in range(3):
        _ingest(spark, out, cfg, chunks[i], i)
    victims = sorted(chunks[1]["conv_id"].unique())[:3]
    sm.delete_docs(spark, out, victims)
    rc = sm.compact_segments(spark, out, cfg, policy="tiered",
                             merge_factor=3)
    assert rc["compacted"] and rc["deleted_applied"] > 0
    assert sm.load_tombstones(spark, out) is None  # all were in-tier

    surviving = pdf[~pdf["conv_id"].isin(victims)].reset_index(drop=True)
    oracle = OracleIndex(surviving)
    N, avgdl = sm.stream_corpus_stats(out)
    assert N == oracle.N
    toks = next(d for d in oracle.docs if len(d) >= 2)
    queries = pd.DataFrame(
        {"query_id": np.array([0], dtype=np.int32),
         "text": [" ".join(toks[:2])],
         "k": np.array([10_000], dtype=np.int32)}
    )
    want = oracle.phrase_topk_pdf(queries)
    got = phrase_topk(
        spark, sm.load_segment_postings(spark, out), queries, N, avgdl, cfg
    ).toPandas()
    assert len(got) == len(want) > 0
    keys = (sm.segment_docs(spark, out)
            .select("doc_id", "conv_id", "turn_idx").toPandas())
    gk = got.merge(keys, on="doc_id")
    wk = want.merge(oracle.doc_meta.reset_index(names="oid"),
                    left_on="doc_id", right_on="oid")
    m = gk.merge(wk, on=["query_id", "conv_id", "turn_idx"],
                 suffixes=("_g", "_w"))
    assert len(m) == len(want)
    assert np.allclose(m["score_g"], m["score_w"], atol=1e-9)


def test_tier_level_exact_powers():
    """Integer tier levels: exact powers of the merge factor must land
    in their own tier (float log put 1000 at log10=2.999->2)."""
    assert sm._tier_level(1000, 10) == 3
    assert sm._tier_level(999, 10) == 2
    assert sm._tier_level(1, 10) == 0
    assert sm._tier_level(0, 10) == 0
    assert sm._tier_level(9, 3) == 2
    assert sm._tier_level(243, 3) == 5
    assert sm._tier_level(242, 3) == 4


@pytest.mark.parametrize("policy,name", [("full", "compacted"),
                                         ("tiered", "tiered")],
                         ids=["full", "tiered"])
def test_tiered_rerun_after_crash_between_rename_and_stats(spark, tmp_path,
                                                           monkeypatch,
                                                           policy, name):
    """A compaction that dies AFTER renaming its merged segment but
    BEFORE the stats swap must leave stats untouched, and a rerun must
    succeed (the leftover seg=<name>-<gen> dir is unreferenced garbage
    and gets replaced, not ENOTEMPTY-wedged) — under both policies."""
    out = str(tmp_path / "idx")
    cfg = BuildConfig(num_part_ids=16, shuffle_partitions=4)
    pdf = fx.gen_transcripts_pdf(60, 21)
    chunks = _chunks(pdf, 3)
    for i in range(3):
        _ingest(spark, out, cfg, chunks[i], i)

    real_write = sm._write_stats
    state = {"boom": True}

    def crashing_write(out_dir, stats_):
        if state["boom"] and any(
                str(s["id"]).startswith(f"{name}-")
                for s in stats_.get("segments", [])):
            state["boom"] = False
            raise RuntimeError("crash between rename and stats swap")
        return real_write(out_dir, stats_)

    monkeypatch.setattr(sm, "_write_stats", crashing_write)
    with pytest.raises(RuntimeError, match="crash between rename"):
        sm.compact_segments(spark, out, cfg, policy=policy,
                            merge_factor=3)
    stats = sm.load_stream_stats(out)
    assert [s["id"] for s in stats["segments"]] == [0, 1, 2]  # untouched
    assert os.path.isdir(os.path.join(out, "segments", f"seg={name}-1"))

    r = sm.compact_segments(spark, out, cfg, policy=policy,
                            merge_factor=3)
    assert r["compacted"], r
    stats = sm.load_stream_stats(out)
    assert [s["id"] for s in stats["segments"]] == [f"{name}-1"]
    assert stats["N"] == len(pdf)
    _assert_rank_identical_by_key(spark, out, cfg, pdf)


def test_drain_equals_one_group_tier_merge(spark, tmp_path):
    """A full compaction is the tier merge of one group that holds every
    live segment and every pending tombstone: on three same-tier
    segments (merge_factor=3) with deletes pending in two of them, both
    policies write the same postings rows and live docs, reach the same
    corpus stats and leave no tombstone pending. (Block maxima are
    derived at query time from these payloads and N/avgdl.)"""
    import shutil

    cfg = BuildConfig(num_part_ids=16, shuffle_partitions=4)
    pdf = fx.gen_transcripts_pdf(60, 21)
    chunks = _chunks(pdf, 3)
    base = str(tmp_path / "base")
    for i in range(3):
        _ingest(spark, base, cfg, chunks[i], i)
    victims = (sorted(chunks[0]["conv_id"].unique())[:2]
               + sorted(chunks[2]["conv_id"].unique())[:2])
    assert sm.delete_docs(spark, base, victims)["deleted"] > 0

    got = {}
    for policy in ("full", "tiered"):
        out = str(tmp_path / policy)
        shutil.copytree(base, out)
        r = sm.compact_segments(spark, out, cfg, policy=policy,
                                merge_factor=3)
        assert r["compacted"] and len(r["merges"]) == 1, r
        assert sm.load_tombstones(spark, out) is None
        stats = sm.load_stream_stats(out)
        postings = (sm.load_segment_postings(spark, out).toPandas()
                    .sort_values("term").reset_index(drop=True))
        docs = (sm.segment_docs(spark, out).toPandas()
                .sort_values("doc_id").reset_index(drop=True))
        got[policy] = (postings, docs, {k: stats.get(k, 0) for k in
                                        ("N", "total_dl", "deleted_n")})
    (pf, df, sf), (pt, dt, st) = got["full"], got["tiered"]
    assert list(pf.columns) == list(pt.columns)
    assert {"term", "doc_ids", "tfs", "dls", "df", "cf"} <= set(pf.columns)
    pd.testing.assert_frame_equal(pf, pt)
    pd.testing.assert_frame_equal(df, dt)
    surviving = pdf[~pdf["conv_id"].isin(victims)]
    assert sf == st == {"N": len(surviving),
                        "total_dl": int(dt["dl"].sum()), "deleted_n": 0}


@pytest.mark.parametrize("mf", [0, 1, -1])
def test_merge_factor_below_two_rejected_before_any_job(spark, tmp_path,
                                                        monkeypatch, mf):
    """merge_factor < 2 has no tier ladder (1 never terminated the tier
    loop, 0 divided by zero inside the best-effort merge-on-commit and
    silently disabled it): the public entry points raise before any
    Spark job, leaving no segment and unchanged stats."""
    out = str(tmp_path / "idx")
    cfg = BuildConfig(num_part_ids=16, shuffle_partitions=4)
    chunks = _chunks(fx.gen_transcripts_pdf(20, 5), 2)
    _ingest(spark, out, cfg, chunks[0], 0)
    before = sm.load_stream_stats(out)

    def reached(*a, **k):
        raise AssertionError("merge-on-commit ran")

    monkeypatch.setattr(sm, "_auto_compact", reached)
    with pytest.raises(ValueError, match="merge_factor"):
        sm.process_batch(spark, spark.createDataFrame(chunks[1]), 1, out,
                         cfg, merge_factor=mf)
    assert sorted(os.listdir(os.path.join(out, "segments"))) == ["seg=0"]
    assert sm.load_stream_stats(out) == before
    with pytest.raises(ValueError, match="merge_factor"):
        sm.start_incremental_build(spark, str(tmp_path / "in"),
                                   str(tmp_path / "idx2"), cfg,
                                   merge_factor=mf)
    with pytest.raises(ValueError, match="merge_factor"):
        sm._tier_level(5, mf)


def test_auto_compact_long_ingest_bounds_segments(spark, tmp_path,
                                                  monkeypatch):
    """Merge-on-commit (round 5): a 30-batch ingest with interleaved
    deletes and NO manual compaction call keeps every size tier under
    merge_factor via process_batch's auto_compact hook, each automatic
    merge stays O(tier) (never rewrites the whole index), and the end
    state is rank-identical to a batch build over the surviving
    corpus."""
    out = str(tmp_path / "idx")
    cfg = BuildConfig(num_part_ids=16, shuffle_partitions=4)
    MF = 3
    pdf = fx.gen_transcripts_pdf(90, 33)
    chunks = _chunks(pdf, 30)

    # spy on the auto-invoked compactions to assert O(tier) accounting
    calls: list[dict] = []
    orig = sm.compact_segments

    def spy(spark_, out_, cfg_=None, **kw):
        n_before = sm.load_stream_stats(out_)["N"]
        r = orig(spark_, out_, cfg_, **kw)
        calls.append({**r, "n_at_call": n_before})
        return r

    monkeypatch.setattr(sm, "compact_segments", spy)

    victims: list[str] = []
    for i, chunk in enumerate(chunks):
        sm.process_batch(spark, spark.createDataFrame(chunk), i, out, cfg,
                         auto_compact=True, merge_factor=MF)
        # the bound the policy promises: after every commit's auto
        # pass, no tier holds merge_factor segments
        stats = sm.load_stream_stats(out)
        per_tier: dict[int, int] = {}
        for s in stats["segments"]:
            lvl = sm._tier_level(int(s["rows"]), MF)
            per_tier[lvl] = per_tier.get(lvl, 0) + 1
        assert all(c < MF for c in per_tier.values()), (i, per_tier)
        assert len(stats["segments"]) <= MF * (max(per_tier) + 1)
        # interleaved GDPR-style deletes mid-stream
        if i in (11, 21):
            vs = sorted(chunk["conv_id"].unique())[:1]
            victims += vs
            sm.delete_docs(spark, out, vs)

    merged_calls = [c for c in calls if c.get("compacted")]
    assert merged_calls, "auto compaction never fired in 30 batches"
    # O(tier) accounting, amortized: a single cascade step may span the
    # whole (young) index, but across the run tiered merging rewrites
    # ~log_mf(batches) x corpus, where per-batch FULL compaction would
    # rewrite ~batches/2 x corpus (= 15x here). Assert the amortized
    # bound with slack — it separates the two policies by ~3x.
    for c in merged_calls:
        assert c["rows_rewritten"] <= c["n_at_call"], c
    n_final = len(pdf)
    total_rewritten = sum(c["rows_rewritten"] for c in merged_calls)
    assert total_rewritten <= 6 * n_final, (total_rewritten, n_final)

    # end-state correctness: apply remaining tombstones via one full
    # compaction (operator action, AFTER the bound was proven
    # auto-only) and compare against the batch oracle
    surviving = pdf[~pdf["conv_id"].isin(set(victims))].reset_index(
        drop=True)
    r = orig(spark, out, cfg, policy="full")
    assert r["compacted"]
    _assert_rank_identical_by_key(spark, out, cfg, surviving)


def test_tiered_multi_group_single_call(spark, tmp_path):
    """Six same-tier segments -> ONE tiered call plans TWO independent
    merge groups (executed concurrently via the round-5 thread pool)
    and the result is rank-identical to the batch oracle."""
    out = str(tmp_path / "idx")
    cfg = BuildConfig(num_part_ids=16, shuffle_partitions=4)
    pdf = fx.gen_transcripts_pdf(120, 77)
    chunks = _chunks(pdf, 6)
    for i in range(6):
        _ingest(spark, out, cfg, chunks[i], i)
    r = sm.compact_segments(spark, out, cfg, policy="tiered",
                            merge_factor=3)
    assert r["compacted"] and len(r["merges"]) == 2
    members = sorted(m for g in r["merges"] for m in g["members"])
    assert members == [0, 1, 2, 3, 4, 5]
    stats = sm.load_stream_stats(out)
    assert len(stats["segments"]) == 2
    assert stats["N"] == len(pdf)
    _assert_rank_identical_by_key(spark, out, cfg, pdf)


def test_tiered_delete_apply_backfills_next_doc_id(spark, tmp_path):
    """Round-6 review: on legacy stats (pre-next_doc_id engine
    versions) a delete-applying tiered compaction shrank N without
    pinning the id allocator — the next batch would reuse doc-id
    ranges surviving docs still own. The allocator must backfill from
    the PRE-shrink N, mirroring _compact_full."""
    out = str(tmp_path / "idx")
    cfg = BuildConfig(num_part_ids=16, shuffle_partitions=4)
    pdf = fx.gen_transcripts_pdf(80, 23)
    chunks = _chunks(pdf, 4)
    for i in range(3):
        _ingest(spark, out, cfg, chunks[i], i)
    # simulate a legacy stats.json with no allocator record
    stats = sm.load_stream_stats(out)
    stats.pop("next_doc_id")
    sm._write_stats(out, stats)
    n_pre = stats["N"]
    victims = sorted(chunks[0]["conv_id"].unique())[:3]
    assert sm.delete_docs(spark, out, victims)["deleted"] > 0
    rc = sm.compact_segments(spark, out, cfg, policy="tiered",
                             merge_factor=3)
    assert rc["compacted"] and rc["deleted_applied"] > 0
    now = sm.load_stream_stats(out)
    assert now["N"] < n_pre
    assert now["next_doc_id"] == n_pre  # pre-shrink pin
    # a new batch allocates beyond the pin: ids stay globally unique
    _ingest(spark, out, cfg, chunks[3], 3)
    docs = sm.segment_docs(spark, out).toPandas()
    assert docs["doc_id"].is_unique


def test_failed_batch_and_postmerge_leave_no_stray_dirs(
        spark, tmp_path, monkeypatch):
    """Round-6 review: (a) a failed segment build must not leak its
    .ingesting-* temp dir; (b) a tiered pass failing AFTER its groups
    merged (the pre-commit consolidation jobs) must drop the finished
    groups' .tiering-* dirs — auto_compact retries every batch, so a
    persistent failure would accumulate them indefinitely."""
    out = str(tmp_path / "idx")
    cfg = BuildConfig(num_part_ids=16, shuffle_partitions=4)
    pdf = fx.gen_transcripts_pdf(80, 29)
    chunks = _chunks(pdf, 4)

    def _hidden():
        seg = os.path.join(out, "segments")
        return [d for d in os.listdir(seg)] if os.path.isdir(seg) else []

    # (a) batch build failure — patch streaming's module-level binding
    orig_assemble = sm.assemble_postings

    def boom_assemble(*a, **k):
        raise RuntimeError("assemble boom")

    monkeypatch.setattr(sm, "assemble_postings", boom_assemble)
    with pytest.raises(RuntimeError, match="assemble boom"):
        sm.process_batch(spark, spark.createDataFrame(chunks[0]), 0, out,
                         cfg, auto_compact=False)
    monkeypatch.setattr(sm, "assemble_postings", orig_assemble)
    assert not [d for d in _hidden() if d.startswith(".ingesting")]
    # retry succeeds
    for i in range(3):
        _ingest(spark, out, cfg, chunks[i], i)

    # (b) post-merge consolidation failure: tombstones make the
    # applied-frames concat run; failing it exercises the guard AFTER
    # the groups finished their merges
    victims = sorted(chunks[0]["conv_id"].unique())[:2]
    assert sm.delete_docs(spark, out, victims)["deleted"] > 0
    import pandas as real_pd

    orig_concat = real_pd.concat

    def boom_concat(*a, **k):
        raise RuntimeError("concat boom")

    monkeypatch.setattr(real_pd, "concat", boom_concat)
    try:
        with pytest.raises(RuntimeError, match="concat boom"):
            sm.compact_segments(spark, out, cfg, policy="tiered",
                                merge_factor=3)
    finally:
        monkeypatch.setattr(real_pd, "concat", orig_concat)
    assert not [d for d in _hidden() if d.startswith(".tiering")]
    # retry compacts cleanly
    rc = sm.compact_segments(spark, out, cfg, policy="tiered",
                             merge_factor=3)
    assert rc["compacted"] and rc["deleted_applied"] > 0


def test_load_index_snapshot_consistent_pair(spark, tmp_path):
    """load_index_snapshot takes ONE stats snapshot for both frames:
    before compaction it returns live postings + pending tombstones;
    after the compaction applies them it returns the compacted
    postings + None."""
    out = str(tmp_path / "idx")
    cfg = BuildConfig(num_part_ids=16, shuffle_partitions=4)
    pdf = fx.gen_transcripts_pdf(60, 31)
    chunks = _chunks(pdf, 3)
    for i in range(3):
        _ingest(spark, out, cfg, chunks[i], i)
    victims = sorted(chunks[0]["conv_id"].unique())[:2]
    n_del = sm.delete_docs(spark, out, victims)["deleted"]
    assert n_del > 0
    postings, tomb = sm.load_index_snapshot(spark, out)
    assert tomb is not None and tomb.count() == n_del
    assert postings.count() > 0
    rf = sm.compact_segments(spark, out, cfg)  # full: applies all
    assert rf["compacted"] and rf["deleted_applied"] == n_del
    postings2, tomb2 = sm.load_index_snapshot(spark, out)
    assert tomb2 is None
    assert postings2.count() > 0
