"""Incremental index maintenance via Structured Streaming.

The reference is strictly batch (SURVEY §2.2) and the north rule does
not require streaming; this module is the natural Spark-native
extension: new transcript turns arrive as files, each micro-batch
becomes an immutable index SEGMENT (the classic Lucene-style design),
and the query kernels merge segments at read time.

  readStream(transcripts) --foreachBatch--> segments/seg=<id>/postings
                                            + doc-id offsets + stats

Exactness: query-time BM25 uses global N/avgdl (maintained in
stats.json) and per-term df summed across segments inside the scoring
kernel (capsbm25/query.py merges multi-segment terms and recomputes
pruning bounds), so incremental == batch == oracle, rank-identically —
tested in tests/test_streaming.py.

doc_ids stay dense and stable: each micro-batch is assigned the range
[N_so_far, N_so_far + batch_rows) in (conv_id, turn_idx) order within
the batch (arrival order across batches — the streaming analog of the
stable ordering contract; a periodic compaction could re-sort segments
if strict global key order is required).
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import logging
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from capsbm25.catalog import arrow_collect
from capsbm25.config import BuildConfig
from capsbm25.docids import assign_doc_ids
from capsbm25.partition import plan_from_sample
from capsbm25.postings import assemble_postings, extract_pairs, extract_runs

_logger = logging.getLogger("capsbm25.streaming")


def _stats_path(out_dir: str) -> str:
    return os.path.join(out_dir, "stats.json")


@contextlib.contextmanager
def _stats_lock(out_dir: str):
    """Exclusive advisory lock serializing ALL stats.json mutations
    (the Lucene write.lock analog). process_batch and compact_segments
    each do their expensive Spark work lock-free, then re-read + mutate
    + swap stats.json inside this lock — so a batch can no longer
    commit between compaction's staleness re-check and its swap (which
    silently dropped the batch's segment), and a compaction can no
    longer be clobbered by a batch writing from a pre-compaction
    snapshot (which lost compact_gen/compacted_from)."""
    os.makedirs(out_dir, exist_ok=True)
    fd = os.open(os.path.join(out_dir, "write.lock"),
                 os.O_CREAT | os.O_RDWR, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def _write_stats(out_dir: str, stats: dict) -> None:
    # fsync BEFORE the rename and fsync the directory after: without
    # them an OS crash can journal the rename ahead of the tmp file's
    # data blocks, leaving a 0-byte stats.json that makes the whole
    # index unloadable (the one file the durable-segment design cannot
    # reconstruct)
    tmp = _stats_path(out_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(stats, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, _stats_path(out_dir))
    dfd = os.open(out_dir, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def load_stream_stats(out_dir: str) -> dict:
    p = _stats_path(out_dir)
    if not os.path.exists(p):
        return {"N": 0, "total_dl": 0, "segments": []}
    with open(p) as f:
        return json.load(f)


def process_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    cfg: BuildConfig,
    auto_compact: bool = True,
    merge_factor: int = 10,
) -> None:
    """foreachBatch body: build one immutable segment. Idempotent on
    batch_id (Structured Streaming may re-run a batch after failure).

    auto_compact (default ON) is the Lucene merge-on-commit analog —
    and the reference's construct() runs its merge stages inside the
    one build pipeline, not as a separately invoked tool
    (/root/reference/src/Suffix_Array.cpp:466-494): after the segment
    commits, any tier holding >= merge_factor segments is merged via
    the tiered policy, cascading promotions included, so a long-lived
    ingest keeps live-segment count <= ~merge_factor x tiers with no
    operator intervention. Merges run synchronously in the ingest
    thread (foreachBatch already serializes batches; a failed/aborted
    merge never fails the commit — the segment is durable first)."""
    _check_merge_factor(merge_factor)
    stats = load_stream_stats(out_dir)
    # adopt the stream's persisted build config: a restart with a
    # different caller cfg (other token_pattern / index_positions) would
    # otherwise build inconsistent segments that skew df across the
    # index or break phrase queries on the new segments only
    cfg = cfg.adopt(stats.get("config", {}))
    ingested = {s["id"] for s in stats["segments"]}
    ingested.update(stats.get("compacted_from", []))
    if batch_id in ingested:
        return  # replay after restart — segment already committed
    n_rows = batch_df.count()
    if n_rows == 0:
        return
    from capsbm25.session import configure_session

    configure_session(spark, out_dir)
    # adaptive partitioning resolves against the BATCH size (a
    # segment's plan only spans its own docs) — but keep the caller's
    # UNRESOLVED cfg for auto-compaction below, whose merged segments
    # span many batches and must re-resolve against the LIVE corpus
    cfg_unresolved = cfg
    cfg = cfg.resolve_parts(n_rows)
    t0 = time.time()
    # doc-id ranges allocate from a MONOTONE counter, not the live doc
    # count: deletes + compaction shrink N, and allocating from N would
    # hand a new batch ids still owned by surviving docs
    offset = stats.get("next_doc_id", stats["N"])

    docs = assign_doc_ids(batch_df, cfg, method="distributed", with_dl=True)
    docs = docs.withColumn("doc_id", F.col("doc_id") + F.lit(offset)).select(
        "doc_id", "conv_id", "turn_idx", "dl", "text"
    )
    # build the segment in a PRIVATE temp dir; the canonical seg=<id>
    # path is claimed by an os.rename under the write lock AFTER the
    # idempotency re-check — a replayed batch racing the original
    # commit must never rewrite a LIVE segment's files (a concurrent
    # reader holding the old file listing would fail mid-job)
    import shutil
    import uuid

    tmp_seg = os.path.join(
        out_dir, "segments",
        f".ingesting-{os.getpid()}-{uuid.uuid4().hex[:8]}",
    )
    try:
        docs.write.mode("overwrite").parquet(os.path.join(tmp_seg, "docs"))
        docs = spark.read.parquet(os.path.join(tmp_seg, "docs"))

        sample = extract_pairs(
            docs.sample(fraction=min(1.0, 20000 / max(n_rows, 1)),
                        seed=cfg.seed), cfg
        )
        plan = plan_from_sample(
            arrow_collect(sample.select("term", "tf")), cfg)

        seg_dl = docs.agg(F.sum("dl").alias("s")).collect()[0]["s"] or 0
        postings = assemble_postings(
            extract_runs(docs, cfg, plan=plan), plan, cfg)
        postings.write.mode("overwrite").parquet(
            os.path.join(tmp_seg, "postings"))
    except BaseException:
        # a failed build must not leak its private .ingesting-* dir —
        # foreachBatch retries would accumulate one per failure
        shutil.rmtree(tmp_seg, ignore_errors=True)
        raise

    # COMMIT under the write lock: re-load stats so a compaction that
    # swapped the segment list mid-batch is merged with, not clobbered
    # (compaction preserves next_doc_id — N/total_dl may SHRINK when it
    # applies delete tombstones — so the id range taken at batch start
    # stays valid; concurrent BATCH writers on one out_dir are not
    # supported and are detected below).
    with _stats_lock(out_dir):
        cur = load_stream_stats(out_dir)
        ingested_now = {s["id"] for s in cur["segments"]}
        ingested_now.update(cur.get("compacted_from", []))
        if batch_id in ingested_now:
            shutil.rmtree(tmp_seg, ignore_errors=True)
            return  # lost a replay race — already committed
        cur_next = cur.get("next_doc_id", cur["N"])
        if cur_next != offset:
            shutil.rmtree(tmp_seg, ignore_errors=True)
            raise RuntimeError(
                f"next_doc_id moved {offset} -> {cur_next} during batch "
                f"{batch_id}: concurrent segment writers on one index "
                "directory are not supported (doc-id ranges would overlap)"
            )
        seg = os.path.join(out_dir, "segments", f"seg={batch_id}")
        if os.path.exists(seg):
            # leftover from a CRASHED uncommitted attempt (the live
            # check above proved it's not in stats) — safe to drop
            shutil.rmtree(seg)
        os.rename(tmp_seg, seg)
        cur["N"] += n_rows
        cur["next_doc_id"] = offset + n_rows
        cur["total_dl"] += int(seg_dl)
        cur.setdefault("config", cfg.persist_dict())
        cur["segments"].append(
            {"id": batch_id, "rows": n_rows, "dl": int(seg_dl),
             "sec": round(time.time() - t0, 3)}
        )
        _write_stats(out_dir, cur)
    if auto_compact:
        # merge-on-commit is BEST-EFFORT by contract ("a failed/aborted
        # merge never fails the commit"): the segment above is durable
        # and replay is idempotent, so a transient merge failure inside
        # a default-on feature must not propagate out of foreachBatch
        # and kill the StreamingQuery — log it and let the NEXT batch's
        # auto_compact retry naturally (round-5 advice, medium).
        try:
            _auto_compact(spark, out_dir, cfg_unresolved, merge_factor)
        except Exception:
            _logger.exception(
                "merge-on-commit auto-compaction failed after a durable "
                "segment commit — continuing; the next batch retries"
            )


def _auto_compact(spark, out_dir, cfg, merge_factor: int) -> None:
    """Merge-scheduling policy for ingest (Lucene merge-on-commit): run
    tiered passes until the planner finds no group (that pass returns
    before any Spark job). The loop handles cascades (mf tier-0 merges
    promote a tier-1 segment that may complete ITS tier) and is bounded:
    each pass strictly reduces segment count or aborts (a concurrent
    commit/delete changed the segment list — the NEXT batch's
    auto_compact retries), so it terminates."""
    for _ in range(64):  # safety bound over any realistic tier depth
        if not compact_segments(spark, out_dir, cfg, policy="tiered",
                                merge_factor=merge_factor)["compacted"]:
            return


def start_incremental_build(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    cfg: BuildConfig | None = None,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
    auto_compact: bool = True,
    merge_factor: int = 10,
):
    """Start the streaming build; returns the StreamingQuery.
    auto_compact keeps segment count bounded across a long-lived
    ingest via merge-on-commit tiered compaction (see process_batch)."""
    from capsbm25.fixtures import TRANSCRIPT_SCHEMA

    _check_merge_factor(merge_factor)
    cfg = cfg or BuildConfig()
    os.makedirs(out_dir, exist_ok=True)
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )
    writer = stream.writeStream.foreachBatch(
        lambda bdf, bid: process_batch(spark, bdf, bid, out_dir, cfg,
                                       auto_compact=auto_compact,
                                       merge_factor=merge_factor)
    ).option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_term_counts(
    spark: SparkSession,
    input_path: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    cfg: BuildConfig | None = None,
) -> DataFrame:
    """Watermarked, windowed streaming aggregation: term arrival counts
    per event-time window over the live transcript stream — the
    standard Structured Streaming shape (readStream -> event-time
    window + watermark -> stateful agg), usable as a live ingest
    monitor next to the segment builder. Returns the streaming
    DataFrame; caller attaches a writeStream sink.

    Late turns older than the watermark are dropped from state —
    bounded state at 10^12-turn ingest rates.

    cfg: the index's BuildConfig, so the monitor's tokenization
    matches the index it runs beside (a custom token_pattern or
    chargram index would otherwise count terms that don't exist in
    the index).
    """
    from capsbm25.fixtures import TRANSCRIPT_SCHEMA
    from capsbm25.tokenize import tokens_expr

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(input_path)
    return (
        stream.withWatermark("ts", watermark)
        .select(F.col("ts"),
                F.explode(tokens_expr(F.col("text"), cfg)).alias("term"))
        .groupBy(F.window("ts", window).alias("w"), F.col("term"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            "term",
            "n",
        )
    )


def load_index_snapshot(
    spark: SparkSession, out_dir: str,
) -> tuple[DataFrame, DataFrame | None]:
    """ONE consistent (postings, tombstones) view from a SINGLE stats
    snapshot. Calling load_segment_postings and load_tombstones
    separately can straddle a compaction: the postings resolve from
    pre-compaction stats (old segment dirs stay on disk for async GC)
    while the second call sees the post-compaction stats where the
    tombstones are already applied — doc_exclude comes back None and
    queries over the OLD postings resurrect deleted docs. Readers that
    mask deletes at query time should take both frames from here."""
    stats = load_stream_stats(out_dir)
    return (load_segment_postings(spark, out_dir, stats=stats),
            load_tombstones(spark, out_dir, stats=stats))


def load_segment_postings(spark: SparkSession, out_dir: str,
                          stats: dict | None = None) -> DataFrame:
    """All live segments' postings (multiple rows per term possible —
    the query kernels merge them; salted partials are merged here too
    since segments skip the hot-merge pass: the kernel handles any
    number of partial rows per term). When pairing with
    load_tombstones for delete-masked queries, use load_index_snapshot
    (or pass the same `stats` to both) — independent snapshots can
    straddle a compaction."""
    stats = stats if stats is not None else load_stream_stats(out_dir)
    paths = [
        os.path.join(out_dir, "segments", f"seg={s['id']}", "postings")
        for s in stats["segments"]
    ]
    if not paths:
        from capsbm25.postings import POSTINGS_SCHEMA

        return spark.createDataFrame([], POSTINGS_SCHEMA)
    return spark.read.parquet(*paths)


def _tombstone_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "tombstones")


def _tombstone_files(out_dir: str, stats: dict | None = None) -> list[str]:
    """PENDING tombstone files: on-disk parquet minus the ones a past
    compaction already applied (tracked in stats, like compacted_from).
    Applied files are left on disk for external/async GC — removing
    them at the compaction swap would break a concurrently-planned
    load_tombstones reader mid-job, the exact race the segment dirs'
    async-GC policy avoids."""
    d = _tombstone_dir(out_dir)
    if not os.path.isdir(d):
        return []
    stats = stats if stats is not None else load_stream_stats(out_dir)
    applied = set(stats.get("tombstones_applied", []))
    return sorted(
        os.path.join(d, f) for f in os.listdir(d)
        if f.endswith(".parquet") and f not in applied
    )


def load_tombstones(spark: SparkSession, out_dir: str,
                    stats: dict | None = None) -> DataFrame | None:
    """Deleted docs as (doc_id, dl) rows, deduped; None if no deletes.
    Pass .select("doc_id") as bm25_topk(doc_exclude=...) to mask
    deleted docs at query time before a compaction applies them.
    Pair with load_segment_postings via load_index_snapshot (or a
    shared `stats`) — see its docstring for the straddle race."""
    files = _tombstone_files(out_dir, stats=stats)
    if not files:
        return None
    return (
        spark.read.parquet(*files)
        .dropDuplicates(["doc_id"])
        .select("doc_id", "dl")
    )


def segment_docs(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-doc metadata of all live segments:
    (doc_id, conv_id, turn_idx, dl, text)."""
    stats = load_stream_stats(out_dir)
    paths = [
        os.path.join(out_dir, "segments", f"seg={s['id']}", "docs")
        for s in stats["segments"]
    ]
    if not paths:
        return spark.createDataFrame(
            [], "doc_id long, conv_id string, turn_idx int, dl int, "
                "text string"
        )
    return spark.read.parquet(*paths)


# pending-tombstone doc_ids per index dir, keyed by the exact pending
# file list — avoids re-reading EVERY pending file on each delete call
# (O(total pending) per delete, growing until the next compaction);
# invalidated automatically whenever the file list changes (new delete
# from another process, compaction consolidating/applying files)
_pending_seen_cache: dict[str, tuple[tuple[str, ...], set]] = {}


def _pending_doc_ids(out_dir: str, files: list[str]) -> set:
    """doc_ids across the given pending tombstone files, cached on the
    file list. Caller must hold the write lock (the cache is only
    trustworthy while the list cannot change under us)."""
    key = tuple(files)
    hit = _pending_seen_cache.get(out_dir)
    if hit is not None and hit[0] == key:
        return hit[1]
    import pyarrow.parquet as pq

    seen: set = set()
    for f in files:
        seen.update(pq.read_table(f, columns=["doc_id"])["doc_id"].to_pylist())
    _pending_seen_cache[out_dir] = (key, seen)
    return seen


def delete_docs(spark: SparkSession, out_dir: str,
                conv_ids: list[str]) -> dict:
    """Record delete tombstones for whole conversations (the GDPR-
    shaped delete: a conversation and all its turns). Lucene liveDocs
    semantics: deleted docs stop matching as soon as queries pass
    load_tombstones(...) as doc_exclude; scoring stats stay stale-
    global until compact_segments() physically drops the docs and
    restores exact N/avgdl/df.

    The resolved id set is collected driver-side — deletes are
    request-sized (a conversation list), not corpus-sized. Dedup
    against pending tombstones and the counter update run under the
    index write lock, so concurrent deletes never double-count; the
    resolution snapshot is validated under the lock and RETRIED if a
    compaction (or batch) swapped the segment list while we resolved —
    committing ids resolved against since-compacted segments would
    re-tombstone physically-removed docs and permanently understate
    N/total_dl at the next compaction."""
    import uuid

    def _marker(s: dict):
        return (s.get("compact_gen", 0), [x["id"] for x in s["segments"]])

    for _ in range(5):
        stats0 = load_stream_stats(out_dir)
        before = _marker(stats0)
        resolved = arrow_collect(
            segment_docs(spark, out_dir)
            .where(F.col("conv_id").isin(list(conv_ids)))
            .select("doc_id", "dl")
        )
        with _stats_lock(out_dir):
            cur = load_stream_stats(out_dir)
            if _marker(cur) != before:
                continue  # segments moved under us — re-resolve
            if resolved.empty:
                return {"deleted": 0}
            files = _tombstone_files(out_dir, cur)
            if files:
                seen = _pending_doc_ids(out_dir, files)
                resolved = resolved[~resolved["doc_id"].isin(seen)]
            else:
                seen = set()
            if resolved.empty:
                return {"deleted": 0}
            os.makedirs(_tombstone_dir(out_dir), exist_ok=True)
            new_file = os.path.join(_tombstone_dir(out_dir),
                                    f"del-{uuid.uuid4().hex[:12]}.parquet")
            resolved.to_parquet(new_file, index=False)
            # extend the cache in place — the next delete sees exactly
            # files + [new_file] and skips re-reading everything
            _pending_seen_cache[out_dir] = (
                tuple(sorted([*files, new_file])),
                seen | set(resolved["doc_id"].tolist()),
            )
            cur["deleted_n"] = cur.get("deleted_n", 0) + len(resolved)
            cur["deleted_dl"] = (cur.get("deleted_dl", 0)
                                 + int(resolved["dl"].sum()))
            _write_stats(out_dir, cur)
        return {"deleted": len(resolved), "dl": int(resolved["dl"].sum())}
    raise RuntimeError(
        "delete_docs could not get a stable segment snapshot after 5 "
        "attempts (continuous compaction/ingest churn) — retry later"
    )


def compact_segments(
    spark: SparkSession, out_dir: str, cfg: BuildConfig | None = None,
    policy: str = "full", merge_factor: int = 10,
    max_tombstone_collect: int = 1_000_000,
) -> dict:
    """Segment compaction: one planner, one group merge, one commit.

    The planner (_plan_merges) turns the live segment list into merge
    groups. policy="full" (the Lucene forceMerge(1) analog) is ONE
    group of every live segment, and a DRAIN: it applies every pending
    delete tombstone. Every term collapses back to a single posting row
    (the query kernel's single-row fast path applies again), tombstoned
    docs are physically dropped from postings AND doc metadata, and
    stats shrink to exact live values — after it, queries need no
    doc_exclude and the index is rank-identical to a fresh batch build
    over the surviving corpus (tested). Cost: it rewrites the ENTIRE index; on a
    long-lived ingest stream run policy="tiered" between occasional
    full merges.

    policy="tiered" (the Lucene TieredMergePolicy / the reference's
    bounded k-way merge tree, src/Suffix_Array.cpp:371-428): each
    segment's tier is floor(log_mf(rows)), and a tier holding >=
    merge_factor live segments has its oldest members merged
    merge_factor at a time. Bytes rewritten per call are O(merged
    tiers), NOT O(index): under continuous ingest each doc is rewritten
    O(log_mf(N)) times and per-term query fan-in stays
    O(merge_factor x log_mf(N)). A group applies the pending tombstones
    that fall INSIDE it; the remainder is consolidated into one pending
    file so later deletes and compactions stop re-reading a growing
    file list. The per-merge row accounting in the result lets callers
    (and tests) verify the O(tier) rewrite bound.

    Every group goes through _merge_group: the members' postings are
    merged by merge_hot_partials with the group's tombstones as a
    broadcast drop set, their docs lose the same ids, and both land in
    a private temp dir. Several groups run concurrently. Up to
    max_tombstone_collect pending ids the drop set is collected; beyond
    the cap (a retention sweep at 10^12 docs would OOM the driver) a
    drain switches to a fully DISTRIBUTED rebuild from the surviving
    text (_rebuild_from_live_docs: live docs are a DataFrame anti-join,
    postings come from the batch pipeline — tested by forcing the cap
    to 0), and a tier plan leaves every tombstone pending for that
    drain.

    One commit (_commit_merges) claims the canonical seg=<name> paths by
    os.rename under the write lock after a staleness re-check and
    rewrites stats once, so compaction is idempotent and atomic. A
    drain aborts if ANY segment or pending tombstone file changed while
    it merged; a tier plan aborts only if one of its members is gone,
    or if it applied tombstones and the pending files changed. Old
    segment dirs and applied tombstone files are left for external GC
    (object stores prefer async delete). The doc-id allocator
    (next_doc_id) stays monotone, so later batches never reuse a
    surviving doc's id.
    """
    import shutil

    stats = load_stream_stats(out_dir)
    segments = stats["segments"]
    files = _tombstone_files(out_dir, stats)
    groups, drain = _plan_merges(segments, policy, merge_factor, bool(files))
    if not groups:
        return {"compacted": False, "policy": policy,
                "segments": len(segments), "merges": []}
    # adopt the build-time config persisted with the stream (tokenizer,
    # block size, positions flag) — a mismatched caller cfg would
    # tokenize differently / drop positions
    cfg = (cfg or BuildConfig()).adopt(stats.get("config", {}))
    from capsbm25.session import configure_session

    configure_session(spark, out_dir)
    # merged/rebuilt segments re-plan over the live corpus
    cfg = cfg.resolve_parts(int(stats.get("N", 0)))

    tombs = probe = mass = None
    if files:
        tombs = spark.read.parquet(*files).select("doc_id", "dl")
        uniq = tombs.dropDuplicates(["doc_id"])
        probe = arrow_collect(uniq.limit(max_tombstone_collect + 1))
        if len(probe) > max_tombstone_collect:
            # a mass delete never reaches the driver: a drain rebuilds
            # from the live docs, a tier plan leaves it all pending
            probe = None
            if drain:
                agg = uniq.agg(F.count("*").alias("n"),
                               F.sum("dl").alias("s")).collect()[0]
                mass = (int(agg["n"]), int(agg["s"] or 0))
            else:
                tombs = None

    # every pending tombstone names a doc of a live segment (delete_docs
    # resolves ids against segment docs), so the drain's one group takes
    # the probe as its drop set; a tier group resolves its own share
    def merge(group: list[dict]) -> dict:
        return _merge_group(spark, out_dir, cfg, stats, group,
                            _POLICIES[policy][2], tombs,
                            probe if drain else None, mass)

    if len(groups) == 1:
        merges, err = [merge(groups[0])], None
    else:
        from concurrent.futures import ThreadPoolExecutor

        # groups are independent (disjoint members, private temp dirs):
        # the Spark scheduler interleaves their jobs, so several eligible
        # tiers cost ~max(group) wall instead of sum(groups); results keep
        # the plan's order
        with ThreadPoolExecutor(max_workers=min(len(groups), 8),
                                thread_name_prefix="capsbm25-merge") as pool:
            futs = [pool.submit(merge, g) for g in groups]
        merges = [f.result() for f in futs if f.exception() is None]
        err = next((f.exception() for f in futs
                    if f.exception() is not None), None)
    try:
        if err is not None:
            raise err
        r = _commit_merges(out_dir, cfg, policy, drain, files, probe, merges)
    finally:
        # an abort or a failure anywhere after the merges must leave no
        # stray temp dir; a committed merge's temp dir is already renamed
        for m in merges:
            shutil.rmtree(m.pop("tmp"), ignore_errors=True)
            m.pop("drop")
    if not r["compacted"]:
        return {"policy": policy, **r}
    return {**r, "policy": policy, "merges": merges,
            "segments_before": len(segments),
            "rows_rewritten": sum(m["rows_in"] for m in merges),
            "deleted_applied": sum(m["deleted_applied"] for m in merges),
            "path": "merge" if mass is None else "rebuild"}


# per policy: the stats counter that names its merged segments, the name
# prefix, and the prefix of its private temp dirs
_POLICIES = {"full": ("compact_gen", "compacted", ".compacting"),
             "tiered": ("tier_gen", "tiered", ".tiering")}


def _check_merge_factor(merge_factor: int) -> None:
    # the tier ladder floor(log_mf(rows)) needs a base >= 2: 1 or less
    # never terminates, 0 divides by zero
    if merge_factor < 2:
        raise ValueError(f"merge_factor must be >= 2, got {merge_factor}")


def _tier_level(rows: int, merge_factor: int) -> int:
    """floor(log_mf(rows)) by exact integer division — float log puts
    exact powers one tier low (log(1000)/log(10) = 2.999...)."""
    _check_merge_factor(merge_factor)
    level, n = 0, max(int(rows), 1)
    while n >= merge_factor:
        n //= merge_factor
        level += 1
    return level


def _plan_merges(segments: list[dict], policy: str, merge_factor: int,
                 pending: bool) -> tuple[list[list[dict]], bool]:
    """(merge groups, is_drain) of one compaction. "full": one group of
    every live segment, a drain (it also applies every pending
    tombstone), planned when there are several segments or `pending`
    tombstones. "tiered": each tier's oldest members, merge_factor at a
    time."""
    if policy == "full":
        return [segments] if len(segments) > 1 or (
            segments and pending) else [], True
    if policy != "tiered":
        raise ValueError(f"unknown compaction policy {policy!r}")
    _check_merge_factor(merge_factor)
    by_level: dict[int, list[dict]] = {}
    for s in segments:
        by_level.setdefault(_tier_level(s["rows"], merge_factor), []).append(s)
    return [m[i:i + merge_factor] for _, m in sorted(by_level.items())
            for i in range(0, len(m) - merge_factor + 1, merge_factor)], False


def _merge_group(spark, out_dir, cfg, stats, group, tmp_prefix, tombs,
                 drop, mass) -> dict:
    """Merge one group of segments into a private temp dir (removed on
    failure): the members' postings through merge_hot_partials and
    their docs, both minus the group's tombstones. `drop` is the
    group's (doc_id, dl) tombstone frame; None resolves it from the
    pending `tombs` frame by a semi-join with the group's docs. `mass`
    = (n, dl) of a drain's over-cap tombstones: the group is rebuilt
    from its live docs instead."""
    import shutil
    import uuid

    import numpy as np

    from capsbm25.postings import merge_hot_partials

    paths = [os.path.join(out_dir, "segments", f"seg={s['id']}")
             for s in group]
    docs = spark.read.parquet(*(os.path.join(p, "docs") for p in paths))
    if mass is not None:
        n_del, dl_del = mass
    else:
        if drop is None and tombs is not None:
            drop = arrow_collect(tombs.join(
                docs.select("doc_id"), "doc_id", "semi")).drop_duplicates(
                    "doc_id")
        n_del = 0 if drop is None else len(drop)
        dl_del = int(drop["dl"].sum()) if n_del else 0
    n_live = stats["N"] - n_del
    # a PRIVATE temp dir: concurrent compactors derive the same
    # generation from their lock-free snapshots, so the canonical name
    # is only claimed by the commit's rename under the lock
    tmp = os.path.join(out_dir, "segments",
                       f"{tmp_prefix}-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    drop_bc = None
    try:
        if n_del:
            # doc metadata survives the merge minus the deleted docs —
            # later deletes resolve ids and snippet fetches map keys from
            # it (Lucene rewrites stored fields on merge for the same
            # reason)
            docs = docs.join(tombs.select("doc_id"), "doc_id", "anti")
        if mass is not None:
            _rebuild_from_live_docs(spark, cfg, docs, tmp, n_live)
        else:
            if n_del:
                # a REAL broadcast (one copy per executor), not a closure
                # capture pickled per task
                drop_bc = spark.sparkContext.broadcast(
                    np.unique(drop["doc_id"].to_numpy(np.int64)))
            # merge_hot_partials merges ANY multi-row term (sorted by
            # doc); single-row terms pass through unchanged
            post = spark.read.parquet(
                *(os.path.join(p, "postings") for p in paths))
            merge_hot_partials(post, cfg, drop=drop_bc).write \
                .mode("overwrite").parquet(os.path.join(tmp, "postings"))
            docs.write.mode("overwrite").parquet(os.path.join(tmp, "docs"))
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    finally:
        if drop_bc is not None:
            # the writes ran eagerly — free the executor copies now
            drop_bc.destroy()
    rows_in = sum(s["rows"] for s in group)
    return {"members": [s["id"] for s in group], "tmp": tmp,
            "drop": drop,
            "rows_in": rows_in, "rows_out": rows_in - n_del,
            "dl_out": sum(s["dl"] for s in group) - dl_del,
            "deleted_applied": n_del, "deleted_dl": dl_del}


def _commit_merges(out_dir, cfg, policy, drain, files, probe,
                   merges) -> dict:
    """Publish a plan's merged groups: one staleness check, crash-leftover
    guard, rename loop and stats rewrite, atomically under the write
    lock (batch commits serialize on it too, so none lands between the
    check and the swap)."""
    import shutil
    import uuid

    import pandas as pd

    n_applied = sum(m["deleted_applied"] for m in merges)
    # the pending tombstones are consolidated when the plan applied any:
    # the remainder becomes ONE pending file (a drain's is empty). It
    # depends only on the start-snapshot files (validated below), so it
    # is computed before the lock
    rem = None
    if files and drain:
        rem = pd.DataFrame({"doc_id": [], "dl": []})
    elif files and n_applied:
        applied = pd.concat(m["drop"] for m in merges
                            if m["drop"] is not None)
        rem = probe[~probe["doc_id"].isin(applied["doc_id"])]
    counter, name, _ = _POLICIES[policy]
    consumed = {i for m in merges for i in m["members"]}
    with _stats_lock(out_dir):
        now = load_stream_stats(out_dir)
        live = {s["id"] for s in now["segments"]}
        if not consumed <= live or (drain and live != consumed):
            # a batch or another compaction changed the inputs
            return {"compacted": False,
                    "aborted": "segments changed during compaction — rerun"}
        if (drain or rem is not None) and \
                _tombstone_files(out_dir, now) != files:
            # a delete landed mid-merge: our output still holds its docs
            # and the consolidation would miscount it — aborting keeps
            # every tombstone pending
            return {"compacted": False, "aborted":
                    "tombstones changed during compaction — rerun"}
        gen = int(now.get(counter, 0))
        first = {}  # first member id -> its merge record
        for m in merges:
            gen += 1
            m["seg_id"] = f"{name}-{gen}"
            seg = os.path.join(out_dir, "segments", f"seg={m['seg_id']}")
            if os.path.exists(seg):
                # leftover of a run that crashed between its renames and
                # its stats swap: the counter was never bumped, so stats
                # reference nothing under the repeated name — drop it or
                # every rerun wedges on ENOTEMPTY
                shutil.rmtree(seg)
            os.rename(m["tmp"], seg)
            first[m["members"][0]] = m
        # each merged segment takes its first member's place
        now["segments"] = [
            {"id": m["seg_id"], "rows": m["rows_out"], "dl": m["dl_out"],
             "sec": 0.0} if m else s
            for s in now["segments"]
            for m in [first.get(s["id"])] if m or s["id"] not in consumed]
        # pin the id allocator to the PRE-shrink N (legacy stats predate
        # next_doc_id): a shrunk N must never hand a new batch ids that
        # surviving docs own
        now["next_doc_id"] = now.get("next_doc_id", now["N"])
        now["N"] -= n_applied
        now["total_dl"] -= sum(m["deleted_dl"] for m in merges)
        now[counter] = gen
        now.setdefault("config", cfg.persist_dict())
        # UNION with earlier merges' ids — dropping them would let a
        # streaming replay re-ingest pre-compaction batches
        now["compacted_from"] = sorted(
            set(now.get("compacted_from", [])) | consumed, key=str)
        if rem is not None:
            # every start file is marked applied (files stay on disk for
            # async GC); the remainder bounds the per-delete dedup read
            new_pending: list[str] = []
            if len(rem):
                os.makedirs(_tombstone_dir(out_dir), exist_ok=True)
                new_pending = [os.path.join(
                    _tombstone_dir(out_dir),
                    f"pending-{uuid.uuid4().hex[:12]}.parquet")]
                rem.to_parquet(new_pending[0], index=False)
            now["tombstones_applied"] = sorted(
                set(now.get("tombstones_applied", []))
                | {os.path.basename(f) for f in files})
            now["deleted_n"] = len(rem)
            now["deleted_dl"] = int(rem["dl"].sum())
            _pending_seen_cache[out_dir] = (tuple(new_pending),
                                            set(rem["doc_id"].tolist()))
        _write_stats(out_dir, now)
    return {"compacted": True, "segments_after": len(now["segments"])}


def _rebuild_from_live_docs(spark, cfg, live, tmp_seg_dir, N_live) -> None:
    """Mass-delete compaction path: rebuild postings from the surviving
    corpus `live` (the group's docs anti-joined with the tombstones)
    with the batch pipeline — nothing is ever collected to the
    driver. The assembled rows go through merge_hot_partials, which
    stitches the salted hot partials and passes every other term
    through, so the segment keeps one non-partial row per term."""
    from capsbm25.postings import POSTINGS_SCHEMA, merge_hot_partials

    live.write.mode("overwrite").parquet(os.path.join(tmp_seg_dir, "docs"))
    live = spark.read.parquet(os.path.join(tmp_seg_dir, "docs"))
    if N_live <= 0:
        spark.createDataFrame([], POSTINGS_SCHEMA).write.mode(
            "overwrite").parquet(os.path.join(tmp_seg_dir, "postings"))
        return
    sample = extract_pairs(
        live.sample(fraction=min(1.0, 20000 / max(N_live, 1)),
                    seed=cfg.seed), cfg)
    plan = plan_from_sample(
        arrow_collect(sample.select("term", "tf")), cfg)
    # the anti-join shuffle leaves doc_ids unordered within partitions;
    # extract_runs flushes at every doc-order restart, so sort first or
    # runs degenerate to one row per pair
    src = live.select("doc_id", "text").sortWithinPartitions("doc_id")
    merge_hot_partials(assemble_postings(
        extract_runs(src, cfg, plan=plan), plan, cfg), cfg).write.mode(
            "overwrite").parquet(os.path.join(tmp_seg_dir, "postings"))


def stream_corpus_stats(out_dir: str) -> tuple[int, float]:
    stats = load_stream_stats(out_dir)
    n = stats["N"]
    return n, (stats["total_dl"] / n if n else 0.0)
