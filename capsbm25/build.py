"""Build orchestrator — the analog of ``Suffix_Array::construct()``
(/root/reference/src/Suffix_Array.cpp:466-494: a stage sequencer with
per-stage wall-clock instrumentation), plus what the reference lacks:
partition-grained checkpoint/resume, lineage, and build metrics.

Input contract (checked on the driver before any job): conv_id is a
string, turn_idx is integral (tinyint/smallint/int/bigint), neither is
null. doc_stats keeps the source turn_idx type.

Stages (each records a manifest row; resume skips rows marked done):

  plan        seeded sample -> PartitionPlan, persisted verbatim
              into the manifest together with the doc-id plan
              (splitters + offsets, computed first by one bounded job
              over the key columns) — the lineage of both shuffles
  pairs       FUSED id-assignment + run packing + doc-stats emission:
              one exchange moves the corpus text from the scan into
              run packing, ids assigned from the persisted id plan
              inside the same Arrow pass (identical ids to
              assign_doc_ids — differential-tested); the pass also
              emits packed per-doc (conv_id, turn_idx, dl) rows under
              pairs/wave=-1, and an Observation on the write yields N
              and avgdl (corpus_stats.json). Runs staged to <out>/pairs
              partitioned by wave — the double-buffer analog
              (Suffix_Array.hpp:33-34) and the resume anchor
  wave=K      range shuffle + sort + assemble for part_ids in wave K,
              written to <out>/postings/wave=K, one wave at a time
  docs        unpack pairs/wave=-1 into the doc_stats table — a cheap
              narrow job run on a pool thread behind the waves
  hot_merge   salted-partial stitch -> <out>/postings/wave=9999
  dictionary  narrow (term, part_id, df, cf, tlen) side index

Every wave is verified by a read-back checksum (xxhash64 aggregate) —
the spirit of the reference's is_sorted() validation hook
(Suffix_Array.cpp:512-536) applied to the persisted artifact.

Resume fails closed: it reuses the plan record's id plan,
corpus_stats.json and pairs/wave=-1 instead of recomputing them, and
refuses a manifest that lacks any of them (see _resume_id_plan).
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from capsbm25.config import BuildConfig
from capsbm25.docids import IdPlan, compute_id_plan
from capsbm25.partition import PartitionPlan, plan_from_sample
from capsbm25.catalog import arrow_collect, write_table
from capsbm25.postings import (
    POSTINGS_SCHEMA,
    assemble_postings,
    extract_pairs,
    extract_runs,
    merge_hot_partials,
)

# accepted turn_idx types -> the numpy dtype doc_stats is unpacked to
_TURN_IDX_NP = {"tinyint": "int8", "smallint": "int16", "int": "int32",
                "bigint": "int64"}


@dataclass
class BuildResult:
    out_dir: str
    N: int
    avgdl: float
    plan: PartitionPlan
    metrics: dict


class Manifest:
    """Append-only JSONL build manifest (per-stage lineage + metrics)."""

    def __init__(self, out_dir: str):
        self.path = os.path.join(out_dir, "build_manifest.jsonl")
        # appends can come from concurrent stage threads (the deferred
        # wave checksums, the doc_stats unpack) — serialize them so two
        # records can't interleave bytes within one line
        self._lock = threading.Lock()

    def records(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            lines = [ln for ln in f if ln.strip()]
        out = []
        for ln in lines:
            try:
                out.append(json.loads(ln))
            except json.JSONDecodeError:
                # a crash mid-append tears the then-final line; add()
                # starts recovery appends on a fresh line, so a torn
                # fragment can later sit MID-file. Skipping it (with a
                # warning) keeps resume working after the exact failure
                # it exists for — a torn row was never marked done, so
                # its stage simply re-runs.
                import logging

                logging.getLogger(__name__).warning(
                    "skipping torn manifest line in %s: %.60r",
                    self.path, ln)
        return out

    def done(self, stage: str) -> dict | None:
        for r in self.records():
            if r["stage"] == stage and r["status"] == "done":
                return r
        return None

    def add(self, stage: str, status: str, started: float, **kw) -> dict:
        rec = {
            "stage": stage,
            "status": status,
            "started_ts": started,
            "finished_ts": time.time(),
            **kw,
        }
        # a crash-torn final line has no trailing newline; appending
        # directly onto it would garble BOTH records (and the torn
        # fragment would no longer be last, so records() would raise) —
        # start on a fresh line whenever the file doesn't end with one
        with self._lock:
            lead = ""
            if os.path.exists(self.path):
                with open(self.path, "rb") as f:
                    f.seek(0, os.SEEK_END)
                    if f.tell():
                        f.seek(-1, os.SEEK_END)
                        lead = "" if f.read(1) == b"\n" else "\n"
            with open(self.path, "a") as f:
                f.write(lead + json.dumps(rec) + "\n")
        return rec


def _checksum(df: DataFrame) -> tuple[int, int]:
    cols = [F.col(c) for c in ("term", "df", "cf")]
    row = df.agg(
        F.coalesce(F.bit_xor(F.xxhash64(*cols)), F.lit(0)).alias("h"),
        F.count("*").alias("n"),
    ).collect()[0]
    return int(row["h"]), int(row["n"])


def _check_input_schema(transcripts: DataFrame) -> str:
    """The key-column half of the input contract, checked off the schema
    (no job); nulls are counted by the id-plan scan. Returns turn_idx's
    type, which doc_stats keeps."""
    types = {f.name: f.dataType.simpleString()
             for f in transcripts.schema.fields}
    conv = types.get("conv_id", "missing")
    if conv != "string":
        raise ValueError(
            f"conv_id must be string, got {conv}; cast it first: "
            "transcripts.withColumn('conv_id', F.col('conv_id')"
            ".cast('string'))")
    turn = types.get("turn_idx", "missing")
    if turn not in _TURN_IDX_NP:
        raise ValueError(
            f"turn_idx must be tinyint/smallint/int/bigint, got {turn}; "
            "cast it first: transcripts.withColumn('turn_idx', "
            "F.col('turn_idx').cast('long'))")
    return turn


def _resume_id_plan(man: Manifest, out_dir: str) -> IdPlan | None:
    """Fail-closed resume: the plan record's persisted id plan (None when
    the plan stage is not done yet). A resumed build reads the id plan,
    corpus_stats.json and pairs/wave=-1 instead of recomputing them, so
    a manifest whose done stages lack any of them — written before the
    fused doc-stats layout, or damaged — is refused outright."""
    plan_rec, pairs_rec = man.done("plan"), man.done("pairs")
    id_plan = (IdPlan.from_json(plan_rec["id_plan"])
               if plan_rec and plan_rec.get("id_plan") else None)
    why = None
    if (plan_rec or pairs_rec) and id_plan is None:
        why = "the plan record carries no id_plan"
    elif pairs_rec and not os.path.exists(
            os.path.join(out_dir, "corpus_stats.json")):
        why = "pairs is done but corpus_stats.json is missing"
    elif pairs_rec and id_plan.n_rows and not os.path.isdir(
            os.path.join(out_dir, "pairs", "wave=-1")):
        why = "pairs is done but pairs/wave=-1 is missing"
    if why:
        raise RuntimeError(
            f"cannot resume {out_dir}: {why} (pre-fused layout — rebuild "
            "with resume=False)")
    return id_plan


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    cfg: BuildConfig | None = None,
    resume: bool = False,
) -> BuildResult:
    """Build the full index under out_dir. resume=True skips the stages
    the manifest records as done, or refuses with a RuntimeError when
    their outputs cannot be reused (see _resume_id_plan)."""
    cfg = cfg or BuildConfig()
    turn_ddl = _check_input_schema(transcripts)
    from capsbm25.session import configure_session

    # engine-owned session tunings (listing threshold, concurrent
    # writers) — previously bench-only, so user sessions paid a
    # distributed-listing job per partitioned read (see session.py)
    configure_session(spark, out_dir)
    if not resume and os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    man = Manifest(out_dir)
    metrics: dict = {}

    def record(stage, t0, end=None, **kw):
        # end: when the stage's own work finished, if that precedes the
        # record (a deferred read-back check runs in between); the
        # manifest's finished_ts stays the record time either way
        rec = man.add(stage, "done", t0, **kw)
        sec = (end or rec["finished_ts"]) - t0
        metrics[stage] = {"sec": round(sec, 3), **kw}

    def checked(stage, t0, dst, end, obs=None):
        # the deferred read-back checksum of a stage that ended at end,
        # timed apart from it (check_s); obs: a wave's pair/run counts
        t_chk = time.time()
        h, n = _checksum(spark.read.parquet(dst))
        kw = {"check_s": round(time.time() - t_chk, 3)}
        if obs is not None:
            m = obs.get
            kw.update(pairs=int(m["pairs"] or 0), runs=int(m["runs"]))
        record(stage, t0, end, rows=n, checksum=h, **kw)

    def skipped(stage) -> bool:
        if resume and man.done(stage):
            metrics[stage] = {"skipped": True}
            return True
        return False

    def timed(stage, fn):
        t0 = time.time()
        if not skipped(stage):
            record(stage, t0, **(fn() or {}))

    stats_path = os.path.join(out_dir, "doc_stats")
    pairs_path = os.path.join(out_dir, "pairs")
    postings_path = os.path.join(out_dir, "postings")
    corpus_path = os.path.join(out_dir, "corpus_stats.json")

    id_plan = _resume_id_plan(man, out_dir) if resume else None
    pool = ThreadPoolExecutor(max_workers=2)
    futs: list = []  # deferred checksum/record threads + docs unpack
    try:
        # --- doc-id plan: one bounded job over the key columns (it also
        #     rejects null keys); a resumed build reuses the plan
        #     record's copy, so N is known before the plan stage ---
        t_idplan = time.time()
        if id_plan is None:
            id_plan = compute_id_plan(transcripts, cfg)
        metrics["id_plan"] = {"sec": round(time.time() - t_idplan, 3)}
        N = id_plan.n_rows
        # adaptive partitioning resolves HERE, the first point N is known
        cfg = cfg.resolve_parts(N)

        # --- stage: plan (samplesort splitters + hot terms; lineage) ---
        def stage_plan():
            target = cfg.num_part_ids * cfg.samples_per_part
            frac = cfg.sample_fraction or min(1.0, target / max(1, N * 20))
            # only the term/tf distribution matters for splitters;
            # row-local ids keep the sample scan narrow (no id shuffle)
            sample_src = transcripts.sample(
                fraction=frac, seed=cfg.seed
            ).select(
                F.monotonically_increasing_id().alias("doc_id"), "text"
            )
            sample = extract_pairs(sample_src, cfg)
            plan = plan_from_sample(
                arrow_collect(sample.select("term", "tf")), cfg)
            return {"plan": plan.to_json(), "sample_fraction": frac,
                    "id_plan": id_plan.to_json()}

        timed("plan", stage_plan)
        plan = PartitionPlan.from_json(man.done("plan")["plan"])

        # --- stage: pairs (staged, wave-partitioned — the resume anchor;
        #     FUSED: the id exchange feeds run packing directly, so
        #     tokenize + tf + dl + id assignment + part assignment + RUN
        #     PACKING happen in ONE Arrow pass over the shuffled corpus:
        #     what lands on disk / crosses the wave shuffles is one
        #     delta+varint run per (term, part_id, task), not raw pairs,
        #     and the corpus text is never written between scan and
        #     runs) ---
        def stage_pairs():
            # interleave part_ids across waves (mod, not contiguous
            # blocks): normal parts carry many small terms
            # (run-count-heavy), salted hot parts carry few fat runs
            # (pair-mass-heavy) — contiguous blocks put all of one kind
            # in one wave and the wave durations skewed ~6x at 10M
            # turns; interleaving balances both axes.
            # doc-stats rows ride part_id=-1 -> wave=-1, a staging dir
            # the wave loop below never assembles
            pw = extract_runs(
                transcripts.select("conv_id", "turn_idx", "text"),
                cfg, plan=plan, id_plan=id_plan, emit_doc_stats=True,
            ).withColumn(
                "wave",
                F.when(F.col("part_id") < 0, F.lit(-1))
                .otherwise(F.col("part_id") % cfg.num_waves).cast("int"),
            )
            obs = Observation("pairs")
            real = F.col("part_id") >= 0
            pw = pw.observe(
                obs,
                F.count(F.when(real, F.lit(1))).alias("runs"),
                F.sum(F.when(real, F.col("n"))).alias("pairs"),
                F.sum(F.when(~real, F.col("n"))).alias("n_docs"),
                F.sum(F.when(~real, F.col("last_doc"))).alias("sum_dl"),
            )
            write_table(pw, pairs_path, partition_by=["wave"])
            m = obs.get
            n = int(m["n_docs"] or 0)
            if n != N:
                raise RuntimeError(
                    f"corpus changed mid-build: id plan counted {N} rows, "
                    f"the run extraction saw {n}"
                )
            with open(corpus_path, "w") as f:
                json.dump({"N": n,
                           "avgdl": (m["sum_dl"] or 0) / n if n else 0.0,
                           "config": cfg.persist_dict()}, f)
            return {"rows": int(m["pairs"] or 0), "runs": int(m["runs"] or 0),
                    "n_docs": n, "sum_dl": int(m["sum_dl"] or 0)}

        timed("pairs", stage_pairs)
        # written by stage_pairs before its manifest record, so a done
        # pairs stage implies it exists (checked up front on resume)
        with open(corpus_path) as f:
            corpus = json.load(f)
        avgdl = corpus["avgdl"]

        # --- stage: docs (unpack pairs/wave=-1 into the doc_stats
        #     table — a cheap narrow job, submitted to the pool AFTER the
        #     waves so it back-fills the hot_merge / dictionary /
        #     checksum tail (small jobs that leave idle slots) instead
        #     of contending with the core-saturated wave exchanges
        #     (measured: wave0 +0.2s at 211k, +1-2s at 1.05M when
        #     submitted before the waves); joined before return) ---
        stats_src = os.path.join(pairs_path, "wave=-1")
        turn_np = _TURN_IDX_NP[turn_ddl]
        stats_ddl = (f"doc_id long, conv_id string, "
                     f"turn_idx {turn_ddl}, dl long")

        def stage_docs():
            import numpy as np
            import pandas as pd

            if os.path.isdir(stats_src):
                def unpack(it):
                    for pdf in it:
                        for r in pdf.itertuples(index=False):
                            n = int(r.n)
                            ids = np.frombuffer(r.doc_ids, np.int64)
                            turns = np.frombuffer(r.tfs, np.int64)
                            dls = np.frombuffer(r.dls, np.int64)
                            convs = (r.pos.decode("utf-8").split("\x00")
                                     if n else [])
                            if not (len(ids) == len(turns) == len(dls)
                                    == len(convs) == n):
                                raise ValueError(
                                    "packed doc-stats row is "
                                    f"inconsistent: n={n} ids="
                                    f"{len(ids)} convs={len(convs)}")
                            yield pd.DataFrame({
                                "doc_id": ids,
                                "conv_id": convs,
                                "turn_idx": turns.astype(turn_np),
                                "dl": dls,
                            })

                stats = spark.read.parquet(stats_src).mapInPandas(
                    unpack, schema=stats_ddl)
            else:  # empty corpus: no stats rows were emitted
                stats = spark.createDataFrame([], schema=stats_ddl)
            obs = Observation("docs")
            stats = stats.observe(obs, F.count(F.lit(1)).alias("n"))
            write_table(stats, stats_path)
            n = int(obs.get["n"])
            if n != N:
                raise RuntimeError(
                    f"doc_stats unpack wrote {n} rows for a {N}-row corpus")
            return {"rows": n, **corpus}

        # --- stages: per-wave assembly, one wave at a time; each wave's
        #     read-back checksum (a light column-pruned scan) runs on
        #     the pool thread and back-fills the NEXT wave's ramp-up — a
        #     small job under a saturated one costs ~nothing, whereas
        #     overlapping two full assemblies only adds contention on a
        #     core-saturated box. The manifest record is appended by the
        #     checksum thread, so a crash in that window re-runs the
        #     wave on resume. (An all-empty corpus produces no wave dirs
        #     — valid, zero postings.) ---
        # (wave=-1 is the packed doc-stats staging dir)
        waves = sorted(int(d[len("wave="):]) for d in os.listdir(pairs_path)
                       if d.startswith("wave=") and d != "wave=-1")
        for w in waves:
            stage = f"wave={w}"
            t0 = time.time()
            if skipped(stage):
                continue
            wave_runs = spark.read.parquet(
                os.path.join(pairs_path, f"wave={w}"))
            obs = Observation(f"wave{w}")
            wave_runs = wave_runs.observe(
                obs, F.count(F.lit(1)).alias("runs"),
                F.sum("n").alias("pairs"))
            out = assemble_postings(wave_runs, plan, cfg)
            dst = os.path.join(postings_path, f"wave={w}")
            # partition the persisted postings BY part_id: a part_id is
            # one contiguous term range of the samplesort plan (or one
            # salted hot term), so every physical file covers exactly
            # one term range and a query's In(term) predicate prunes to
            # ~one file per wave via row-group/file stats — guaranteed
            # pruning at any corpus scale instead of relying on how the
            # hash exchange happened to group part_ids into tasks
            # (layout-asserted in tests/test_plans.py)
            write_table(out, dst, partition_by=["part_id"])

            futs.append(pool.submit(checked, stage, t0, dst, time.time(),
                                    obs))

        futs.append(pool.submit(timed, "docs", stage_docs))

        # --- stage: hot-term partial merge (boundary fix-up) ---
        # The merge reads the waves' persisted files (written above,
        # synchronously) but not their checksums, so outstanding
        # checksum threads keep running underneath it; they are joined
        # before returning.
        t_hot = time.time()
        if not skipped("hot_merge"):
            dst = os.path.join(postings_path, "wave=9999")
            # drop any stale wave=9999 from a CRASHED prior hot_merge
            # attempt BEFORE building the read relation: the lazy merge
            # would otherwise list those files, and write_hot's
            # overwrite of the same subtree deletes them under the
            # running scan (FileNotFoundException on every resume
            # retry). This stage's output is derived purely from the
            # wave!=9999 inputs, so a partial leftover is always safe
            # to discard.
            if os.path.isdir(dst):
                shutil.rmtree(dst)
            # partial rows exist iff the plan salted hot terms: hot
            # terms come from the plan SAMPLE, so each one has >= 1
            # corpus pair and thus >= 1 partial posting row. Deciding
            # off plan.hot_terms (driver-side) needs no probe job, and
            # the read prunes to the reserved hot part range (part_id
            # is a partition column, so normal waves' directories are
            # never listed into the scan).
            if not plan.hot_terms or not os.path.isdir(postings_path):
                # a 0-row frame yields no part_id dirs under partitionBy
                # and load_postings on an all-empty corpus would find no
                # schema-bearing file; write the empty file INSIDE a
                # part_id=0 dir so the directory depth stays consistent
                # with the partitioned waves
                empty = spark.createDataFrame([], POSTINGS_SCHEMA)
                write_table(empty.drop("part_id"),
                            os.path.join(dst, "part_id=0"))
            else:
                partials = spark.read.parquet(postings_path).where(
                    (F.col("part_id") >= plan.n_normal) & F.col("partial"))
                merged = merge_hot_partials(partials.drop("wave"), cfg)
                write_table(merged, dst, partition_by=["part_id"])

            # checksum read-back overlaps the dictionary scan below;
            # sec ends here, on this thread, at the end of merge + write
            futs.append(pool.submit(checked, "hot_merge", t_hot, dst,
                                    time.time()))

        # --- stage: term dictionary (expansion-family side index) ---
        # One narrow row per (term, part_id) with df/cf — the analog of
        # the reference's sorted term order enabling upper_bound range
        # scans (/root/reference/src/Suffix_Array.cpp:252-297) and of
        # Lucene's term-dictionary FST. fuzzy/wildcard/prefix predicates
        # evaluate against THESE rows (no payload columns in the file at
        # all), then prune the postings scan by the matched
        # In(term)/In(part_id) (query.py _expansion_matched). Written
        # sorted by term so row-group min/max stats prune prefix scans.
        # Cost: one column-pruned agg-free scan of the final postings +
        # a tiny write.
        def stage_dict():
            d = (
                load_postings(spark, out_dir)
                .select(
                    "term", "part_id", "df", "cf",
                    # term length, persisted so fuzzy's |len diff| <=
                    # max_edits window is a PUSHED range predicate
                    # (parquet row-group min/max) instead of a computed
                    # filter — the FST-automaton / sorted-range analog
                    # for edit-distance candidate pruning
                    # (query.fuzzy_topk)
                    F.length("term").cast("int").alias("tlen"),
                )
                .sortWithinPartitions("term")
            )
            write_table(d, os.path.join(out_dir, "dictionary"))
            return {}

        timed("dictionary", stage_dict)
        # join the deferred checksum/record threads and the overlapped
        # doc_stats unpack (error propagation: a failed read-back or
        # unpack still fails the build)
        for f in futs:
            f.result()
        return BuildResult(out_dir, N, avgdl, plan, metrics)
    finally:
        # joins the pool threads on every exit path, so a stage failure
        # never leaves a dangling Spark job behind the caller's back
        pool.shutdown(wait=True)


def load_postings(spark: SparkSession, out_dir: str) -> DataFrame:
    """Final postings: all waves, salted partials replaced by merged.

    The partitioned layout holds hundreds of part_id dirs, and Spark's
    default parallelPartitionDiscovery.threshold=32 turns the eager
    file listing at read time into a distributed JOB (~1s at 512 dirs
    on a local fs). Rather than retune the caller's session globally
    (their own highly-partitioned object-store tables read in the same
    session want distributed listing), the raised threshold is SCOPED
    to this read — file listing happens while the relation resolves,
    so set/restore around spark.read.parquet covers it. Sessions that
    want the tuning durable call session.configure_session themselves
    (build_index and the streaming ingest entry points do)."""
    from capsbm25.session import scoped_listing_threshold

    with scoped_listing_threshold(spark, out_dir):
        df = spark.read.parquet(os.path.join(out_dir, "postings"))
    return df.where(~F.col("partial"))


# per-(application, path, mtime) cache of the dictionary DataFrame:
# expansion queries open the dictionary on EVERY call, and re-reading
# the parquet (plus its listing) dominated round-5's fuzzy/wildcard
# latency. mtime keys rebuilds-in-place to a fresh cache entry.
_DICT_CACHE: dict = {}


def load_dictionary(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """Term dictionary side index (term, part_id, df, cf, tlen)
    persisted by the build's dictionary stage; None for indexes that
    predate it or streaming segment dirs (expansion queries then fall
    back to a pruned projection of the postings — see
    query._expansion_matched). The returned DataFrame is CACHED
    (Spark .cache(), keyed by application + path + mtime): the
    dictionary is the hot side of every expansion query and is tiny
    relative to the postings, so repeated queries pay zero read cost.
    Callers wanting an uncached read (e.g. plan-pushdown inspection)
    can spark.read.parquet the path directly."""
    path = os.path.join(out_dir, "dictionary")
    if not os.path.isdir(path):
        return None
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        mtime = 0.0
    key = (spark.sparkContext.applicationId, os.path.abspath(path), mtime)
    df = _DICT_CACHE.get(key)
    if df is None:
        # evict stale entries for the same path (rebuild-in-place or a
        # previous application) so their cached blocks free up
        for k in [k for k in list(_DICT_CACHE) if k[1] == key[1]
                  and k != key]:
            try:
                _DICT_CACHE.pop(k).unpersist()
            except Exception:
                pass
        df = spark.read.parquet(path).cache()
        # materialize eagerly: Lucene loads the term index at segment
        # open, and the first expansion query should not pay the read
        # + cache fill inside its own latency (the dictionary is tiny
        # — vocab-sized narrow rows)
        df.count()
        _DICT_CACHE[key] = df
    return df


def load_doc_stats(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-doc metadata written by the build's docs stage:
    (doc_id, conv_id, turn_idx, dl). The intended source for
    bm25_topk(doc_filter=...) — e.g.
    load_doc_stats(spark, out).where(F.col("conv_id").isin([...]))
    .select("doc_id"); predicates on conv_id/turn_idx push down to
    the parquet scan."""
    return spark.read.parquet(os.path.join(out_dir, "doc_stats"))


def load_corpus_stats(out_dir: str) -> dict:
    with open(os.path.join(out_dir, "corpus_stats.json")) as f:
        return json.load(f)


def index_stats(spark: SparkSession, out_dir: str) -> dict:
    """Operator-facing index summary: corpus stats, posting/byte sizes,
    hot-term inventory — one aggregate job over the final postings."""
    corpus = load_corpus_stats(out_dir)
    p = load_postings(spark, out_dir)
    row = p.agg(
        F.count("*").alias("terms"),
        F.sum("df").alias("postings"),
        F.sum(F.length("doc_ids") + F.length("tfs") + F.length("dls")
              + F.length("pos")).alias("payload_bytes"),
        F.max("df").alias("max_df"),
    ).collect()[0]
    top = [
        {"term": r["term"], "df": int(r["df"])}
        for r in p.select("term", "df").orderBy(F.desc("df"), "term")
        .limit(10).collect()
    ]
    n_post = int(row["postings"] or 0)
    return {
        "N": corpus["N"],
        "avgdl": corpus["avgdl"],
        "config": corpus.get("config", {}),
        "terms": int(row["terms"]),
        "postings": n_post,
        "payload_bytes": int(row["payload_bytes"] or 0),
        "bytes_per_posting": round(
            (row["payload_bytes"] or 0) / max(n_post, 1), 3
        ),
        "max_df": int(row["max_df"] or 0),
        "top_terms": top,
    }


def load_build_config(out_dir: str, base: BuildConfig | None = None) -> BuildConfig:
    """The query-time config contract: runtime knobs come from `base`,
    but build-shaped fields (block_size, k1, b, token_pattern,
    max_token_len) are ADOPTED from the index's persisted metadata —
    a caller's mismatched tokenizer or k1/b would skew scores vs the
    stored postings; block_size shapes the kernel's recomputed
    per-block bounds."""
    persisted = load_corpus_stats(out_dir).get("config", {})
    return (base or BuildConfig()).adopt(persisted)
