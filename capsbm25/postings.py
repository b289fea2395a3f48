"""Posting-list construction: pair extraction, range shuffle, bounded
merge/assembly, and the salted-hot-term fix-up.

Pipeline stage mapping to the reference (SURVEY.md §2/§3):

  extract_pairs        ~ normalization scan + local work
                         (/root/reference/src/main.cpp:61-70) — one
                         Arrow kernel: tokenize, per-doc tf, dl; no
                         shuffle (tf is computable doc-locally, unlike
                         a naive explode+groupBy which would shuffle
                         every token occurrence). Used for plan
                         sampling and standalone pair entries.
  extract_runs         ~ independent subarray sort (:300-368) — the
                         BUILD path since round 2: the same Arrow pass
                         additionally packs each task's (term, part_id)
                         groups into delta+varint sorted RUNS, so the
                         exchange carries ~final-index bytes (term
                         string once per run) instead of raw pairs.
  with_part_id         ~ locate_pivots (Suffix_Array.cpp:225-249) —
                         vectorized searchsorted against the plan.
  assemble_postings    ~ partition_sub_subarrays + merge_sub_subarrays
                         (:300-368, :371-428): ONE hash exchange on
                         part_id over run rows, Tungsten
                         sortWithinPartitions (external sort with spill
                         — strictly better than the reference's
                         RAM-only merge), then an Arrow merge kernel
                         (batch varint decode + segmented cumsum)
                         folding each term's runs into one posting row.
  merge_hot_partials   ~ compute_partition_boundary_lcp (:431-447):
                         the same merge walk after a hash exchange on
                         term — stitches the salted partials of hot
                         terms, and merges whole segments in compaction.

Posting row schema (FIXTURES.md §3, plus dls so queries never join a
10^12-row doc_stats table — doc lengths travel with the posting):
  term, df, cf, doc_ids (delta+varint), tfs (varint), dls (varint),
  pos (per-pair positions, b"" unless cfg.index_positions),
  part_id, partial
"""

from __future__ import annotations

from itertools import chain

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from capsbm25.codec import (decode_pair_positions, decode_varints,
                            encode_varints_grouped, permute_pair_payload,
                            sorted_member_mask)
from capsbm25.config import BuildConfig
from capsbm25.partition import PartitionPlan

PAIRS_SCHEMA = "term string, doc_id long, tf int, dl int"
# Map-side packed sorted runs — what actually crosses the build shuffle.
# One row per (term, part_id) per map-task flush window instead of one
# row per (term, doc) pair: the term string is shipped ONCE per run, and
# doc/tf/dl travel delta+varint-packed, so exchange bytes approach the
# size of the final index instead of ~24B+term per posting entry. This
# is the shuffle-volume optimization SURVEY.md §6 plans as a term-id
# dictionary, strengthened: runs also remove the need to decode ids back
# to strings (the run carries its term) and shrink the rows the Tungsten
# sort touches by orders of magnitude.
RUNS_SCHEMA = (
    "term string, part_id int, first_doc long, last_doc long, n long, "
    "doc_ids binary, tfs binary, dls binary, pos binary"
)
RUNS_COLS = [
    "term", "part_id", "first_doc", "last_doc", "n", "doc_ids", "tfs",
    "dls", "pos",
]
# pos: in-document token positions, delta+varint per pair, pair sizes
# given by the decoded tfs (b"" unless cfg.index_positions).
# (round 8: the stored block_max column is GONE — no query path ever
# read it: the WAND kernel recomputes exact per-block uppers from the
# decoded scores, which stay correct under incremental segments where
# stored bounds go stale, and the distributed path prunes at the entry
# level post-decode. Building it cost one full scoring pass per wave
# plus the widest non-payload column in every scan/Arrow transfer.
# Indexes written by earlier rounds still read fine — the extra
# column is simply never selected.)
POSTINGS_SCHEMA = (
    "term string, df long, cf long, doc_ids binary, tfs binary, dls binary, "
    "pos binary, part_id int, partial boolean"
)
POSTINGS_COLS = [
    "term", "df", "cf", "doc_ids", "tfs", "dls", "pos",
    "part_id", "partial",
]


def _batch_pairs(
    pdf: pd.DataFrame,
    tok,
    with_pos: bool = False,
    with_doc_lens: bool = False,
):
    """Vectorized (term, doc_id, tf, dl) extraction for one Arrow batch.
    tok: Series -> Series-of-token-lists from
    tokenize.make_series_tokenizer (regex words, or overlapping
    chargrams — identical downstream path; truncation to max_token_len
    is the tokenizer's job).

    with_pos=True additionally returns the flat array of in-document
    token positions, grouped by pair in the same order as the returned
    rows (pair i owns positions[cumtf[i-1]:cumtf[i]], each strictly
    increasing) — the payload for phrase queries (in chargram mode,
    position == char offset, which makes phrase machinery over
    chargrams exact substring search).

    with_doc_lens=True returns (out, posflat_or_None, doc_lens) where
    doc_lens is the per-INPUT-ROW token count (dl for every doc,
    including zero-token docs that produce no pairs) — the fused
    doc_stats emission reads it so the build never tokenizes the
    corpus a second time just to count."""
    toks = tok(pdf["text"])
    lens = toks.map(len).to_numpy(dtype=np.int64)
    total = int(lens.sum())
    if total == 0:
        out = pd.DataFrame(
            {"term": pd.Series(dtype=object), "doc_id": pd.Series(dtype=np.int64),
             "tf": pd.Series(dtype=np.int32), "dl": pd.Series(dtype=np.int32)}
        )
        if with_doc_lens:
            return out, (np.zeros(0, dtype=np.int64) if with_pos else None), lens
        return (out, np.zeros(0, dtype=np.int64)) if with_pos else out
    flat = np.fromiter(chain.from_iterable(toks), dtype=object, count=total)
    rows = np.repeat(np.arange(len(pdf), dtype=np.int64), lens)
    codes, uniq = pd.factorize(flat, sort=False)
    order = np.lexsort((codes, rows))
    r, c = rows[order], codes[order]
    newgrp = np.ones(r.size, dtype=bool)
    np.not_equal(r[1:], r[:-1], out=newgrp[1:])
    newgrp[1:] |= c[1:] != c[:-1]
    starts = np.flatnonzero(newgrp)
    counts = np.diff(np.append(starts, r.size))
    ids = pdf["doc_id"].to_numpy(dtype=np.int64)
    out = pd.DataFrame(
        {
            "term": np.asarray(uniq, dtype=object)[c[starts]],
            "doc_id": ids[r[starts]],
            "tf": counts.astype(np.int32),
            "dl": lens[r[starts]].astype(np.int32),
        }
    )
    if not with_pos:
        return (out, None, lens) if with_doc_lens else out
    # in-doc position of each token; lexsort is stable, so within one
    # (row, code) pair group the original (ascending) order is preserved
    row_start = np.concatenate(([0], np.cumsum(lens)[:-1]))
    pos = (np.arange(total, dtype=np.int64) - row_start[rows])[order]
    return (out, pos, lens) if with_doc_lens else (out, pos)


def extract_pairs(
    docs: DataFrame,
    cfg: BuildConfig | None = None,
    plan: PartitionPlan | None = None,
) -> DataFrame:
    """docs(doc_id, text) -> (term, doc_id, tf, dl[, part_id]).

    Map-side only (tf/dl are doc-local, so no shuffle — unlike a naive
    explode+groupBy, which measured 4x slower at bench scale). When a
    plan is given, the samplesort part_id assignment is fused into the
    same Arrow pass instead of a second kernel over all pairs.
    """
    cfg = cfg or BuildConfig()
    from capsbm25.tokenize import make_series_tokenizer

    tok = make_series_tokenizer(cfg)
    schema = PAIRS_SCHEMA + (", part_id int" if plan is not None else "")

    def kernel(it):
        for pdf in it:
            out = _batch_pairs(pdf, tok)
            if plan is not None:
                out["part_id"] = plan.assign(
                    out["term"].to_numpy(dtype=object), out["doc_id"].to_numpy()
                )
            yield out

    return docs.select("doc_id", "text").mapInPandas(kernel, schema=schema)


def _doc_stats_frame(seg: pd.DataFrame, lens: np.ndarray) -> pd.DataFrame:
    """Pack one RUNS-schema row carrying a segment's doc stats — the
    fused doc_stats emission (build.py stages it under pairs/wave=-1
    and a cheap overlapped job unpacks it into the doc_stats table, so
    the build never pays a second full-corpus tokenize pass just for
    dl). Field repurposing, local to this staging row kind:
    term="" (impossible for a real token), part_id=-1 (below every
    plan part), doc_ids/tfs/dls hold RAW little-endian int64 doc_id /
    turn_idx / dl arrays (not varints — turn_idx carries no sign or
    monotonicity guarantee), pos holds the \\x00-joined conv_id
    strings, n the doc count, last_doc the segment's summed dl."""
    ids = seg["doc_id"].to_numpy(dtype=np.int64)
    turns = seg["turn_idx"].to_numpy(dtype=np.int64)
    joined = "\x00".join(seg["conv_id"].astype(str))
    if joined.count("\x00") != len(seg) - 1:
        raise ValueError(
            "conv_id contains a NUL codepoint — unsupported (the doc-id "
            "key separator must sort below every conv_id character)")
    return pd.DataFrame([{
        "term": "", "part_id": -1,
        "first_doc": int(ids[0]), "last_doc": int(lens.sum()),
        "n": len(seg),
        "doc_ids": ids.tobytes(), "tfs": turns.tobytes(),
        "dls": lens.tobytes(), "pos": joined.encode("utf-8"),
    }], columns=RUNS_COLS)


def extract_runs(
    docs: DataFrame,
    cfg: BuildConfig | None = None,
    plan: PartitionPlan | None = None,
    flush_pairs: int = 4_000_000,
    id_plan=None,
    emit_doc_stats: bool = False,
) -> DataFrame:
    """docs(doc_id, text) -> packed sorted RUNS (see RUNS_SCHEMA).

    id_plan (capsbm25.docids.IdPlan): FUSED mode — docs is the raw
    corpus (conv_id, turn_idx, text) WITHOUT ids; the id shuffle
    (part_of -> repartition -> sortWithinPartitions) happens here and
    ids are assigned inside the same Arrow pass that packs runs. This
    removes the staged-docs parquet roundtrip from the build: the text
    column crosses ONE exchange and never hits disk between scan and
    run packing. Ids are identical to assign_doc_ids with the same
    plan (same splitters/offsets/within-part sort; differential-tested).

    Map-side only, the independent-subarray-sort stage of the samplesort
    graft (/root/reference/src/Suffix_Array.cpp:300-368): each task
    tokenizes its doc range and emits one delta+varint run per
    (term, part_id) per flush window. flush_pairs bounds task memory:
    past the threshold the buffered pairs flush as finished runs and
    later pairs of the same term simply start a new run.

    Grouping happens ONCE per flush window — batches only append flat
    arrays (docs/tfs/dls/key) plus a task-level term dictionary update;
    a single stable argsort at flush time forms every run. (A per-batch
    python group loop measured superlinear at 10M+ turns: its iteration
    count is batches x batch-distinct-terms.)

    A doc_id order restart inside one task (two staged files coalesced
    into one input split — Arrow batches are re-batched across file
    boundaries, so restarts can occur MID-batch and are split into
    monotonic segments) forces a flush, preserving the strictly-
    increasing-per-run invariant.

    emit_doc_stats=True (fused mode only): the same pass additionally
    yields one packed doc-stats row per segment (see _doc_stats_frame)
    under part_id=-1 — per-doc dl comes from the token lists this pass
    computes anyway, and conv_id/turn_idx ride the id exchange for
    free (they are its sort keys, so the exchange already carries
    them), so the build needs no second full-corpus dl pass. Keys must
    be non-null (compute_id_plan rejects null keys on the driver).
    """
    cfg = cfg or BuildConfig()
    if emit_doc_stats and id_plan is None:
        raise ValueError("emit_doc_stats requires fused id_plan mode")
    from capsbm25.tokenize import make_series_tokenizer

    tok = make_series_tokenizer(cfg)
    n_parts = plan.num_parts if plan is not None else 1
    with_pos = cfg.index_positions

    def kernel(it):
        d_buf: list = []
        t_buf: list = []
        l_buf: list = []
        k_buf: list = []
        p_buf: list = []
        term_ids: dict = {}      # term -> task-level tid
        terms_list: list = []    # tid -> term
        held = 0
        last_doc = -1

        def flush():
            nonlocal held
            if not held:
                return pd.DataFrame([], columns=RUNS_COLS)
            D = np.concatenate(d_buf)
            T = np.concatenate(t_buf)
            L = np.concatenate(l_buf)
            K = np.concatenate(k_buf)
            order = np.argsort(K, kind="stable")  # stable: doc order kept
            Ks = K[order]
            if with_pos:
                P = permute_pair_payload(np.concatenate(p_buf), T, order)
            D, T, L = D[order], T[order], L[order]
            newg = np.ones(Ks.size, dtype=bool)
            newg[1:] = Ks[1:] != Ks[:-1]
            starts = np.flatnonzero(newg)
            sizes = np.diff(np.append(starts, Ks.size))
            ends = starts + sizes
            # doc-id gaps, absolute at each run start; strict-increase
            # check covers cross-batch appends within a window too
            gaps = np.empty_like(D)
            gaps[0] = D[0]
            np.subtract(D[1:], D[:-1], out=gaps[1:])
            gaps[starts] = D[starts]
            interior = np.ones(D.size, dtype=bool)
            interior[starts] = False
            if interior.any() and gaps[interior].min() <= 0:
                raise ValueError("run doc_ids must be strictly increasing")
            doc_b = encode_varints_grouped(gaps, starts)
            tf_b = encode_varints_grouped(T, starts)
            dl_b = encode_varints_grouped(L, starts)
            if with_pos:
                pair_starts = np.concatenate(([0], np.cumsum(T)[:-1]))
                pgaps = np.empty_like(P)
                if P.size:
                    pgaps[0] = P[0]
                    np.subtract(P[1:], P[:-1], out=pgaps[1:])
                    pgaps[pair_starts] = P[pair_starts]
                run_cum = np.concatenate(([0], np.cumsum(T)))
                pos_b = encode_varints_grouped(pgaps, run_cum[starts])
            else:
                pos_b = [b""] * starts.size
            tids = (Ks[starts] // n_parts).astype(np.int64).tolist()
            pids = (Ks[starts] % n_parts).astype(np.int64).tolist()
            firsts = D[starts].tolist()
            lasts = D[ends - 1].tolist()
            sz = sizes.tolist()
            rows = [
                (terms_list[tids[i]], int(pids[i]), int(firsts[i]),
                 int(lasts[i]), int(sz[i]), doc_b[i], tf_b[i], dl_b[i],
                 pos_b[i])
                for i in range(starts.size)
            ]
            d_buf.clear(); t_buf.clear(); l_buf.clear()
            k_buf.clear(); p_buf.clear()
            held = 0
            return pd.DataFrame(rows, columns=RUNS_COLS)

        def accumulate(out, docs_a, posflat):
            nonlocal held
            terms = out["term"].to_numpy(dtype=object)
            pids = (
                plan.assign(terms, docs_a)
                if plan is not None
                else np.zeros(len(out), dtype=np.int32)
            )
            codes, uniq = pd.factorize(terms, sort=False)
            # batch-local codes -> task-level tids (one light dict op
            # per batch-DISTINCT term; no per-group slicing)
            tid_map = np.empty(len(uniq), dtype=np.int64)
            for j, term in enumerate(uniq):
                tid = term_ids.get(term)
                if tid is None:
                    tid = len(terms_list)
                    term_ids[term] = tid
                    terms_list.append(term)
                tid_map[j] = tid
            k_buf.append(tid_map[codes] * n_parts + pids)
            d_buf.append(docs_a)
            t_buf.append(out["tf"].to_numpy(np.int64))
            l_buf.append(out["dl"].to_numpy(np.int64))
            if with_pos:
                p_buf.append(posflat)
            held += len(out)

        for pdf in it:
            # Arrow batches span staged-file boundaries; split into
            # monotonic doc_id segments and flush at every restart
            ids_all = pdf["doc_id"].to_numpy()
            restarts = (np.flatnonzero(ids_all[1:] < ids_all[:-1]) + 1
                        if len(ids_all) > 1 else np.array([], dtype=np.int64))
            bounds = np.concatenate(([0], restarts, [len(pdf)])).astype(np.int64)
            for si in range(len(bounds) - 1):
                seg = pdf.iloc[bounds[si]:bounds[si + 1]]
                if not len(seg):
                    continue
                if emit_doc_stats:
                    out, posflat, seg_lens = _batch_pairs(
                        seg, tok, with_pos=with_pos, with_doc_lens=True)
                    yield _doc_stats_frame(seg, seg_lens)
                elif with_pos:
                    out, posflat = _batch_pairs(seg, tok, with_pos=True)
                else:
                    out, posflat = _batch_pairs(seg, tok), None
                if not len(out):
                    continue
                docs_a = out["doc_id"].to_numpy()
                if held and docs_a[0] <= last_doc:
                    yield flush()  # coalesced-file boundary
                last_doc = int(docs_a[-1])
                accumulate(out, docs_a, posflat)
                if held >= flush_pairs:
                    yield flush()
        if held:
            yield flush()

    if id_plan is not None:
        from capsbm25.docids import batch_id_assigner

        keep = (["part_id", "conv_id", "turn_idx", "text"]
                if emit_doc_stats else ["part_id", "text"])
        src = (
            docs.withColumn(
                "part_id", id_plan.part_of_udf()("conv_id", "turn_idx")
            )
            .repartition(
                min(cfg.shuffle_partitions, len(id_plan.offsets) or 1),
                "part_id",
            )
            .sortWithinPartitions("part_id", "conv_id", "turn_idx")
            .select(*keep)
        )

        def kernel_fused(it):
            ider = batch_id_assigner(id_plan.offsets)

            def with_ids():
                for pdf in it:
                    cols = {
                        "doc_id": ider(pdf["part_id"].to_numpy()),
                        "text": pdf["text"].to_numpy(),
                    }
                    if emit_doc_stats:
                        cols["conv_id"] = pdf["conv_id"].to_numpy()
                        cols["turn_idx"] = pdf["turn_idx"].to_numpy()
                    yield pd.DataFrame(cols)

            yield from kernel(with_ids())

        return src.mapInPandas(kernel_fused, schema=RUNS_SCHEMA)

    return docs.select("doc_id", "text").mapInPandas(kernel, schema=RUNS_SCHEMA)


def with_part_id(pairs: DataFrame, plan: PartitionPlan) -> DataFrame:
    """Attach the logical range-partition id from the samplesort plan."""
    def kernel(it):
        for pdf in it:
            pdf = pdf.copy()
            pdf["part_id"] = plan.assign(
                pdf["term"].to_numpy(dtype=object), pdf["doc_id"].to_numpy()
            )
            yield pdf

    return pairs.mapInPandas(kernel, schema=PAIRS_SCHEMA + ", part_id int")


def _posting_rows(flushes, hot_terms):
    """Turn a list of (term, docs, tfs, dls, part_id[, pos]) into
    posting rows. pos (optional 6th element): flat in-doc token
    positions in pair order (sizes = tfs), delta+varint-encoded with an
    absolute value at every pair start.

    All varint encodes happen in ONE vectorized pass over the
    concatenated flush window (grouped encode) — per-term numpy-call
    overhead would otherwise dominate waves whose terms are small (the
    normal-part wave at 10M+ turns)."""
    n = len(flushes)
    if n == 0:
        return pd.DataFrame([], columns=POSTINGS_COLS)
    docs_l = [np.asarray(f[1], dtype=np.int64) for f in flushes]
    tfs_l = [np.asarray(f[2], dtype=np.int64) for f in flushes]
    dls_l = [np.asarray(f[3], dtype=np.int64) for f in flushes]
    sizes = np.array([d.size for d in docs_l], dtype=np.int64)
    t_starts = np.concatenate(([0], np.cumsum(sizes)[:-1]))
    D = np.concatenate(docs_l)
    T = np.concatenate(tfs_l)
    L = np.concatenate(dls_l)

    # doc-id gaps (absolute at each term start) + strict-increase check
    gaps = np.empty_like(D)
    if D.size:
        gaps[0] = D[0]
        np.subtract(D[1:], D[:-1], out=gaps[1:])
        gaps[t_starts] = D[t_starts]
        interior = np.ones(D.size, dtype=bool)
        interior[t_starts] = False
        if interior.any() and gaps[interior].min() <= 0:
            raise ValueError("doc_ids must be strictly increasing")
    doc_b = encode_varints_grouped(gaps, t_starts)
    tf_b = encode_varints_grouped(T, t_starts)
    dl_b = encode_varints_grouped(L, t_starts)

    partial = np.array([f[0] in hot_terms for f in flushes], dtype=bool)

    # positions payload (phrase support)
    pos_b: list[bytes] = [b""] * n
    if any(len(f) > 5 and f[5] is not None and f[5].size for f in flushes):
        p_l = [
            (f[5] if len(f) > 5 and f[5] is not None
             else np.zeros(0, dtype=np.int64))
            for f in flushes
        ]
        # the delta chain below assumes ONE position per (doc, occurrence)
        # pair across ALL flushes (pair_starts indexes the concatenated
        # P by cumsum of tfs) — a pairs-bearing flush WITHOUT positions
        # would misalign every later flush's payload or overrun P, so
        # mixed input fails loudly instead of silently corrupting
        for f, p in zip(flushes, p_l):
            if p.size != int(f[2].sum()):
                raise ValueError(
                    f"flush for term {f[0]!r} has {p.size} positions for "
                    f"{int(f[2].sum())} occurrences — positional and "
                    "non-positional flushes cannot mix in one batch"
                )
        P = np.concatenate(p_l)
        if P.size:
            pair_starts = np.concatenate(([0], np.cumsum(T)[:-1]))
            pgaps = np.empty_like(P)
            pgaps[0] = P[0]
            np.subtract(P[1:], P[:-1], out=pgaps[1:])
            pgaps[pair_starts] = P[pair_starts]
            run_sizes = np.array([p.size for p in p_l], dtype=np.int64)
            run_starts = np.concatenate(([0], np.cumsum(run_sizes)[:-1]))
            pos_b = encode_varints_grouped(pgaps, run_starts)

    cfs = np.add.reduceat(T, t_starts) if D.size else np.zeros(n)
    out = [
        {
            "term": flushes[i][0],
            "df": int(sizes[i]),
            "cf": int(cfs[i]) if sizes[i] else 0,
            "doc_ids": doc_b[i],
            "tfs": tf_b[i],
            "dls": dl_b[i],
            "pos": pos_b[i],
            "part_id": int(flushes[i][4]),
            "partial": bool(partial[i]),
        }
        for i in range(n)
    ]
    return pd.DataFrame(out, columns=POSTINGS_COLS)


def _merge_walk(
    frame: DataFrame,
    keys: tuple[str, ...],
    count_col: str,
    with_pos: bool,
    hot_terms=frozenset(),
    drop=None,
) -> DataFrame:
    """The one posting merge: fold each contiguous `keys` group of an
    already shuffled and sortWithinPartitions'd frame of delta+varint
    rows (RUNS or POSTINGS schema; `count_col` holds each row's doc
    count) into one posting row.

    Each Arrow batch is decoded ONCE per column — rows are
    self-delimiting, so one varint pass plus a segmented cumsum rebuilds
    absolute doc_ids for the whole batch instead of 3 numpy decode calls
    per row. A group may straddle batches (it is carried), and finished
    groups flush to _posting_rows every 4,096 terms. The emitted part_id
    is the group's first row's, which is its minimum when the sort keys
    put part_id right after `keys`.

    drop: sorted doc ids to remove (see merge_hot_partials); a group
    whose docs are all dropped emits no row."""
    from pyspark.broadcast import Broadcast

    def kernel(it):
        drop_ids = drop.value if isinstance(drop, Broadcast) else drop
        cur: tuple | None = None
        cur_pid = 0
        chunks: tuple[list, ...] = ([], [], [], [])
        flushes = []

        def close():
            d = np.concatenate(chunks[0])
            t = np.concatenate(chunks[1])
            dl = np.concatenate(chunks[2])
            p = np.concatenate(chunks[3]) if with_pos else None
            if drop_ids is not None and drop_ids.size:
                keep = ~sorted_member_mask(drop_ids, d)
                if with_pos:
                    p = p[np.repeat(keep, t)]
                d, t, dl = d[keep], t[keep], dl[keep]
                if not d.size:
                    return
            # Rows are individually strictly increasing, but their RANGES
            # can interleave: the docs stage hash-partitions part_id, so
            # each staged file holds interleaved doc-id stripes and every
            # map task's runs span most of the doc space; so do merged
            # segments. Merge when needed; the O(n) sortedness check
            # keeps the common contiguous case a pure concat. (Doc sets
            # are disjoint, so a duplicate is still caught by the
            # encoder's gap check.)
            if d.size > 1 and (d[1:] <= d[:-1]).any():
                o = np.argsort(d, kind="stable")
                if with_pos:
                    p = permute_pair_payload(p, t, o)
                d, t, dl = d[o], t[o], dl[o]
            flushes.append((cur[0], d, t, dl, cur_pid)
                           + ((p,) if with_pos else ()))

        for pdf in it:
            if not len(pdf):
                continue
            n_arr = pdf[count_col].to_numpy(np.int64)
            starts = np.concatenate(([0], np.cumsum(n_arr)[:-1]))
            total = int(n_arr.sum())
            gaps = decode_varints(b"".join(pdf["doc_ids"])).astype(np.int64)
            tfs = decode_varints(b"".join(pdf["tfs"])).astype(np.int64)
            dls = decode_varints(b"".join(pdf["dls"])).astype(np.int64)
            if gaps.size != total or tfs.size != total or dls.size != total:
                raise ValueError(
                    f"posting payload corrupt: decoded {gaps.size}/"
                    f"{tfs.size}/{dls.size} values, expected {total}"
                )
            c = np.cumsum(gaps)
            prev = np.concatenate(([0], c[starts[1:] - 1]))
            docs = c - np.repeat(prev, n_arr)
            row_bounds = np.append(starts, total)
            if with_pos:
                pos_flat = decode_pair_positions(b"".join(pdf["pos"]), tfs)
                run_pos_bounds = np.concatenate(([0], np.cumsum(tfs)))[
                    row_bounds]
            key_arrs = [pdf[k].to_numpy() for k in keys]
            pids = pdf["part_id"].to_numpy()
            newg = np.ones(len(pdf), dtype=bool)
            newg[1:] = np.logical_or.reduce(
                [a[1:] != a[:-1] for a in key_arrs])
            g_starts = np.flatnonzero(newg)
            g_ends = np.append(g_starts[1:], len(pdf))
            for r0, r1 in zip(g_starts, g_ends):
                kk = tuple(a[r0] for a in key_arrs)
                lo, hi = row_bounds[r0], row_bounds[r1]
                if kk != cur:
                    if cur is not None:
                        close()
                        chunks = ([], [], [], [])
                        if len(flushes) >= 4096:
                            yield _posting_rows(flushes, hot_terms)
                            flushes = []
                    cur, cur_pid = kk, int(pids[r0])
                chunks[0].append(docs[lo:hi])
                chunks[1].append(tfs[lo:hi])
                chunks[2].append(dls[lo:hi])
                if with_pos:
                    chunks[3].append(
                        pos_flat[run_pos_bounds[r0]:run_pos_bounds[r1]])
        if cur is not None:
            close()
        if flushes:
            yield _posting_rows(flushes, hot_terms)

    return frame.mapInPandas(kernel, schema=POSTINGS_SCHEMA)


def assemble_postings(
    runs: DataFrame,
    plan: PartitionPlan,
    cfg: BuildConfig | None = None,
) -> DataFrame:
    """Range shuffle of packed runs + k-way merge into posting rows —
    the merge_sub_subarrays stage (the reference's src/Suffix_Array.cpp:
    371-428), except the runs are pre-sorted with DISJOINT doc ranges,
    so the merge is pure concatenation in first_doc order.

    Invariant: a non-hot term maps to exactly one part_id, and one
    part_id lands in exactly one task after ``repartition(n, part_id)``,
    so every non-hot term yields exactly one posting row with globally
    sorted doc_ids — no second shuffle, no groupBy. The Tungsten sort
    touches only run rows (one per term per map task), not pairs. Hot
    terms yield one partial row per (term, salt part_id), stitched by
    merge_hot_partials. The posting-row encoder re-validates strict
    doc_id increase across run boundaries, so a violated disjoint-range
    assumption fails loudly instead of corrupting the index.
    """
    cfg = cfg or BuildConfig()
    shuffled = runs.repartition(
        cfg.shuffle_partitions, "part_id"
    ).sortWithinPartitions("term", "part_id", "first_doc")
    return _merge_walk(shuffled, ("term", "part_id"), "n",
                       cfg.index_positions, set(plan.hot_terms))


def merge_hot_partials(
    partials: DataFrame, cfg: BuildConfig | None = None,
    drop: "np.ndarray | None" = None,
) -> DataFrame:
    """Merge posting rows into one row per term (boundary fix-up): the
    build's salted hot-term partials, and every term of the segments a
    compaction merges. One hash exchange on term (no partition count,
    so AQE coalesces it), a local sort on (term, part_id), then the
    same walk as assemble_postings grouped on term: a multi-row term is
    merged, a single-row term passes through, and the row keeps the
    term's minimum part_id with partial=False.

    drop: optional SORTED int64 array of doc ids to physically remove
    while merging (compaction applying delete tombstones — the Lucene
    merge-drops-deleted-docs analog), either a plain ndarray or a
    pyspark Broadcast of one (preferred beyond trivial sizes: one copy
    per executor instead of a pickle per task closure). A term whose
    docs are all dropped vanishes (no df=0 rows).
    """
    cfg = cfg or BuildConfig()
    shuffled = partials.repartition("term").sortWithinPartitions(
        "term", "part_id")
    return _merge_walk(shuffled, ("term",), "df", cfg.index_positions,
                       drop=drop)
