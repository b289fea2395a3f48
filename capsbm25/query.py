"""BM25 top-k query execution.

Graft of the reference's search primitive ``upper_bound`` —
LCP-bounded binary search with a skip cutoff
(/root/reference/src/Suffix_Array.cpp:252-297) — onto posting-list
retrieval: the stored order metadata (block-max upper bounds) lets the
scorer skip whole blocks that provably cannot reach the top-k, exactly
as the memoized LCP bounds let the reference skip character compares.

Term queries (``bm25_topk``, ``boolean_topk``) compile to one frame of
role-tagged (query, term) rows — must / should / not, plus n_must and
msm (min_should_match) — run by ``_term_query`` and the runners below.

Execution modes, all rank-identical to the oracle (tested):

* ``kernel``: broadcast-join the (tiny) query-term table
  against postings, then ``groupBy(query_id).applyInPandas`` — one
  Arrow kernel per query does decode + two-phase block-max pruning +
  exact rescoring + heap-free vectorized top-k. This is
  document-at-a-time scoring with WAND-style block skipping; a query
  with MUST, msm or MUST_NOT constraints scores its match set exactly.
* ``distributed``: ``_doc_partials``, the one map-side producer,
  emits per-task-summed (query_id, doc_id, contrib) rows; one
  exchange into (query, doc-salt)
  groups, where ``_fused_combine_topk`` sums each doc and keeps the
  group-local top-k, and a per-query window ranks the survivors.
  Arbitrarily scalable (no single task ever holds a whole hot
  posting) — the mode you'd run against 10^12 turns when a query term
  is pathological.
* ``auto`` (default): per-query Σ df routes each query to kernel or
  distributed (threshold ``max_kernel_df``) — the kernel's speed where
  safe, the distributed path's boundedness where not.

``phrase_topk`` (positional indexes) mirrors the same three modes for
exact consecutive-token phrase search.

Pruning exactness (kernel mode): θ = k-th best exact score among a
seed candidate set; a block b of term t is skipped only when
U(t,b) + Σ_{t'≠t} Umax(t') < θ. Any doc appearing ONLY in skipped
blocks has true score < θ, and ≥ k docs score ≥ θ, so skipped docs can
never enter the top-k (ties break by doc_id among survivors only).
"""

from __future__ import annotations

import functools
import logging
import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from capsbm25.catalog import (arrow_collect, arrow_frame, ids_frame,
                              pdf_frame)
from capsbm25.codec import decode_varints, delta_decode, sorted_member_mask
from capsbm25.config import BuildConfig
from capsbm25.scoring import idf as idf_fn
from capsbm25.scoring import term_scores
from capsbm25.tokenize import tokenize_py

RESULT_SCHEMA = "query_id int, doc_id long, score double, rank int"

_logger = logging.getLogger("capsbm25.query")

# distributed-phrase positions pass: AND-candidate sets (pass 1's
# (query_id, doc_id[, score]) rows) up to this many rows are collected
# + broadcast so candidates mask map-side BEFORE any positional row is
# materialized; larger sets stay distributed as per-(query, group)
# sorted candidate arrays joined on query_id onto the query's posting
# rows (module-level so tests can force the fallbacks)
MAX_CAND_COLLECT = 200_000
# ... and beyond the collect cap the candidate set stays distributed,
# CHUNKED by doc-id range (chunk = doc_id // CAND_CHUNK_SPAN), then
# consecutive SPARSE chunks merge into ~span-candidate groups via a
# per-query running sum over the chunk-count frame (round 6): every
# per-(query, group) collect_list row holds < 2 x CAND_CHUNK_SPAN
# int64s (~64 MB) no matter how many candidates exist OR how thinly
# they spread across the id space, a posting row replicates at most
# ncand/span + 1 times (once per group of its query), and the map-side
# mask stays O(cand x tf) at ANY candidate cardinality — no row can
# approach Spark's 2GB limit (the pre-round-5 design degraded to an
# unmasked O(cf x tf) join past 2x10^7 candidates; the pre-merge
# round-5 design replicated posting payloads once per NON-EMPTY chunk,
# unbounded for spread-out sets). Groups are runs of consecutive
# chunks = disjoint doc ranges, so emitted rows union duplicate-free;
# the grouping window runs over chunk-count rows (<= id_range/span),
# never candidate rows.
CAND_CHUNK_SPAN = 4_000_000


_BOOST_RE = re.compile(r"^(.*?)\^(\d+(?:\.\d+)?)$")


def _check_k(qid, k, name: str = "k") -> int:
    """One query's k (or min_should_match) as an int >= 0. A missing,
    fractional or negative value raises naming the query: int() would
    truncate 1.5 and the top-k slice read -1 as "all but the last"."""
    try:
        n = int(k)
        integral = n == k
    except (TypeError, ValueError):  # None, NaN, non-numeric
        integral = False
    if not integral:
        raise ValueError(f"query {qid}: {name} must be an integer, "
                         f"got {k!r}")
    if n < 0:
        raise ValueError(f"query {qid}: {name} must be >= 0, got {n}")
    return n


def _check_unique_ids(queries: pd.DataFrame) -> None:
    """A batch's query_id keys its result rows, its per-query k and
    the expansion family's class sharing, so a repeated id would
    silently merge two queries: raise naming the first one."""
    dup = queries["query_id"][queries["query_id"].duplicated()]
    if len(dup):
        raise ValueError(f"query {dup.iloc[0]}: query_id appears more "
                         "than once in the batch")


def _in_list(col: str, values) -> F.Column:
    """`col IN (values)` as one SQL expression: Column.isin makes one
    py4j lit() round trip per value (~0.4 s for 1,000 terms on a 4-vCPU
    host), the parsed expression one call. Values are strings (quote and backslash
    escaped) or integers; the optimizer and the parquet pushdown see the
    same In / InSet either way."""
    def lit(v) -> str:
        if isinstance(v, str):
            return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        if isinstance(v, (int, np.integer)):
            return str(int(v))
        raise TypeError(f"_in_list takes strings or integers, got {v!r}")

    if not len(values):
        return F.lit(False)
    return F.expr(f"`{col}` IN ({', '.join(lit(v) for v in values)})")


def _one_task_order(df: DataFrame, key: str = "query_id") -> DataFrame:
    """The one ordered tail: (key, rank) order in one partition. A
    ranked result is at most Σ k rows, so one exchange into a single
    task and a local sort order it; a range sort would first run a
    sampling job over its child, which on the kernel path is a second
    full pass of the Python kernel."""
    return df.repartition(1).sortWithinPartitions(key, "rank")


def _ranked(key: str = "query_id"):
    """Decorator of a public ranked surface: its result leaves through
    _one_task_order. `surface.unordered` is the undecorated call for
    engine-internal callers (sub-calls that take every match, inputs
    of another surface), which never sort."""
    def wrap(fn):
        @functools.wraps(fn)
        def ordered(*args, **kwargs):
            return _one_task_order(fn(*args, **kwargs), key)
        ordered.unordered = fn
        return ordered
    return wrap


def _reject_paging(queries: pd.DataFrame, surface: str) -> None:
    """Surfaces without pagination raise on an offset / search_after
    queries column instead of silently returning page 1."""
    for c in ("offset", "after_score", "after_doc"):
        if c in queries.columns:
            raise ValueError(
                f"{surface} does not support the {c!r} queries column; "
                "page with bm25_topk")


def _query_terms_pdf(queries: pd.DataFrame, cfg: BuildConfig,
                     boosts: bool = False,
                     require_k: bool = True,
                     conjunctive: bool = False) -> pd.DataFrame:
    """bm25_topk's term-query frame (boolean_topk emits the same): one
    row per (query, distinct term) with query_id, term, k, role, n_must
    and msm. Terms are "should" (n_must = msm = 0), or with
    conjunctive=True "must" (n_must = the query's term count).

    With boosts=True, a chunk `term^2.5` (Lucene query-parser boost
    syntax) assigns that term a per-query boost; unboosted terms get
    1.0, and when a term appears several times the max boost wins
    (terms are deduplicated — matching the engine's existing
    set-of-terms semantics — so occurrences can't stack). An `offset`
    queries column (pagination) rides along when
    present regardless of boosts, as does an (after_score, after_doc)
    cursor pair (search_after pagination) — a query may use offset OR
    a cursor, not both, and a cursor requires both halves."""
    if require_k and "k" not in queries.columns:
        # top-k surfaces: a missing k must not silently return zero rows
        raise ValueError("queries must carry an integer k column")
    _check_unique_ids(queries)
    rows = []
    role = "must" if conjunctive else "should"
    has_off = "offset" in queries.columns
    has_after = ("after_score" in queries.columns
                 or "after_doc" in queries.columns)
    if has_after and not ("after_score" in queries.columns
                          and "after_doc" in queries.columns):
        raise ValueError(
            "search_after needs BOTH after_score and after_doc columns")
    for q in queries.itertuples(index=False):
        off = getattr(q, "offset", 0) if has_off else 0
        # a partially-set offset column is float64 with NaN for the
        # unset rows — NaN is truthy, so `or 0` won't default it
        off = 0 if off is None or pd.isna(off) else int(off)
        if off < 0:
            raise ValueError("offset must be >= 0")
        a_s = getattr(q, "after_score", None) if has_after else None
        a_d = getattr(q, "after_doc", None) if has_after else None
        a_s = None if a_s is None or pd.isna(a_s) else float(a_s)
        a_d = None if a_d is None or pd.isna(a_d) else int(a_d)
        if (a_s is None) != (a_d is None):
            raise ValueError(
                f"query {q.query_id}: a search_after cursor needs both "
                "after_score and after_doc set (or neither)")
        if a_s is not None and off:
            raise ValueError(
                f"query {q.query_id}: offset and search_after cursor "
                "are mutually exclusive")
        # None/NaN text is an empty query, not the literal "None"/"nan"
        # (str(NaN) would tokenize to a real searchable term)
        text = q.text if isinstance(q.text, str) else ""
        k = getattr(q, "k", None)
        if not require_k and (k is None or pd.isna(k)):
            k = 0  # surfaces documenting k as ignored (facets, counts)
        else:
            k = _check_k(q.query_id, k)
        if boosts:
            bmap: dict[str, float] = {}
            for chunk in text.split():
                m = _BOOST_RE.match(chunk)
                body, b = (m.group(1), float(m.group(2))) if m \
                    else (chunk, 1.0)
                for t in tokenize_py(body, cfg):
                    bmap[t] = max(bmap.get(t, 0.0), b)
            terms = sorted(bmap)
        else:
            terms = sorted(set(tokenize_py(text, cfg)))
            bmap = {t: 1.0 for t in terms}
        n_must = len(terms) if conjunctive else 0
        for t in terms:
            rows.append((int(q.query_id), t, k, role, n_must, 0,
                         float(bmap[t]), off,
                         np.nan if a_s is None else a_s,
                         np.nan if a_d is None else float(a_d)))
    pdf = pd.DataFrame(
        rows, columns=["query_id", "term", "k", "role", "n_must", "msm",
                       "boost", "off", "after_score", "after_doc"]
    )
    if not has_after:
        # the cursor columns exist only when the caller paginates with
        # one — every surface that broadcasts qt stays byte-identical
        # otherwise
        pdf = pdf.drop(columns=["after_score", "after_doc"])
    return pdf


def _empty_result() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "query_id": pd.Series(dtype=np.int32),
            "doc_id": pd.Series(dtype=np.int64),
            "score": pd.Series(dtype=np.float64),
            "rank": pd.Series(dtype=np.int32),
        }
    )


def _result_pdf(qid: int, top_d: np.ndarray, top_s: np.ndarray,
                start: int = 0) -> pd.DataFrame:
    # start: global rank of the first row minus one (pagination offset)
    return pd.DataFrame(
        {
            "query_id": np.full(top_d.size, qid, dtype=np.int32),
            "doc_id": top_d.astype(np.int64),
            "score": top_s,
            "rank": np.arange(
                start + 1, start + top_d.size + 1, dtype=np.int32),
        }
    )


def _decode_posting(doc_ids: bytes, tfs: bytes,
                    dls: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    return (
        delta_decode(doc_ids),
        decode_varints(tfs).astype(np.int64),
        decode_varints(dls).astype(np.int64),
    )


def _topk(docs: np.ndarray, scores: np.ndarray, k: int):
    order = np.lexsort((docs, -scores))[:k]
    return docs[order], scores[order]


def _score_query_kernel(pdf: pd.DataFrame, N: int, avgdl: float,
                        cfg: BuildConfig, prune: bool,
                        filt: np.ndarray | None = None,
                        excl: np.ndarray | None = None) -> pd.DataFrame:
    """Score one query's matched postings. pdf: its term-query frame
    rows joined to postings, one per (term, index segment). A query
    with MUST, msm or MUST_NOT rows scores its constrained match set
    exactly; any other runs WAND (exhaustive for short lists).

    filt: optional SORTED array of allowed doc_ids (Lucene-filter
    semantics) — candidates are restricted to it BEFORE top-k, but
    scoring stats (idf from global df, avgdl, N) stay corpus-global,
    so a doc's score is identical with or without a filter.
    excl: optional SORTED array of EXCLUDED doc_ids (delete tombstones
    — Lucene's liveDocs mask: deleted docs stop matching immediately,
    while df/N stay stale until a merge physically drops them)."""
    k = int(pdf["k"].iloc[0])
    qid = int(pdf["query_id"].iloc[0])
    # pagination: fetch the first off + k hits, return (off, off + k]
    # with GLOBAL ranks — identical to slicing a larger result page
    off = int(pdf["off"].iloc[0]) if "off" in pdf.columns else 0
    kk = k + off
    # search_after cursor: restrict candidates to hits strictly AFTER
    # (after_score, after_doc) in (score DESC, doc_id ASC) order.
    # Kernel scores are bit-stable (fixed summation order below), so a
    # cursor taken from a previous page's last hit reproduces exactly
    a_s = (float(pdf["after_score"].iloc[0])
           if "after_score" in pdf.columns
           and not pd.isna(pdf["after_score"].iloc[0]) else None)
    a_d = (int(pdf["after_doc"].iloc[0])
           if a_s is not None else None)

    def after_filter(d: np.ndarray, s: np.ndarray):
        # no-cursor fast path: no mask alloc, no fancy-index copy of
        # the (possibly df-sized) candidate arrays
        if a_s is None:
            return d, s
        keep = (s < a_s) | ((s == a_s) & (d > a_d))
        return d[keep], s[keep]

    n_must, msm = int(pdf["n_must"].iloc[0]), int(pdf["msm"].iloc[0])
    pdf = pdf.sort_values("term")  # fixed summation order -> bit-stable
    terms = []  # the scoring (must / should) terms
    nots = []   # MUST_NOT doc-id arrays
    for term, grp in pdf.groupby("term", sort=True):
        role = grp["role"].iloc[0]
        if role == "not":
            # membership only — skip the tf/dl varint decodes
            # (MUST_NOT stopwords are the largest postings)
            nots.extend(delta_decode(b) for b in grp["doc_ids"])
            continue
        # multiple rows per term = index segments (incremental builds);
        # merge them and recompute bounds — stored block maxima were
        # computed with segment-local df/avgdl and are not safe bounds
        # for the merged corpus
        docs, tfs, dls, _, _ = _merge_term_rows(grp, with_pos=False)
        # df is summed BEFORE the filter mask: filters restrict
        # candidates, never scoring stats
        df_total = int(grp["df"].sum())
        if filt is not None and docs.size:
            keep = sorted_member_mask(filt, docs)
            docs, tfs, dls = docs[keep], tfs[keep], dls[keep]
        if excl is not None and excl.size and docs.size:
            keep = ~sorted_member_mask(excl, docs)
            docs, tfs, dls = docs[keep], tfs[keep], dls[keep]
        tidf = float(idf_fn(N, df_total))
        sc = term_scores(tfs, dls, tidf, avgdl, cfg.k1, cfg.b)
        boost = float(grp["boost"].iloc[0]) if "boost" in grp.columns \
            else 1.0
        if boost != 1.0:
            # query-time term boost (Lucene ^boost): scales this term's
            # contribution; WAND's block uppers derive from the boosted
            # scores, so its bounds stay exact
            sc = sc * boost
        terms.append({"docs": docs, "scores": sc, "role": role})

    def probe(docs: np.ndarray, cand: np.ndarray):
        # (positions, hit mask) of cand in one non-empty sorted list
        pos = np.minimum(np.searchsorted(docs, cand), docs.size - 1)
        return pos, docs[pos] == cand

    def exact_scores(cand: np.ndarray) -> np.ndarray:
        total = np.zeros(cand.size, dtype=np.float64)
        for t in terms:  # already in sorted-term order
            if t["docs"].size == 0:  # term fully removed by doc filter
                continue
            pos, hit = probe(t["docs"], cand)
            total[hit] += t["scores"][pos[hit]]
        return total

    if not terms:
        return _empty_result()

    if n_must or msm or nots:
        # role-constrained match set — the graft of the reference's
        # match-range search (upper_bound pairs,
        # Suffix_Array.cpp:252-297) as sorted-array set algebra:
        # intersect the MUST lists (with none, take the union of the
        # scoring terms), keep docs matching >= msm distinct SHOULD
        # terms, subtract the MUST_NOT docs. A MUST term without a
        # posting row (out of vocabulary) empties the query.
        must = [t["docs"] for t in terms if t["role"] == "must"]
        if len(must) < n_must:
            return _empty_result()
        if n_must:
            cand = must[0]
            for d in must[1:]:
                cand = np.intersect1d(cand, d, assume_unique=True)
        else:
            cand = np.unique(np.concatenate([t["docs"] for t in terms]))
        if msm:
            cnt = np.zeros(cand.size, dtype=np.int32)
            for t in terms:
                if t["role"] == "should" and t["docs"].size:
                    cnt[probe(t["docs"], cand)[1]] += 1
            cand = cand[cnt >= msm]
        if nots:
            cand = np.setdiff1d(cand, np.concatenate(nots))
        sc = exact_scores(cand)
    elif (not prune or len(terms) == 1
          or sum(t["docs"].size for t in terms) <= 4 * kk):
        # exhaustive: fold every contribution per doc, in term order
        all_docs = np.concatenate([t["docs"] for t in terms])
        cand, sc, _ = _fold(
            all_docs, np.argsort(all_docs, kind="stable"),
            np.concatenate([t["scores"] for t in terms]), {})
    else:
        # phase 1: seed θ from the most selective terms' full lists
        by_df = sorted(range(len(terms)), key=lambda i: terms[i]["docs"].size)
        seed: list[np.ndarray] = []
        n_seed = 0
        for i in by_df:
            seed.append(terms[i]["docs"])
            n_seed += terms[i]["docs"].size
            if n_seed >= max(kk, 64):
                break
        cand0 = np.unique(np.concatenate(seed))
        s0 = exact_scores(cand0)
        # with a cursor, θ must lower-bound the k-th best QUALIFYING
        # score — docs at or before the cursor could otherwise inflate
        # it and block-skip true page members
        _, s0q = after_filter(cand0, s0)
        if s0q.size >= kk:
            theta = np.partition(s0q, s0q.size - kk)[s0q.size - kk]
        else:
            theta = -np.inf
        # phase 2: block-max survivors. Block uppers are ALWAYS
        # recomputed from the exact scores (O(n) reduceat — free next
        # to the decode): an upper computed with BUILD-time N/avgdl can
        # undercut true scores once incremental segments grow the
        # query-time N (bigger idf), and WAND would silently drop
        # top-k docs. Recomputed uppers are exact by construction.
        B = cfg.block_size
        uppers = [np.maximum.reduceat(t["scores"],
                                      np.arange(0, t["scores"].size, B))
                  if t["scores"].size else np.zeros(1) for t in terms]
        umax = np.array([u.max() for u in uppers])
        rest = umax.sum() - umax
        keep_docs = [cand0]
        for i, t in enumerate(terms):
            ok = uppers[i] + rest[i] >= theta
            if ok.all():
                keep_docs.append(t["docs"])
                continue
            for b in np.flatnonzero(ok):
                keep_docs.append(t["docs"][b * B : (b + 1) * B])
        cand = np.unique(np.concatenate(keep_docs))
        sc = exact_scores(cand)
    top_d, top_s = _topk(*after_filter(cand, sc), kk)
    return _result_pdf(qid, top_d[off:], top_s[off:], start=off)


@_ranked()
def bm25_topk(
    spark: SparkSession,
    postings: DataFrame,
    queries: pd.DataFrame,
    N: int,
    avgdl: float,
    cfg: BuildConfig | None = None,
    mode: str = "auto",
    prune: bool = True,
    conjunctive: bool = False,
    max_kernel_df: int = 20_000_000,
    max_kernel_bytes: int = 32 << 20,
    doc_filter: DataFrame | None = None,
    max_kernel_filter: int = 4_000_000,
    doc_exclude: DataFrame | None = None,
    collapse: DataFrame | None = None,
    boosts: bool = False,
) -> DataFrame:
    """Top-k BM25 over the index for a batch of queries.

    queries: pandas (query_id, text, k). Returns a DataFrame
    (query_id, doc_id, score, rank), rank 1-based, ties by doc_id,
    ordered by (query_id, rank): its <= Σ k rows are sorted in one
    task.

    boosts=True parses Lucene query-parser term boosts in text: a
    chunk `term^2.5` multiplies that term's score contribution by 2.5
    (unboosted terms x1; duplicate occurrences keep the max boost —
    terms stay deduplicated). WAND pruning stays exact: block uppers
    are recomputed from the boosted contributions.

    An optional `offset` queries column pages results: each query
    returns hits (offset, offset + k] of its global ranking, rank
    column holding the GLOBAL rank — page 2 of a k=10 query is
    offset=10, ranks 11..20. Both paths fetch offset + k then slice,
    so paging is rank-stable across pages.

    Optional `after_score` + `after_doc` queries columns page by
    CURSOR instead (Lucene IndexSearcher.searchAfter / ES
    search_after): each query returns its top k among hits strictly
    AFTER the cursor in (score DESC, doc_id ASC) order — typically the
    previous page's last (score, doc_id). Unlike offset, cursor state
    is O(1) and the work never grows with page depth: the kernel seeds
    its WAND θ from qualifying candidates only, so deep pages prune at
    full strength. Ranks restart at 1 per page (computing the global
    rank is exactly the offset cost the cursor avoids — ES returns no
    rank either). Cursor equality is exact float equality. Both paths
    sum in a fixed order, so a query's scores are bit-identical on
    every run over the same index and cluster configuration: the
    kernel adds terms in sorted-term order, and the distributed
    combine lexsorts each doc's partial sums by value before adding
    them, whatever order the shuffle delivers them in. A cursor
    therefore resumes exactly on the path that issued it, ties
    included. The two paths add in different orders, so one doc's
    score can differ between them in the last ulp; auto mode routes a
    query by its terms' df and bytes, never by k or cursor, so every
    page of one query takes the same path. NaN/absent cursor = page
    1. offset and a cursor are mutually exclusive per query.
    conjunctive=True restricts candidates to docs containing ALL query
    terms (posting-list intersection — AND semantics: every term is a
    MUST term, exactly boolean_topk's all-MUST query); scores are still
    full BM25 over the query terms.
    mode="auto" (default) runs each query through the WAND kernel unless
    Σ df over its terms exceeds max_kernel_df OR Σ encoded payload bytes
    exceeds max_kernel_bytes (positions make bytes/df vary ~10x, so df
    alone under-estimates task memory), in which case that query is
    routed to the distributed path (both rank-identical, tested).

    doc_filter: optional DataFrame with a doc_id column (or a
    driver-side numpy id array, which skips the bounded fetch) —
    Lucene-filter semantics: candidates are restricted to these docs
    for EVERY query in the batch, while scoring stats (idf, avgdl, N)
    stay corpus-global, so a doc scores identically filtered or not.
    Build one from index metadata, e.g.
    load_doc_stats(...).where(...). Up to
    max_kernel_filter ids the filter ships to kernel tasks as one
    sorted broadcast array (bounded driver fetch, one job); beyond
    that, auto mode falls back to the distributed path where the
    filter stays a DataFrame semi-join and nothing is collected
    (mode="kernel" raises instead of silently collecting unbounded
    ids — at 10^12 docs a WHERE-selective filter is not kernel-sized).

    doc_exclude: optional DataFrame with a doc_id column — the
    COMPLEMENT of doc_filter: these docs stop matching (Lucene liveDocs
    / delete-tombstone semantics; scoring stats stay stale-global until
    a compaction physically drops the docs). Same kernel-vs-semi-join
    routing rules as doc_filter; typical tombstone sets are tiny and
    ride the kernel broadcast.

    collapse: optional (doc_id, <group>) DataFrame — Lucene field
    collapsing (grouping): the result keeps only the BEST-scoring doc
    per group value per query (ties by doc_id), ranked among the group
    heads; e.g. collapse=load_doc_stats(...).select("doc_id",
    "conv_id") returns at most one turn per conversation. The
    selection runs over the FULL scored match set (exact Lucene
    semantics, not a post-filter of the top-k), which forces the
    distributed path: the doc→group map is corpus-sized — a
    broadcastable per-task copy cannot exist at 10^12 docs — so the
    collapse is a distributed join + per-(query, group) head window.
    Docs with a NULL/absent group each form their own group (Lucene's
    nullPolicy=expand).
    """
    cfg = cfg or BuildConfig()
    if collapse is not None:
        mode = "distributed"
    qt = _query_terms_pdf(queries, cfg, boosts=boosts,
                          conjunctive=conjunctive)
    return _term_query(
        spark, postings, qt, N, avgdl, cfg, mode, max_kernel_df,
        max_kernel_bytes, doc_filter, doc_exclude, max_kernel_filter,
        prune=prune, collapse=collapse)


def _term_query(spark, postings, qt, N, avgdl, cfg, mode, max_kernel_df,
                max_kernel_bytes, doc_filter, doc_exclude, max_kernel_filter,
                prune=True, collapse=None) -> DataFrame:
    """bm25_topk's and boolean_topk's one execution tail: doc-set
    routing, one In(term)-pruned scan broadcast-joined to the term-query
    frame, _dispatch_modes onto _run_kernel / _run_distributed."""
    if qt.empty:
        return spark.createDataFrame([], RESULT_SCHEMA)
    mode, doc_filter, doc_exclude, filt_bc, excl_bc, empty = \
        _prep_doc_sets(spark, mode, doc_filter, doc_exclude,
                       max_kernel_filter)
    if empty:
        return spark.createDataFrame([], RESULT_SCHEMA)
    qdf = pdf_frame(spark, qt)
    # isin pre-filter: pushed to the parquet scan (PushedFilters: In(term))
    # so row groups without query terms are skipped entirely — the
    # broadcast join alone would still scan every posting row.
    terms = sorted(qt["term"].unique().tolist())
    filtered = postings.where(_in_list("term", terms))
    if "pos" in filtered.columns:
        # BM25 never reads positions; on a positional index the pos
        # payload is ~10x the rest and applyInPandas ships EVERY column,
        # so keeping it would both bloat the kernel task and make the
        # bytes-based routing demote queries for payload they don't use
        filtered = filtered.drop("pos")
    matched = filtered.join(F.broadcast(qdf), "term")

    return _dispatch_modes(
        mode, matched, qt, filtered, max_kernel_df, max_kernel_bytes,
        run_kernel=lambda m: _run_kernel(
            m, N, avgdl, cfg, prune, filt_bc, excl_bc),
        run_distributed=lambda m, dfm, qids=None: _run_distributed(
            m, dfm, N, avgdl, cfg, doc_filter, doc_exclude,
            collapse=collapse,
            qt=qt if qids is None else
            qt[qt["query_id"].isin(qids)].reset_index(drop=True),
            prune=prune, filt_bc=filt_bc, excl_bc=excl_bc),
    )



def _dispatch_modes(mode, matched, qt, filtered, max_kernel_df,
                    max_kernel_bytes, run_kernel, run_distributed):
    """Shared mode dispatch for every routed query surface (bm25,
    phrase/near/substring, boolean) — ONE implementation of the auto
    heuristic so the thresholds can never silently diverge.

    Kernel mode concentrates one query's matched postings into a
    single task — a stopword-grade term (df ~ N) would OOM it at
    10^12 docs. Σ df over a query's terms bounds the rows that task
    must hold and Σ encoded payload bytes bounds its memory (positions
    skew bytes/df ~10x), so auto routes heavy queries to the
    distributed (shuffle-aggregated) path per query. ONE narrow
    per-term stats collect (_term_stats_map: one job over the
    pushdown-pruned scan) serves both the routing sums (computed
    driver-side from qt) and the distributed path's global df — no
    per-query scan, no second df scan.

    run_kernel(matched_subset) and run_distributed(matched_subset,
    df_map, qids) close over each surface's own runner arguments;
    qids is the routed query-id subset (None = the whole batch), so a
    runner deriving per-batch signals from qt (cursor presence, raw
    contribution mass) sees only ITS queries — a kernel-routed
    query's cursor must not disable pruning for the heavy subset.

    Returns the runners' rows UNORDERED: a public surface orders once
    at its return (_ranked), and an engine-internal caller never sorts.
    """
    if mode == "auto":
        df_map, bytes_map = _term_stats_map(filtered)
        stats = qt.assign(
            d=qt["term"].map(df_map).fillna(0),
            nb=qt["term"].map(bytes_map).fillna(0),
        ).groupby("query_id")[["d", "nb"]].sum()
        heavy = sorted(
            int(q_) for q_, row in stats.iterrows()
            if row["d"] > max_kernel_df or row["nb"] > max_kernel_bytes
        )
        if not heavy:
            mode = "kernel"
        elif len(heavy) == stats.shape[0]:
            # every query is heavy — don't schedule an empty kernel side
            return run_distributed(matched, df_map, None)
        else:
            light = run_kernel(
                matched.where(~F.col("query_id").isin(heavy)))
            dist = run_distributed(
                matched.where(F.col("query_id").isin(heavy)), df_map,
                heavy)
            return light.unionByName(dist)
    if mode == "kernel":
        return run_kernel(matched)
    if mode == "distributed":
        return run_distributed(matched, _term_df_map(filtered), None)
    raise ValueError(mode)


def _prep_doc_sets(spark, mode, doc_filter, doc_exclude,
                   max_kernel_filter):
    """Shared doc_filter/doc_exclude routing for the query entry points.

    Each set is a single-column (doc_id) DataFrame OR a driver-side
    numpy id array (round 7): a caller that already holds the ids
    passes the array straight through, so no LocalRelation is built
    and no re-collect job runs.

    Returns (mode, doc_filter, doc_exclude, filt_bc, excl_bc, empty):
    the possibly-demoted mode, single-column DataFrames for the
    distributed semi/anti joins (None when a broadcast mask covers
    every consumer), sorted-array Broadcasts for the kernel masks
    (None when absent or routed distributed), and empty=True when the
    filter is provably empty (the caller returns zero rows). The
    driver fetch is bounded: one Arrow-batched job, never more than
    max_kernel_filter + 1 rows per set; oversized sets demote auto
    mode to distributed and make explicit kernel mode raise
    (collecting an unbounded id set on the driver is never silent)."""
    cols: list = [None, None]
    bcs: list = [None, None]
    empty = False
    sets = [("doc_filter", doc_filter, "semi-join"),
            ("doc_exclude", doc_exclude, "anti-join")]
    for i, (name, df, join_kind) in enumerate(sets):
        if df is None:
            continue
        if isinstance(df, np.ndarray):
            ids = np.unique(np.asarray(df, dtype=np.int64))
            if ids.size > max_kernel_filter or mode == "distributed":
                if mode == "kernel":
                    raise ValueError(
                        f"{name} exceeds max_kernel_filter="
                        f"{max_kernel_filter}; use mode='distributed' "
                        f"(or 'auto') so the set stays a {join_kind}"
                    )
                # the join path needs a real frame — materialize once
                cols[i] = ids_frame(spark, ids)
                mode = "distributed"
                continue
            if ids.size:
                bcs[i] = spark.sparkContext.broadcast(ids)
            elif name == "doc_filter":
                empty = True
            continue
        cols[i] = df.select("doc_id")
        if mode == "distributed":
            continue
        # one raw bounded collect first: the typical set (a WHERE over
        # doc_stats) is already distinct, and np.unique below dedups
        # driver-side anyway — a distinct() here would charge every
        # caller a full exchange + hash aggregate of the id set. The
        # cap accounting still can't over-demote: only when RAW rows
        # exceed the cap (a join-derived set with duplicate doc_ids
        # could still be small) does one distinct pass decide.
        head = arrow_collect(cols[i].limit(max_kernel_filter + 1))
        if len(head) > max_kernel_filter:
            head = arrow_collect(cols[i].distinct().limit(
                max_kernel_filter + 1))
        if len(head) > max_kernel_filter:
            if mode == "kernel":
                raise ValueError(
                    f"{name} exceeds max_kernel_filter="
                    f"{max_kernel_filter}; use mode='distributed' "
                    f"(or 'auto') so the set stays a {join_kind}"
                )
            mode = "distributed"
            continue
        ids = np.unique(head["doc_id"].to_numpy(np.int64))
        if ids.size:
            bcs[i] = spark.sparkContext.broadcast(ids)
        elif name == "doc_filter":
            empty = True  # empty allowlist -> provably zero results
    return mode, cols[0], cols[1], bcs[0], bcs[1], empty


def _term_df_map(filtered: DataFrame) -> dict:
    """Global df per query term. filtered: the PRE-query-join posting
    rows of the query terms (a post-join sum would inflate df q-fold
    for terms shared by q queries), one row per term per index
    segment. One narrow Arrow collect of (term, df), summed on the
    driver: one job, no exchange."""
    sums = arrow_collect(filtered.select("term", "df")).groupby("term")
    return {t: int(v) for t, v in sums["df"].sum().items()}


def _term_stats_map(filtered: DataFrame) -> tuple[dict, dict]:
    """(df_map, bytes_map) per query term from one narrow Arrow collect
    of (term, df, payload bytes) over filtered (as in _term_df_map),
    summed on the driver: one job. bytes = the ENCODED payload the
    kernel task would have to hold — df alone under-estimates task
    memory ~10x once positions are indexed (payload per df entry is
    tf-dependent), so auto-routing bounds both."""
    size = (F.octet_length("doc_ids") + F.octet_length("tfs")
            + F.octet_length("dls"))
    if "pos" in filtered.columns:
        size = size + F.coalesce(F.octet_length("pos"), F.lit(0))
    sums = arrow_collect(filtered.select(
        "term", "df", size.cast("long").alias("nbytes"),
    )).groupby("term")[["df", "nbytes"]].sum()
    return ({t: int(v) for t, v in sums["df"].items()},
            {t: int(v) for t, v in sums["nbytes"].items()})


def _run_kernel(matched, N, avgdl, cfg, prune,
                filt_bc=None, excl_bc=None) -> DataFrame:
    # filt_bc/excl_bc: optional pyspark Broadcasts of sorted int64
    # doc-id arrays (one copy per executor, not per task — can be MBs)
    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        filt = filt_bc.value if filt_bc is not None else None
        excl = excl_bc.value if excl_bc is not None else None
        return _score_query_kernel(pdf, N, avgdl, cfg, prune, filt, excl)

    # explicit projection (Catalyst cannot prune through applyInPandas):
    # stored block_max is NEVER read by the kernel — uppers are always
    # recomputed from the exact scores (see _score_query_kernel) — and
    # cf is unused, so both would ride the Arrow transfer for nothing
    # (block_max is an array<struct>, the widest non-payload column)
    need = (["query_id", "term", "role", "df", "doc_ids", "tfs", "dls",
             "k", "n_must", "msm"]
            + [c for c in ("boost", "off", "after_score", "after_doc")
               if c in matched.columns])
    return matched.select(*need).groupBy("query_id").applyInPandas(
        kernel, schema=RESULT_SCHEMA
    )


_TOPK_SALT = 32

# _doc_partials folds a task's (doc, contrib) pairs per query whenever
# this many raw pairs have accumulated — task memory stays O(chunk +
# distinct docs in task), never O(df mass). The same bound sizes the
# combine's salt fan-out (_fan_out).
_COMBINE_CHUNK = 4_000_000

# distributed-phrase verify: docs per (query, salt) batch group — the
# per-doc rows of one bucket meet in one vectorized intersect instead of
# one Python group call per candidate doc
_VERIFY_SALT = 64

# per-doc state columns a producer may emit beside `contrib`, and how
# the combine folds a doc's partials of each: matched-term counts add
# ((term, doc) is globally unique, so partial counts never overlap),
# clause bitmasks OR, the prohibited flag takes the max
_STATE_REDUCE = {"nm": np.add, "nsh": np.add, "nn": np.add,
                 "mb": np.bitwise_or, "cb": np.bitwise_or,
                 "xn": np.maximum}


def _fold(docs: np.ndarray, order: np.ndarray, contrib, state: dict):
    """Fold (doc, contrib, state) partials to one row per doc: `order`
    sorts docs into runs, then one left-to-right reduceat per column —
    contribs add, each state column folds by _STATE_REDUCE. Returns
    (distinct docs, summed contribs or None, folded state dict)."""
    d = docs[order]
    new = np.ones(d.size, dtype=bool)
    new[1:] = d[1:] != d[:-1]
    starts = np.flatnonzero(new)
    return (d[starts],
            None if contrib is None
            else np.add.reduceat(contrib[order], starts),
            {s: _STATE_REDUCE[s].reduceat(v[order], starts)
             for s, v in state.items()})


def _bm25_scorer(df_map: dict, N: int, avgdl: float, cfg):
    """_doc_partials score: BM25 of a posting row's entries with the
    term's global df, times the row's query-time boost when the query
    frame carries one (Lucene ^boost)."""
    def score(row, tfs, dls):
        return term_scores(
            tfs, dls, float(idf_fn(N, df_map[row.term])), avgdl,
            cfg.k1, cfg.b) * float(getattr(row, "boost", 1.0))
    return score


def _doc_partials(matched: DataFrame, score=None, prune=None,
                  filt_bc=None, excl_bc=None, doc_filter=None,
                  doc_exclude=None, members=None,
                  member_bc=None) -> DataFrame:
    """The one map-side producer of every distributed posting pass.

    matched: posting rows joined to the query frame and projected to
    what the caller reads (Catalyst cannot prune through mapInPandas):
    query_id, doc_ids, optionally tfs/dls/term/boost/role, plus any
    _STATE_REDUCE columns as per-row constants. Per row: decode the
    projected payloads (a `role == "not"` row decodes doc_ids only and
    contributes 0); mask by the filt_bc/excl_bc sorted-id broadcasts;
    contrib = score(row, tfs, dls) (score=None: membership, no contrib
    column); then prune(), a per-task hook factory, may return a keep
    mask from (qid, row, contrib). Pairs accumulate per query and
    _fold every _COMBINE_CHUNK raw pairs, so a task holds O(chunk +
    distinct docs), never O(df mass), and emits one row per (query,
    distinct doc in task) — the exploded per-(term, doc) frame never
    exists. A doc_filter/doc_exclude without a broadcast becomes a
    semi/anti join on the output, ahead of any exchange.

    members: {class key: [(query_id, {state column: value}), ...]}
    (the producer-side twin of _fused_combine_topk's members): a row
    keyed by a class decodes doc_ids only, contributes 0, is masked by
    member_bc too, and the class's per-task docs are emitted once per
    member under that member's query_id and state."""
    cols = matched.columns
    state = [s for s in _STATE_REDUCE if s in cols]
    with_tf, with_dl = "tfs" in cols, "dls" in cols
    has_role = "role" in cols
    members = members or {}

    def gen(it):
        filt = filt_bc.value if filt_bc is not None else None
        excl = excl_bc.value if excl_bc is not None else None
        mem = member_bc.value if member_bc is not None else None
        keep_fn = prune() if prune is not None else None
        # qid -> [doc chunks, contrib chunks, {state: chunks}, raw
        # pairs appended since the last fold — a folded-size counter
        # would re-trigger full folds once distinct docs >= chunk]
        acc: dict = {}

        def fold(ent):
            docs = np.concatenate(ent[0])
            uniq, c, st = _fold(
                docs, np.argsort(docs),
                np.concatenate(ent[1]) if score is not None else None,
                {s: np.concatenate(v) for s, v in ent[2].items()})
            ent[:] = [[uniq], [c], {s: [v] for s, v in st.items()}, 0]

        for pdf in it:
            for row in pdf.itertuples(index=False):
                qid = int(row.query_id)
                cls = qid in members
                bare = cls or (has_role and row.role == "not")
                docs = delta_decode(row.doc_ids).astype(np.int64)
                tfs = (decode_varints(row.tfs).astype(np.int64)
                       if with_tf and not bare else None)
                dls = (decode_varints(row.dls).astype(np.int64)
                       if with_dl and not bare else None)
                for ids, member in ((filt, True), (excl, False),
                                    (mem if cls else None, True)):
                    if ids is not None and ids.size and docs.size:
                        m = sorted_member_mask(ids, docs)
                        m = m if member else ~m
                        docs = docs[m]
                        tfs = tfs[m] if tfs is not None else None
                        dls = dls[m] if dls is not None else None
                if not docs.size:
                    continue
                c = None
                if score is not None:
                    c = (np.zeros(docs.size, np.float64) if bare
                         else score(row, tfs, dls))
                    if keep_fn is not None:
                        m = keep_fn(qid, row, c)
                        if m is not None:
                            docs, c = docs[m], c[m]
                            if not docs.size:
                                continue
                ent = acc.setdefault(qid, [[], [], {s: [] for s in state},
                                           0])
                ent[0].append(docs)
                ent[1].append(c)
                for s in state:
                    ent[2][s].append(
                        np.full(docs.size, getattr(row, s), np.int64))
                ent[3] += docs.size
                if ent[3] >= _COMBINE_CHUNK:
                    fold(ent)
        for qid, ent in acc.items():
            fold(ent)
            uniq = ent[0][0]
            for q, st in members.get(qid, ((qid, None),)):
                out = {"query_id": np.full(uniq.size, q, np.int32),
                       "doc_id": uniq}
                if score is not None:
                    out["contrib"] = ent[1][0]
                out.update((s, ent[2][s][0] if st is None
                            else np.full(uniq.size, st[s], np.int64))
                           for s in state)
                yield pd.DataFrame(out)

    schema = ("query_id int, doc_id long"
              + (", contrib double" if score is not None else "")
              + "".join(f", {s} long" for s in state))
    out = matched.mapInPandas(gen, schema=schema)
    if doc_filter is not None and filt_bc is None:
        out = out.join(doc_filter.select("doc_id"), "doc_id", "semi")
    if doc_exclude is not None and excl_bc is None:
        # anti join = liveDocs mask; tombstone sets are small, so AQE
        # broadcasts and drops deleted rows map-side pre-shuffle
        out = out.join(doc_exclude.select("doc_id"), "doc_id", "anti")
    return out


def _salted_topk(df: DataFrame, rank_cols=None, out_cols=None,
                 salt_col: str | None = "doc_id") -> DataFrame:
    """The one per-query top-k page over Spark windows. Input rows
    carry query_id and k, optionally `off` (pagination offset).

    Phase 1 cuts each (query_id, xxhash64(salt_col) % _TOPK_SALT)
    bucket to k + off rows, so no task sorts one query's full match
    set (a stopword query at 10^12 docs); phase 2 ranks the survivors
    with the SAME order and keeps global ranks (off, k + off]. Every
    global top-(k + off) row wins its own bucket, so the result equals
    a single window. salt_col=None skips phase 1 for inputs already
    bounded per query (the fused combine's output). Default order is
    (score DESC, doc_id ASC) and the default projection the engine
    result shape."""
    rank_cols = rank_cols or [F.desc("score"), F.asc("doc_id")]
    out_cols = out_cols or ["query_id", "doc_id", "score",
                            F.col("rank").cast("int")]
    off = F.col("off") if "off" in df.columns else F.lit(0)
    if salt_col is not None:
        w1 = Window.partitionBy("query_id", "_salt").orderBy(*rank_cols)
        df = (
            df.withColumn("_salt", F.pmod(F.xxhash64(salt_col),
                                          F.lit(_TOPK_SALT)))
            .withColumn("_r1", F.row_number().over(w1))
            .where(F.col("_r1") <= F.col("k") + off)
            .drop("_salt", "_r1")
        )
    w2 = Window.partitionBy("query_id").orderBy(*rank_cols)
    return (
        df.withColumn("rank", F.row_number().over(w2))
        .where((F.col("rank") <= F.col("k") + off) & (F.col("rank") > off))
        .select(*out_cols)
    )


def _fan_out(raw_mass: int | None) -> int:
    """Salt buckets per query for the combine: one per _COMBINE_CHUNK
    of raw contribution mass (Σ df over the batch's (query, term)
    pairs, known on the driver), at most _TOPK_SALT. An unknown mass
    takes the maximum."""
    if raw_mass is None:
        return _TOPK_SALT
    return min(_TOPK_SALT, max(1, -(-int(raw_mass) // _COMBINE_CHUNK)))


def _fused_combine_topk(c: DataFrame, meta: dict, raw_mass: int | None,
                        keep=None, bonus=None,
                        cut: bool = True) -> DataFrame:
    """The one combine + phase-1 top-k of every distributed scoring
    tail (bm25, boolean, term expansion, query string).

    c: per-task-combined contribution rows (query_id, doc_id, contrib,
    plus any _STATE_REDUCE columns). One applyInPandas over (query_id,
    doc_id % S) groups, S = _fan_out(raw_mass), folds each doc's
    partials: salt is a pure doc_id function, so all partials of a doc
    meet in one group. The sum is a lexsort by (doc, contrib) then a
    left-to-right reduceat, so the same partials always sum to the same
    float whatever order the shuffle delivers them in. Per group, in
    order: keep(st, m) -> bool mask over the folded state dict `st`;
    bonus(st, m) -> score added to the sum; the m["after"] = (score,
    doc) cursor keeps docs strictly after it in (score DESC, doc_id
    ASC) order; then the tie-exact group-local top-(k + off).

    meta: qid -> dict(k, off=0, after=None, members=None, caller
    extras) — driver side and tiny, it rides the task closure. Every
    global top-(k + off) doc wins its own salt bucket, so the phase-2
    window over <= S x (k + off) rows per query returns the exact page.
    members: [(query_id, k), ...] when the group's query_id is a CLASS
    of queries sharing one match set (the expansion family's class
    sharing; meta k is then the largest member k): the group's rows
    are emitted once per member under that member's query_id and k,
    and the phase-2 window cuts each member to its own k — a top-(k)
    prefix of the class ranking is a prefix of the top-(max k) one.
    cut=False returns every kept per-doc row unranked, before cursor
    and cut (collapse picks group heads first)."""
    salts = _fan_out(raw_mass)
    state = [s for s in _STATE_REDUCE if s in c.columns]

    def combine(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(key[0])
        m = meta[qid]
        k, off = m["k"], m.get("off", 0)
        d0 = pdf["doc_id"].to_numpy(np.int64)
        c0 = pdf["contrib"].to_numpy(np.float64)
        uniq, score, st = _fold(
            d0, np.lexsort((c0, d0)), c0,
            {s: pdf[s].to_numpy(np.int64) for s in state})
        sel = (np.ones(uniq.size, dtype=bool) if keep is None
               else keep(st, m))
        if bonus is not None:
            score = score + bonus(st, m)
        after = m.get("after") if cut else None
        if after is not None:
            sel &= (score < after[0]) | ((score == after[0])
                                         & (uniq > after[1]))
        uniq, score = uniq[sel], score[sel]
        kk = k + off
        if cut and uniq.size > kk:
            # top-(k+off) by (score DESC, doc_id ASC): partition on
            # score, then resolve the boundary tie group by doc_id
            top = np.zeros(uniq.size, dtype=bool)
            if kk > 0:
                cv = np.partition(score, uniq.size - kk)[uniq.size - kk]
                top = score > cv
                ties = np.sort(uniq[score == cv])[:kk - int(top.sum())]
                top |= np.isin(uniq, ties) & (score == cv)
            uniq, score = uniq[top], score[top]
        qids, ks = zip(*(m.get("members") or ((qid, k),)))
        n, reps = uniq.size, len(qids)
        return pd.DataFrame(
            {"query_id": np.repeat(np.array(qids, np.int32), n),
             "doc_id": np.tile(uniq, reps),
             "score": np.tile(score, reps),
             "k": np.repeat(np.array(ks, np.int32), n),
             "off": np.full(n * reps, off, np.int32)})

    local = (
        c.withColumn("salt", F.pmod(F.col("doc_id"), F.lit(salts)))
        .groupBy("query_id", "salt")
        .applyInPandas(combine, schema="query_id int, doc_id long, "
                                       "score double, k int, off int")
    )
    return _salted_topk(local, salt_col=None) if cut else local


def _distributed_rest_map(qt: pd.DataFrame, df_map: dict, N: int,
                          cfg) -> dict:
    """Per-(query_id, term) residual upper bound for the distributed
    pruning kernel: Σ over the query's OTHER indexed terms of
    (k1+1) * idf(t') * boost(t') — an upper bound on any doc's total
    contribution from those terms, since each BM25 entry score is
    idf * boost * tf(k1+1)/(tf + K) < idf * boost * (k1+1) (K > 0).
    Terms absent from df_map have no posting rows and contribute
    exactly 0. Summed per-pair EXCLUDING the own term (not total minus
    own) so float rounding can never make the residual smaller than
    the true sum it bounds."""
    ub = {t: (cfg.k1 + 1.0) * float(idf_fn(N, d)) * 1.0
          for t, d in df_map.items()}
    has_boost = "boost" in qt.columns
    per_q: dict[int, list[tuple[str, float]]] = {}
    for r in qt.itertuples(index=False):
        if r.term in ub:
            b = float(r.boost) if has_boost else 1.0
            per_q.setdefault(int(r.query_id), []).append(
                (r.term, ub[r.term] * b))
    rest: dict[tuple[int, str], float] = {}
    for qid, pairs in per_q.items():
        for t, _ in pairs:
            rest[(qid, t)] = float(
                sum(u for t2, u in pairs if t2 != t))
    return rest


def _query_meta(qt: pd.DataFrame) -> dict:
    """qid -> the fused combine's per-query meta (k, off, n_must, msm,
    after) from a term-query frame — one entry per query, driver
    side."""
    meta = {}
    has_after = "after_score" in qt.columns
    for r in qt.drop_duplicates("query_id").itertuples(index=False):
        after = None
        if has_after and not pd.isna(r.after_score):
            after = (float(r.after_score), int(r.after_doc))
        meta[int(r.query_id)] = {"k": int(r.k),
                                 "off": int(getattr(r, "off", 0)),
                                 "n_must": int(r.n_must),
                                 "msm": int(r.msm), "after": after}
    return meta


def _raw_mass(qt: pd.DataFrame, df_map: dict) -> int:
    """Σ df over the batch's (query, term) pairs — the raw contribution
    mass that sizes the combine's fan-out (_fan_out)."""
    return int(qt["term"].map(df_map).fillna(0).sum())


def _run_distributed(matched, df_map, N, avgdl, cfg,
                     doc_filter: DataFrame | None = None,
                     doc_exclude: DataFrame | None = None,
                     collapse: DataFrame | None = None,
                     *, qt: pd.DataFrame,
                     prune: bool = True,
                     filt_bc=None, excl_bc=None) -> DataFrame:
    # df_map: global df per term from _term_df_map (pre-query-join —
    # see its docstring); shipped in the task closure (tiny) instead of
    # a broadcast join
    # doc_filter: optional single-column (doc_id) DataFrame of allowed
    # docs — when its sorted-id broadcast (filt_bc) exists it masks
    # INSIDE the decode kernel (same set, zero post-pass join);
    # otherwise it is semi-joined against the combined contribution
    # rows BEFORE the combine (a huge filter degrades to a
    # sort-merge semi join, never a driver collect). doc_exclude /
    # excl_bc mirror it as the liveDocs anti set.
    #
    # Round 7 — the scale shape. Exact ENTRY-LEVEL pruning (the graft
    # of the reference's bounded-skip search, Suffix_Array.cpp:261,
    # strictly finer than block-max skipping since every decoded
    # entry's EXACT contribution is already in hand):
    #   θ_q  = max over this task's rows of the (k+off)-th highest
    #          contribution within one row — a row's entries are
    #          distinct docs (one posting row per (term, segment);
    #          segments partition docs), each with full score >= its
    #          contribution, so >= k+off docs score >= θ_q globally.
    #   drop entry (t, d) iff sc + rest(q, t) < θ_q, where rest is
    #          Σ_{t'≠t} (k1+1)·idf(t')·boost(t') over the query's
    #          OTHER indexed terms (_distributed_rest_map).
    # Any doc with a dropped entry has full score <= sc + rest < θ_q
    # <= true (k+off)-th score, so it can neither enter the top-k nor
    # (its partial sum only shrinks further) displace a survivor —
    # identical ranking, tested rank-identical vs kernel and oracle.
    # A single-term stopword query (the canonical distributed routing:
    # Σdf > max_kernel_df) emits ~k rows per task instead of df rows.
    # Pruning stays OFF when the result set is a sub-population whose
    # k-th score θ cannot bound (role constraints — MUST, msm,
    # MUST_NOT — collapse groups, doc filters that could not be masked
    # in-kernel).
    #
    # The producer (_doc_partials) then combines map-side: one row per
    # (query, distinct doc in task) with the contributions pre-summed
    # plus the in-task MUST / SHOULD / MUST_NOT match counts the batch's
    # roles need (exact: (term, doc) is globally unique), so the combine
    # exchange carries distinct-doc rows without the term string.
    meta = _query_meta(qt)
    role = F.col("role")
    state = [(role == r).cast("long").alias(s)
             for r, s, needed in (
                 ("must", "nm", (qt["role"] == "must").any()),
                 ("should", "nsh", (qt["msm"] > 0).any()),
                 ("not", "nn", (qt["role"] == "not").any()))
             if needed]
    has_cursor = any(m["after"] is not None for m in meta.values())
    do_prune = (
        prune and not state and collapse is None
        and (doc_filter is None or filt_bc is not None)
        and (doc_exclude is None or excl_bc is not None)
        # search_after: the entry-prune θ comes from in-task k-th
        # contributions, which bound the GLOBAL top-k — not the
        # post-cursor page — so a qualifying page member could be
        # dropped; cursored queries score exactly (same as offset)
        and not has_cursor
    )
    rest_map = (_distributed_rest_map(qt, df_map, N, cfg)
                if do_prune else None)

    def theta_prune():
        theta: dict = {}  # qid -> running lower bound on (k+off)-th

        def keep(qid, row, sc):
            kk = meta[qid]["k"] + meta[qid]["off"]
            if 0 < kk <= sc.size:
                th = np.partition(sc, sc.size - kk)[sc.size - kk]
                if th > theta.get(qid, -np.inf):
                    theta[qid] = th
            cur = theta.get(qid, -np.inf)
            if cur == -np.inf:
                return None
            # unknown (qid, term) residual -> +inf (never prune on
            # missing information)
            return sc + rest_map.get((qid, row.term), np.inf) >= cur
        return keep

    cols = (["term", "role", "query_id", "doc_ids", "tfs", "dls"]
            + (["boost"] if "boost" in matched.columns else []) + state)
    c = _doc_partials(
        matched.select(*cols), _bm25_scorer(df_map, N, avgdl, cfg),
        theta_prune if do_prune else None, filt_bc, excl_bc,
        doc_filter, doc_exclude)
    raw_mass = _raw_mass(qt, df_map)

    def role_rule(st, m):
        # on the COMPLETE per-doc state: every MUST term, >= msm SHOULD
        # terms, no MUST_NOT term (an unemitted count is 0). A doc row
        # exists only if a term matched, so nn == 0 means a positive one
        return ((st.get("nm", 0) == m["n_must"])
                & (st.get("nsh", 0) >= m["msm"])
                & (st.get("nn", 0) == 0))

    keep = role_rule if state else None
    if collapse is None:
        return _fused_combine_topk(c, meta, raw_mass, keep)
    # field collapsing over the FULL scored set: keep the best (score
    # DESC, doc_id) doc per (query, group). Null-group docs each
    # collapse alone (group key "\0d<doc_id>" cannot collide with a
    # real stringified value). The window partitions on the group key
    # — group count is ~corpus-scale, so the work spreads; no
    # corpus-sized driver or broadcast state anywhere.
    key = [c_ for c_ in collapse.columns if c_ != "doc_id"]
    if len(key) != 1:
        raise ValueError(
            "collapse must have exactly (doc_id, <group>) columns; "
            f"got {collapse.columns}"
        )
    key = key[0]
    grp = F.coalesce(
        F.col(key).cast("string"),
        F.concat(F.lit("\0d"), F.col("doc_id").cast("string")),
    )
    cw = Window.partitionBy("query_id", "_grp").orderBy(
        F.desc("score"), F.asc("doc_id"))
    heads = (
        _fused_combine_topk(c, meta, raw_mass, keep, cut=False)
        .join(collapse, "doc_id", "left")
        .withColumn("_grp", grp)
        .withColumn("_gr", F.row_number().over(cw))
        .where(F.col("_gr") == 1)
        .select("query_id", "doc_id", F.col("score").alias("contrib"))
    )
    # the heads (one row per doc) go through the same tail again: the
    # search_after cursor applies to the collapsed ranking, like
    # Lucene's searchAfter over collapsed heads
    return _fused_combine_topk(heads, meta, raw_mass)


EXPLAIN_SCHEMA = ("query_id int, term string, doc_id long, tf long, "
                  "dl long, df long, idf double, contrib double")


def explain_scores(
    spark: SparkSession,
    postings: DataFrame,
    queries: pd.DataFrame,
    N: int,
    avgdl: float,
    cfg: BuildConfig | None = None,
) -> DataFrame:
    """Score explanation (Lucene IndexSearcher.explain analog): for
    each query and each doc in its `doc_ids` list, one row per matched
    query term with the BM25 components — tf, dl, corpus-global df,
    idf, and the term's score contribution (sum of contribs over a
    doc's rows == its bm25_topk score; tested).

    queries: pandas (query_id, text, doc_ids: list[int]). Rows exist
    only for (term, doc) pairs that actually match — a query term
    absent from a doc (or the index) explains as no row, like Lucene's
    "no matching term" leaf omission.

    Scale shape: the per-query doc list is user-sized (a page of hits,
    shipped in the broadcast query frame); the postings scan stays
    In(term)-pruned, each task decodes only its own rows and keeps the
    requested docs via one sorted membership probe — no full-list
    materialization, nothing collected."""
    cfg = cfg or BuildConfig()
    rows = []
    for q in queries.itertuples(index=False):
        want = np.unique(np.asarray(list(q.doc_ids), dtype=np.int64))
        for t in sorted(set(tokenize_py(q.text, cfg))):
            rows.append((int(q.query_id), t, want.tolist()))
    if not rows:
        return spark.createDataFrame([], EXPLAIN_SCHEMA)
    qt = pd.DataFrame(rows, columns=["query_id", "term", "want"])
    qdf = pdf_frame(spark, qt)
    terms = sorted(qt["term"].unique().tolist())
    filtered = postings.where(_in_list("term", terms))
    if "pos" in filtered.columns:
        filtered = filtered.drop("pos")
    df_map = _term_df_map(filtered)
    matched = filtered.join(F.broadcast(qdf), "term")

    def explain(it):
        for pdf in it:
            for row in pdf.itertuples(index=False):
                docs, tfs, dls = _decode_posting(row.doc_ids, row.tfs, row.dls)
                want = np.asarray(row.want, dtype=np.int64)
                keep = sorted_member_mask(want, docs)
                docs, tfs, dls = docs[keep], tfs[keep], dls[keep]
                if not docs.size:
                    continue
                df_total = df_map[row.term]
                tidf = float(idf_fn(N, df_total))
                sc = term_scores(tfs, dls, tidf, avgdl, cfg.k1, cfg.b)
                yield pd.DataFrame(
                    {"query_id": np.full(docs.size, row.query_id,
                                         np.int32),
                     "term": np.full(docs.size, row.term, dtype=object),
                     "doc_id": docs.astype(np.int64),
                     "tf": tfs.astype(np.int64),
                     "dl": dls.astype(np.int64),
                     "df": np.full(docs.size, df_total, np.int64),
                     "idf": np.full(docs.size, tidf, np.float64),
                     "contrib": sc}
                )

    # segments may split one term across rows: the same (query, term,
    # doc) can surface from several segment rows only if a doc's term
    # was re-ingested — df/idf are corpus-global either way, and the
    # per-row tf rows stand as per-segment leaves (Lucene explains
    # per-segment too)
    return matched.select(
        "term", "query_id", "want", "doc_ids", "tfs", "dls"
    ).mapInPandas(explain, schema=EXPLAIN_SCHEMA)


def hit_count(
    spark: SparkSession,
    postings: DataFrame,
    queries: pd.DataFrame,
    cfg: BuildConfig | None = None,
    conjunctive: bool = False,
) -> DataFrame:
    """Total hits per query (Lucene TotalHitCountCollector / the
    IndexSearcher.count fast path): the NUMBER of matching docs, no
    scoring, no top-k. OR semantics by default (docs containing any
    query term); conjunctive=True counts docs containing ALL distinct
    query terms. Returns (query_id, n_hits) with a 0 row for every
    query in the batch — including empty/OOV queries.

    Scale shape: _match_docs' narrow membership pass (one
    In(term)-pruned scan, tf never decoded, per-task distinct docs,
    one (query, doc) aggregate), then a per-query count — the same
    two-shuffle plan at any corpus size; nothing is collected and no
    task holds a posting list (the decode streams per row)."""
    cfg = cfg or BuildConfig()
    if not len(queries):
        return spark.createDataFrame([], "query_id int, n_hits long")
    qids = pd.DataFrame({
        "query_id": queries["query_id"].astype(np.int32)})
    # createDataFrame's pandas inference widens int32 -> long; the
    # result contract is int query_id (matches every other surface)
    base = pdf_frame(spark, qids).select(
        F.col("query_id").cast("int"))
    per_doc = _match_docs(spark, postings, queries, cfg, conjunctive)
    if per_doc is None:
        return base.withColumn("n_hits", F.lit(0).cast("long"))
    counts = per_doc.groupBy("query_id").agg(
        F.count("*").alias("n_hits"))
    # every query in the batch gets a row — 0 when nothing matched
    return (
        base.join(counts, "query_id", "left")
        .select("query_id",
                F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"))
    )


def sorted_topk(
    spark: SparkSession,
    postings: DataFrame,
    queries: pd.DataFrame,
    doc_stats: DataFrame,
    sort_field: str | list[str],
    cfg: BuildConfig | None = None,
    ascending: bool | list[bool] = False,
    conjunctive: bool = False,
) -> DataFrame:
    """Field-sorted retrieval (Lucene Sort / SortField[]): the top-k
    MATCHING docs per query ordered by document attributes instead of
    relevance — newest-first, shortest-first, etc. A LIST of fields
    sorts lexicographically (Lucene's multi-SortField), each with its
    own direction (ascending may be one bool for all fields or a
    per-field list). OR semantics by default (docs containing any
    query term); conjunctive=True requires all distinct query terms.
    Ties break doc_id ASC; NULL field values sort last in either
    direction (they are the least interesting hits, not the first
    page).

    queries: pandas (query_id, text, k). doc_stats: a per-doc metadata
    frame (build.load_doc_stats, or any frame with doc_id + the
    fields). Returns (query_id, doc_id, <one column per sort field,
    aliased sort_key for a single field / sort_key_0.. for a list>,
    rank), keys carrying the fields' own types.

    Cursor pagination (ES search_after over sort fields — its primary
    use): optional `after_key` (single field) or `after_key_0..n-1`
    (field list) queries columns plus `after_doc` resume each query
    strictly AFTER that (sort keys, doc_id) position in the full
    lexicographic order — the previous page's last row. after_doc
    non-null marks a cursored query (a cursor KEY may legitimately be
    NULL: the cursor doc's field was missing and sorted last — deeper
    pages then match only the null-key tail). Ranks restart at 1 per
    page, like bm25_topk's cursor. Field values are exact (no float
    re-sum caveat — keys come from the stats frame, not scoring).

    Scale shape: the match pass is _match_docs' narrow pipeline — one
    In(term)-pruned scan, tf/dl/pos never decoded, per-task distinct
    docs, one (query, doc) aggregate; matched docs then join doc_stats
    on doc_id (both sides shuffle on the same key; the field columns
    are all that's read from the stats parquet) and the per-query
    top-k is the two-phase salted window, so no task sorts a stopword
    query's full match set. Nothing is collected."""
    cfg = cfg or BuildConfig()
    single = isinstance(sort_field, str)
    fields = [sort_field] if single else list(sort_field)
    if not fields:
        raise ValueError("sort_field must name at least one column")
    asc = ([ascending] * len(fields) if isinstance(ascending, bool)
           else list(ascending))
    if len(asc) != len(fields):
        raise ValueError(
            f"ascending needs one bool per sort field ({len(fields)}); "
            f"got {len(asc)}"
        )
    for sf in fields:
        if sf not in doc_stats.columns:
            raise ValueError(
                f"sort_field {sf!r} is not a doc_stats column "
                f"(have: {doc_stats.columns})"
            )
    keys = (["sort_key"] if single
            else [f"sort_key_{i}" for i in range(len(fields))])
    key_ts = [doc_stats.schema[sf].dataType.simpleString()
              for sf in fields]
    key_schema = ", ".join(f"{k} {t}" for k, t in zip(keys, key_ts))
    schema = f"query_id int, doc_id long, {key_schema}, rank int"
    if not len(queries):
        return spark.createDataFrame([], schema)
    # the sort-key cursor columns (after_key* / after_doc) are this
    # surface's own — strip them before the shared term parse, whose
    # after_doc means the SCORE cursor (bm25_topk's pair)
    per_doc = _match_docs(
        spark, postings,
        queries[[c for c in ("query_id", "text", "k")
                 if c in queries.columns]],
        cfg, conjunctive, require_k=True)
    if per_doc is None:
        return spark.createDataFrame([], schema)
    per_doc = per_doc.withColumn("k", _per_query(
        dict(zip(queries["query_id"], queries["k"]))))
    order = [
        (F.col(k).asc_nulls_last() if a else F.col(k).desc_nulls_last())
        for k, a in zip(keys, asc)
    ] + [F.asc("doc_id")]
    # LEFT join: a matching doc absent from the supplied stats frame
    # keeps NULL sort keys and sorts last (the docstring's NULL
    # contract) instead of silently vanishing from the result page
    hits = per_doc.join(
        doc_stats.select(
            "doc_id",
            *[F.col(sf).alias(k) for sf, k in zip(fields, keys)]),
        "doc_id", "left",
    )
    acols = (["after_key"] if single
             else [f"after_key_{i}" for i in range(len(fields))])
    has_after = ("after_doc" in queries.columns
                 or any(a in queries.columns for a in acols))
    if has_after:
        missing = [a for a in acols + ["after_doc"]
                   if a not in queries.columns]
        if missing:
            raise ValueError(
                f"search_after needs ALL cursor columns; missing "
                f"{missing}")
        cur = queries[queries["after_doc"].notna()]
        if len(cur):
            ccols = [f"_c{i}" for i in range(len(fields))]

            def _coerce(v, t):
                # a cursor column that carried NaN rows is float64 in
                # pandas — hand Spark the declared type's Python value
                # (rows here = cursored queries only, so per-value is
                # fine)
                if v is None or pd.isna(v):
                    return None
                if t in ("bigint", "int", "smallint", "tinyint"):
                    return int(v)
                if t in ("double", "float"):
                    return float(v)
                return v

            rows_ = [
                tuple([int(r.query_id)]
                      + [_coerce(getattr(r, a), t)
                         for a, t in zip(acols, key_ts)]
                      + [int(r.after_doc)])
                for r in cur.itertuples(index=False)
            ]
            cschema = ", ".join(
                ["query_id int"]
                + [f"{cc} {t}" for cc, t in zip(ccols, key_ts)]
                + ["_adoc long"])
            cdf = spark.createDataFrame(rows_, schema=cschema)
            hits = hits.join(F.broadcast(cdf), "query_id", "left")
            # strictly-after in the lexicographic (key_0 dir_0, ...,
            # doc_id ASC) order with nulls-last at every level:
            #   after_i : this row sorts past the cursor at level i
            #             (nothing sorts after a NULL cursor key
            #             except by deeper levels among null ties)
            #   tie_i   : null-safe equality (NULL == NULL ties)
            expr = F.lit(False)
            ties = F.lit(True)
            for kcol, cc, a in zip(keys, ccols, asc):
                kc, cv = F.col(kcol), F.col(cc)
                beyond = (kc > cv) if a else (kc < cv)
                after_i = F.when(cv.isNull(), F.lit(False)) \
                    .otherwise(beyond | kc.isNull())
                expr = expr | (ties & after_i)
                ties = ties & kc.eqNullSafe(cv)
            expr = expr | (ties & (F.col("doc_id") > F.col("_adoc")))
            hits = hits.where(
                F.col("_adoc").isNull() | expr).drop(*ccols, "_adoc")
    return _salted_topk(
        hits, order, ["query_id", "doc_id", *keys, "rank"])


def _synonym_groups_pdf(queries: pd.DataFrame, cfg: BuildConfig):
    """Parse the synonym-group query syntax: groups separated by
    whitespace, members by '|' — `car|auto engine` is two groups.
    Members tokenize individually (a member tokenizing to several
    terms contributes each). Returns one row per (query, group,
    member term), deduplicated within a group."""
    _check_unique_ids(queries)
    rows = []
    for q in queries.itertuples(index=False):
        gid, k = 0, _check_k(q.query_id, q.k)
        for chunk in str(q.text).split():
            members: set[str] = set()
            for m in chunk.split("|"):
                members.update(tokenize_py(m, cfg))
            if not members:
                continue
            for t in sorted(members):
                rows.append((int(q.query_id), gid, t, k))
            gid += 1
    return pd.DataFrame(rows, columns=["query_id", "gid", "term", "k"])


def synonym_topk(
    spark: SparkSession,
    postings: DataFrame,
    queries: pd.DataFrame,
    N: int,
    avgdl: float,
    cfg: BuildConfig | None = None,
) -> DataFrame:
    """Blended synonym scoring (Lucene SynonymQuery): each
    '|'-separated group in a query's text scores as ONE pseudo-term —
    per doc, tf = Σ member tfs; df = MAX member df (Lucene
    SynonymWeight's docFreq = max, so the group's idf equals its most
    common member's); idf and the BM25 saturation apply to the
    blended tf. Groups sum like ordinary query terms. `car|auto
    engine` ranks docs by score(tf_car + tf_auto, df=max) +
    score(tf_engine).

    Scale shape: In(term)-pruned scan; a narrow (query, gid, doc, tf,
    dl) Arrow pass; per-(query, gid, doc) tf sum; scoring is a pure
    JVM column expression (whole-stage codegen — the blended score
    never touches Python); per-(query, doc) sum; salted two-phase
    top-k. Group df maxes are driver-side over the per-term df rows
    (#distinct query terms — tiny)."""
    cfg = cfg or BuildConfig()
    qt = _synonym_groups_pdf(queries, cfg)
    if qt.empty:
        return spark.createDataFrame([], RESULT_SCHEMA)
    qdf = pdf_frame(spark, qt)
    terms = sorted(qt["term"].unique().tolist())
    filtered = postings.where(_in_list("term", terms))
    if "pos" in filtered.columns:
        filtered = filtered.drop("pos")
    df_map = _term_df_map(filtered)
    # blended df per (query, group) = max member df; groups with every
    # member OOV never produce rows (correct: no posting, no match)
    gdf = (
        qt.assign(tdf=qt["term"].map(df_map).fillna(0).astype(np.int64))
        .groupby(["query_id", "gid"], as_index=False)["tdf"].max()
    )
    gidf = pdf_frame(
        spark, gdf.assign(idf=[float(idf_fn(N, int(d))) for d in gdf["tdf"]])
        [["query_id", "gid", "idf"]]
    )
    matched = filtered.join(F.broadcast(qdf), "term")

    def tf_rows(it):
        for pdf in it:
            for row in pdf.itertuples(index=False):
                docs, tfs, dls = _decode_posting(row.doc_ids, row.tfs, row.dls)
                yield pd.DataFrame(
                    {"query_id": np.full(docs.size, row.query_id,
                                         np.int32),
                     "gid": np.full(docs.size, row.gid, np.int32),
                     "doc_id": docs.astype(np.int64),
                     "tf": tfs,
                     "dl": dls,
                     "k": np.full(docs.size, row.k, np.int32)}
                )

    narrow = matched.select(
        "query_id", "gid", "k", "doc_ids", "tfs", "dls"
    ).mapInPandas(
        tf_rows,
        schema="query_id int, gid int, doc_id long, tf long, dl long, "
               "k int",
    )
    blended = narrow.groupBy("query_id", "gid", "doc_id").agg(
        F.sum("tf").alias("tf"), F.first("dl").alias("dl"),
        F.first("k").alias("k"))
    # BM25 over the blended tf — pure codegen expression
    tf, dl = F.col("tf").cast("double"), F.col("dl").cast("double")
    denom = tf + F.lit(cfg.k1) * (
        F.lit(1.0 - cfg.b) + F.lit(cfg.b) * dl / F.lit(float(avgdl)))
    contrib = F.col("idf") * tf * F.lit(cfg.k1 + 1.0) / denom
    scored = (
        blended.join(F.broadcast(gidf), ["query_id", "gid"])
        .withColumn("contrib", contrib)
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").alias("score"), F.first("k").alias("k"))
    )
    return _salted_topk(scored)


@_ranked()
def boolean_topk(
    spark: SparkSession,
    postings: DataFrame,
    queries: pd.DataFrame,
    N: int,
    avgdl: float,
    cfg: BuildConfig | None = None,
    mode: str = "auto",
    max_kernel_df: int = 20_000_000,
    max_kernel_bytes: int = 32 << 20,
    doc_filter: DataFrame | np.ndarray | None = None,
    doc_exclude: DataFrame | np.ndarray | None = None,
    max_kernel_filter: int = 4_000_000,
) -> DataFrame:
    """Lucene BooleanQuery: per-query MUST / SHOULD / MUST_NOT clauses.

    queries: pandas (query_id, must, should, must_not, k) — each clause
    a text field tokenized like any query (empty/None = no clause).
    Semantics (Lucene's): candidates contain ALL MUST terms (with no
    MUST clause, ANY SHOULD term); docs containing ANY MUST_NOT term
    are excluded — per QUERY, unlike the batch-global doc_exclude;
    score = BM25 over the matched MUST+SHOULD terms with corpus-global
    stats. Clause overlap rules: a term in both MUST and MUST_NOT is a
    contradiction (that query returns nothing); SHOULD∩MUST_NOT terms
    drop from scoring (no surviving doc can contain them); SHOULD∩MUST
    dedups into MUST. An out-of-vocabulary MUST term empties the query;
    OOV SHOULD/MUST_NOT terms are ignored. A query with no positive
    terms returns nothing.

    An optional `min_should_match` column (default 0; Lucene's
    minimumNumberShouldMatch) requires every hit to match at least
    that many DISTINCT SHOULD terms on top of the MUST set; a query
    whose min_should_match exceeds its SHOULD clause count is provably
    empty (OOV SHOULD terms can never match, so they only make the
    requirement harder — same as Lucene).

    Execution is bm25_topk's: the clauses compile to its term-query
    frame (must / should / not rows) and run on its kernel and
    distributed runners, so MUST_NOT postings ride the same pruned scan
    and a pure-SHOULD batch prunes like a disjunctive bm25 query; "auto"
    routes per query on Σ df and Σ bytes over ALL its terms (NOT terms
    occupy task memory too). doc_filter / doc_exclude apply
    batch-globally on top (Lucene filter + liveDocs). An offset or
    search_after column raises: this surface does not page.

    Returns (query_id, doc_id, score, rank) — rank ties by doc_id —
    ordered by (query_id, rank): its <= Σ k rows are sorted in one
    task.
    """
    cfg = cfg or BuildConfig()
    missing = {"must", "should", "must_not", "k"} - set(queries.columns)
    if missing:
        # explicit: a typo'd clause column (mustnot, shoulds) must not
        # silently evaluate as an empty clause
        raise ValueError(
            f"boolean_topk queries missing columns {sorted(missing)}; "
            "pass empty strings for unused clauses"
        )
    _reject_paging(queries, "boolean_topk")
    _check_unique_ids(queries)
    rows = []
    def _clause(v):
        # "empty/None = no clause" includes pandas NaN (the normal
        # missing-string representation — NaN is truthy, so `or ""`
        # alone would pass a float into the tokenizer)
        return v if isinstance(v, str) else ""

    for q in queries.itertuples(index=False):
        qid, k = int(q.query_id), _check_k(q.query_id, q.k)
        must = sorted(set(tokenize_py(_clause(q.must), cfg)))
        nots = set(tokenize_py(_clause(q.must_not), cfg))
        if set(must) & nots:
            continue  # required AND prohibited — provably empty
        should = sorted(
            set(tokenize_py(_clause(q.should), cfg)) - set(must) - nots
        )
        if not must and not should:
            continue  # no positive clause
        msm = getattr(q, "min_should_match", 0)
        msm = (0 if msm is None or pd.isna(msm)
               else _check_k(qid, msm, "min_should_match"))
        if msm > len(should):
            continue  # cannot be satisfied — provably empty (Lucene)
        for role, ts in (("must", must), ("should", should),
                         ("not", sorted(nots))):
            rows.extend((qid, t, k, role, len(must), msm) for t in ts)
    qt = pd.DataFrame(
        rows, columns=["query_id", "term", "k", "role", "n_must", "msm"]
    )
    return _term_query(
        spark, postings, qt, N, avgdl, cfg, mode, max_kernel_df,
        max_kernel_bytes, doc_filter, doc_exclude, max_kernel_filter)


def _merge_term_rows(grp, with_pos: bool):
    """Decode and doc-merge one term's posting rows (index segments).
    Returns (docs, tfs, dls, pos_flat, pair_bounds); pos fields None
    unless with_pos."""
    # the payload columns read directly: itertuples would build a
    # namedtuple class and slice every column of grp on each call
    parts = [_decode_posting(*r) for r in
             zip(grp["doc_ids"], grp["tfs"], grp["dls"])]
    docs = np.concatenate([p[0] for p in parts])
    tfs = np.concatenate([p[1] for p in parts])
    dls = np.concatenate([p[2] for p in parts])
    pos = None
    if with_pos:
        from capsbm25.codec import decode_pair_positions

        pos = np.concatenate([
            decode_pair_positions(b, p[1])
            for b, p in zip(grp["pos"], parts)
        ])
    if len(parts) > 1:
        order = np.argsort(docs, kind="stable")
        if with_pos:
            from capsbm25.codec import permute_pair_payload

            pos = permute_pair_payload(pos, tfs, order)
        docs, tfs, dls = docs[order], tfs[order], dls[order]
    bounds = np.concatenate(([0], np.cumsum(tfs))) if with_pos else None
    return docs, tfs, dls, pos, bounds


@_ranked()
def phrase_topk(
    spark: SparkSession,
    postings: DataFrame,
    queries: pd.DataFrame,
    N: int,
    avgdl: float,
    cfg: BuildConfig | None = None,
    mode: str = "auto",
    max_kernel_df: int = 20_000_000,
    max_kernel_bytes: int = 32 << 20,
    count_scores: bool = False,
    doc_filter: DataFrame | np.ndarray | None = None,
    doc_exclude: DataFrame | np.ndarray | None = None,
    max_kernel_filter: int = 4_000_000,
    near: tuple | None = None,
) -> DataFrame:
    """Exact phrase top-k: docs containing the query tokens CONSECUTIVELY
    in order, ranked by BM25 over the phrase's distinct terms — the
    functional analog of the reference's substring match-range query
    (``upper_bound``, /root/reference/src/Suffix_Array.cpp:252-297): the
    suffix array answers "which positions match this string"; positional
    postings answer the same at token granularity. Requires an index
    built with cfg.index_positions=True (raises otherwise).

    queries: pandas (query_id, text, k); the text IS the phrase.
    Returns (query_id, doc_id, score, rank), ordered by
    (query_id, rank): its <= Σ k rows are sorted in one task.

    Modes mirror bm25_topk: "kernel" concentrates a query's matched
    postings in one task; "distributed" finds the AND candidates on the
    term engine's producer, shuffles (doc, token ordinal, position)
    rows of the candidates only and verifies them in per-query batches
    — no task ever holds a whole hot posting;
    "auto" (default) routes on Σ df > max_kernel_df or Σ payload bytes
    > max_kernel_bytes.

    count_scores=True ranks by the EXACT (overlap-counting) number of
    phrase occurrences instead of BM25 — the scoring used by
    substring_topk, where trigram idf is meaningless.

    doc_filter / doc_exclude: same Lucene filter + liveDocs semantics
    and routing as bm25_topk (candidates restricted, scoring stats stay
    corpus-global) — in particular doc_exclude=load_tombstones(...)
    masks streaming deletes for phrase/substring queries too.
    """
    cfg = cfg or BuildConfig()
    _check_unique_ids(queries)
    # one term-frame row per distinct token; tok = its ordinal in the
    # query's sorted distinct tokens. The phrase itself stays on the
    # driver as a list of ordinals (phrases[qid]), read by the runners'
    # closures — no token string or phrase array rides any row
    rows, phrases = [], {}
    for q in queries.itertuples(index=False):
        k = _check_k(q.query_id, q.k)
        phrase = tokenize_py(q.text, cfg)
        distinct = sorted(set(phrase))
        tok = {t: i for i, t in enumerate(distinct)}
        if phrase:
            phrases[int(q.query_id)] = [tok[t] for t in phrase]
        rows += [(int(q.query_id), t, i, k) for i, t in enumerate(distinct)]
    qt = pd.DataFrame(rows, columns=["query_id", "term", "tok", "k"])
    if qt.empty:
        return spark.createDataFrame([], RESULT_SCHEMA)
    qdf = pdf_frame(spark, qt)
    terms = sorted(qt["term"].unique().tolist())
    filtered = postings.where(_in_list("term", terms))
    # the one positions guard: every matched posting row must carry a
    # pos payload, checked in the scan before any shuffle or Python
    # stage (a non-positional index raises here in every mode)
    matched = filtered.join(F.broadcast(qdf), "term").where(F.assert_true(
        F.coalesce(F.length("pos"), F.lit(0)) > 0,
        "phrase_topk requires an index built with index_positions=True "
        "(pos payload is empty)").isNull())

    mode, doc_filter, doc_exclude, filt_bc, excl_bc, empty = \
        _prep_doc_sets(spark, mode, doc_filter, doc_exclude,
                       max_kernel_filter)
    if empty:
        return spark.createDataFrame([], RESULT_SCHEMA)

    return _dispatch_modes(
        mode, matched, qt, filtered, max_kernel_df, max_kernel_bytes,
        run_kernel=lambda m: _run_phrase_kernel(
            m, phrases, N, avgdl, cfg, count_scores, filt_bc, excl_bc,
            near=near),
        run_distributed=lambda m, dfm, qids=None:
        _run_phrase_distributed(
            m, dfm, phrases, N, avgdl, cfg, count_scores, doc_filter,
            doc_exclude, qt, near=near, filt_bc=filt_bc, excl_bc=excl_bc),
    )


@_ranked()
def near_topk(
    spark: SparkSession,
    postings: DataFrame,
    queries: pd.DataFrame,
    N: int,
    avgdl: float,
    cfg: BuildConfig | None = None,
    window: int = 8,
    ordered: bool = False,
    mode: str = "auto",
    max_kernel_df: int = 20_000_000,
    max_kernel_bytes: int = 32 << 20,
    doc_filter: DataFrame | np.ndarray | None = None,
    doc_exclude: DataFrame | np.ndarray | None = None,
    max_kernel_filter: int = 4_000_000,
) -> DataFrame:
    """Proximity top-k (Lucene SpanNearQuery / the NEAR operator): docs
    where ALL the query's distinct terms occur within a span of
    `window` tokens, ranked by BM25 over those terms with corpus-global
    stats (exactly phrase_topk's scoring — NEAR is phrase with the
    consecutive-and-ordered constraint relaxed to a window).

    ordered=True additionally requires the matched positions to follow
    the query's term order (SpanNearQuery inOrder; requires distinct
    query terms) — this variant is fully vectorized (greedy-minimal
    successor chains over composite keys); unordered runs a two-pointer
    minimal-window pass per candidate doc inside the batch kernels.

    Same positional-index requirement, execution modes, routing,
    doc_filter/doc_exclude semantics and result as phrase_topk
    ((query_id, doc_id, score, rank), ordered by (query_id, rank): its
    <= Σ k rows are sorted in one task); phrase_topk(text) ==
    near_topk(text, window=len(tokens), ordered=True) on
    duplicate-free phrases (tested).
    """
    cfg = cfg or BuildConfig()
    window = int(window)
    if window < 1:
        raise ValueError("window must be >= 1 token")
    if ordered:
        for t in queries.itertuples(index=False):
            toks = tokenize_py(t.text, cfg)
            if len(toks) != len(set(toks)):
                raise ValueError(
                    "ordered NEAR requires distinct query terms; "
                    f"duplicates in {t.text!r}"
                )
    return phrase_topk.unordered(
        spark, postings, queries, N, avgdl, cfg, mode=mode,
        max_kernel_df=max_kernel_df, max_kernel_bytes=max_kernel_bytes,
        doc_filter=doc_filter, doc_exclude=doc_exclude,
        max_kernel_filter=max_kernel_filter,
        near=(window, bool(ordered)),
    )


def _gather_ranges(values: np.ndarray, starts: np.ndarray,
                   ends: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Concatenate values[starts[i]:ends[i]] for all i without a Python
    loop. Returns (gathered, lens)."""
    lens = ends - starts
    total = int(lens.sum())
    if total == 0:
        return values[:0], lens
    offsets = np.cumsum(lens) - lens  # start of each range in output
    idx = np.arange(total, dtype=np.int64) \
        - np.repeat(offsets, lens) + np.repeat(starts, lens)
    return values[idx], lens


def _near_hit_ranks(
    tokens: list[str], streams: dict, M: int, window: int, ordered: bool
) -> np.ndarray:
    """Doc ranks (composite key // M) where ALL distinct tokens occur
    within a `window`-token span — the NEAR verifier shared by the
    kernel and the distributed batch verify.

    streams: distinct token -> SORTED array of composite keys
    (doc_rank * M + pos); requires window < M (callers size M past the
    max position) so a window can never straddle two docs' key ranges.

    ordered=True (SpanNearQuery inOrder): positions must follow token
    order — fully vectorized greedy chain: for every first-token
    occurrence take the SMALLEST later occurrence of each next token
    (greedy-minimal successors minimize the final span, so existence is
    exact), then keep chains spanning <= window-1.

    ordered=False: ALSO fully vectorized via the anchor reformulation:
    a position set has span <= window-1 iff, taking its MINIMUM p as
    the anchor, every token has an occurrence in [p, p+window-1]; the
    anchor of any witness is some token's position, so testing every
    position of every token as an anchor (one searchsorted per token
    over all anchors at once) is exact — no per-position Python, the
    same no-row-at-a-time contract as the rest of the engine. A window
    never straddles docs because window < M."""
    toks = list(dict.fromkeys(tokens))
    if ordered:
        start = streams[toks[0]]
        cur = start
        for t in toks[1:]:
            arr = streams[t]
            ix = np.searchsorted(arr, cur, side="right")
            ok = ix < arr.size
            start, cur = start[ok], arr[ix[ok]]
            same = (cur // M) == (start // M)
            start, cur = start[same], cur[same]
            if start.size == 0:
                return np.zeros(0, dtype=np.int64)
        hit = start[(cur - start) <= (window - 1)]
        return np.unique(hit // M)
    anchors = np.concatenate([streams[t] for t in toks])
    ok = np.ones(anchors.size, dtype=bool)
    for t in toks:
        arr = streams[t]
        lo = np.searchsorted(arr, anchors, side="left")
        has = lo < arr.size
        has[has] = arr[lo[has]] <= anchors[has] + (window - 1)
        ok &= has
        if not ok.any():
            return np.zeros(0, dtype=np.int64)
    return np.unique(anchors[ok] // M)


def _phrase_occurrences(
    phrase: list[str], term_data: dict, cand: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized consecutive-position verify over ALL candidate docs at
    once (replaces the per-doc Python loop): encode each candidate's
    (doc, pos) pairs as rank(doc) * M + pos composite keys and intersect
    token streams with per-token offsets. Dense ranks (not raw doc ids)
    keep the key in int64 at any corpus size. Positions per (term, doc)
    are strictly increasing by construction, so keys are unique and the
    sorted intersects are exact.

    term_data: term -> (docs, tfs, dls, pos_flat, bounds) as produced by
    _merge_term_rows(with_pos=True); cand must be sorted ascending and a
    subset of every phrase term's docs.

    Returns (hit_docs, n_occurrences) — docs with >= 1 phrase match and
    the exact (overlap-counting) match count per hit doc.
    """
    if cand.size == 0:
        return cand, np.zeros(0, dtype=np.int64)
    tok_keys: list[np.ndarray] = []
    max_pos = 0
    gathered = {}
    for tok in dict.fromkeys(phrase):  # each distinct token gathered once
        docs, _, _, pos, bounds = term_data[tok]
        ix = np.searchsorted(docs, cand)
        vals, lens = _gather_ranges(pos, bounds[ix], bounds[ix + 1])
        gathered[tok] = (vals, lens)
        if vals.size:
            max_pos = max(max_pos, int(vals.max()))
    M = max_pos + len(phrase) + 2
    for tok in phrase:
        vals, lens = gathered[tok]
        ranks = np.repeat(
            np.arange(cand.size, dtype=np.int64), lens
        )
        tok_keys.append(ranks * M + vals)
    s = tok_keys[0]
    for off in range(1, len(phrase)):
        s = np.intersect1d(s, tok_keys[off] - off, assume_unique=True)
        if s.size == 0:
            return cand[:0], np.zeros(0, dtype=np.int64)
    hit_ranks, counts = np.unique(s // M, return_counts=True)
    return cand[hit_ranks], counts


def _run_phrase_kernel(matched, phrases: dict, N, avgdl, cfg,
                       count_scores: bool = False,
                       filt_bc=None, excl_bc=None,
                       near: tuple | None = None) -> DataFrame:
    # phrases: qid -> the phrase as token ordinals (phrase_topk's tok)
    if count_scores and near:
        raise ValueError("count scoring is phrase/substring-only")

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        k = int(pdf["k"].iloc[0])
        qid = int(pdf["query_id"].iloc[0])
        phrase = phrases[qid]
        distinct = sorted(set(phrase))
        if pdf["tok"].nunique() < len(distinct):
            return _empty_result()  # a phrase token is out-of-vocab
        term_data = {tok: _merge_term_rows(grp, with_pos=True)
                     for tok, grp in pdf.groupby("tok", sort=True)}
        # candidates: docs containing ALL distinct tokens
        cand = term_data[distinct[0]][0]
        for t in distinct[1:]:
            cand = np.intersect1d(cand, term_data[t][0], assume_unique=True)
            if cand.size == 0:
                return _empty_result()
        # filter/liveDocs masks apply to the candidate set only —
        # per-term postings (and so df/idf) stay corpus-global
        if filt_bc is not None:
            cand = np.intersect1d(cand, filt_bc.value, assume_unique=True)
        if excl_bc is not None:
            cand = np.setdiff1d(cand, excl_bc.value, assume_unique=True)
        if cand.size == 0:
            return _empty_result()

        if near is None:
            hit_arr, n_occ = _phrase_occurrences(phrase, term_data, cand)
        else:
            window, ordered = near
            streams = {}
            max_pos = 0
            for tok in dict.fromkeys(phrase):
                docs, _, _, pos, bounds = term_data[tok]
                ix = np.searchsorted(docs, cand)
                vals, lens = _gather_ranges(pos, bounds[ix], bounds[ix + 1])
                streams[tok] = (vals, lens)
                if vals.size:
                    max_pos = max(max_pos, int(vals.max()))
            M = max_pos + max(len(phrase), int(window)) + 2
            streams = {
                tok: np.repeat(
                    np.arange(cand.size, dtype=np.int64), lens
                ) * M + vals
                for tok, (vals, lens) in streams.items()
            }
            hit_ranks = _near_hit_ranks(phrase, streams, M, window, ordered)
            hit_arr, n_occ = cand[hit_ranks], None
        if hit_arr.size == 0:
            return _empty_result()
        if count_scores:
            # substring semantics: exact overlap-counting match count
            top_d, top_s = _topk(hit_arr, n_occ.astype(np.float64), k)
            return _result_pdf(qid, top_d, top_s)
        # BM25 over the distinct phrase terms, query-time N/avgdl
        total = np.zeros(hit_arr.size, dtype=np.float64)
        for t in distinct:
            docs, tfs, dls, _, _ = term_data[t]
            grp_df = int(pdf[pdf["tok"] == t]["df"].sum())
            sc = term_scores(tfs, dls, float(idf_fn(N, grp_df)), avgdl,
                             cfg.k1, cfg.b)
            ix = np.searchsorted(docs, hit_arr)
            total += sc[ix]
        top_d, top_s = _topk(hit_arr, total, k)
        return _result_pdf(qid, top_d, top_s)

    # explicit projection: block_max/cf ride Arrow unused otherwise
    # (pos IS needed here — this kernel verifies positions)
    return matched.select(
        "query_id", "tok", "df", "doc_ids", "tfs", "dls", "pos", "k",
    ).groupBy("query_id").applyInPandas(
        kernel, schema=RESULT_SCHEMA
    )


def _run_phrase_distributed(matched, df_map, phrases: dict, N, avgdl, cfg,
                            count_scores: bool = False,
                            doc_filter: DataFrame | None = None,
                            doc_exclude: DataFrame | None = None,
                            qt: pd.DataFrame | None = None,
                            near: tuple | None = None,
                            filt_bc=None, excl_bc=None) -> DataFrame:
    """Scale path, two passes so positions only ship for AND candidates:

    1. CANDIDATE pass on the term engine's producer (_doc_partials):
       per task, one row per (query, distinct doc) with its matched-term
       count nm and (unless count_scores) its summed BM25 contribution;
       one JVM sum per (query, doc) keeps the docs whose nm equals the
       query's distinct-token count — the AND candidates, already
       carrying their final score. This is _match_docs' fold: no term
       string crosses the exchange.
    2. POSITIONS pass — the posting rows decode again with the
       positional payload, masked by the candidate set BEFORE any row
       is built, into flat (query_id, tok, doc_id, pos) rows (tok = the
       token's ordinal, see phrase_topk). Verification then runs in
       (query, salt) batch groups; each query's phrase (as ordinals)
       and k come from the driver-side dicts in the closure.

    phrases: qid -> the phrase as token ordinals. doc_filter /
    doc_exclude (or their sorted-id broadcasts filt_bc / excl_bc) mask
    pass 1, so positions are never decoded for filtered-out docs.

    No task ever holds a whole posting list, and the expensive payload
    volume is O(candidates x tf), not O(Σ df x tf) — a stopword-grade
    phrase term costs one narrow shuffle, not a positional one (at the
    price of decoding the matched postings twice, which is cheap next
    to shuffled bytes at cluster scale)."""
    if count_scores and near:
        raise ValueError("count scoring is phrase/substring-only")
    from capsbm25.codec import decode_pair_positions

    session = matched.sparkSession
    ks = {int(q): int(k) for q, k in zip(qt["query_id"], qt["k"])}
    # count_scores ranks by the verify pass's exact match counts — idf
    # over chargrams is meaningless (and N may be a dummy), so pass 1
    # is membership only and decodes doc_ids alone
    score = None if count_scores else _bm25_scorer(df_map, N, avgdl, cfg)
    cols = ([] if count_scores else ["term", "tfs", "dls"]) + [
        "query_id", "doc_ids", F.lit(1).alias("nm")]
    sums = [F.sum("nm").alias("nm")] + (
        [] if count_scores else [F.sum("contrib").alias("score")])
    and_docs = (
        _doc_partials(matched.select(*cols), score, None, filt_bc,
                      excl_bc, doc_filter, doc_exclude)
        .groupBy("query_id", "doc_id").agg(*sums)
        .where(F.col("nm") == _per_query(
            {q: len(set(p)) for q, p in phrases.items()}))
        .drop("nm")
    )

    # Bounded collect of the AND-candidate set (small by construction:
    # docs containing ALL phrase terms). When it fits, TWO wins over the
    # join-only path: (a) the positions kernel masks candidates BEFORE
    # materializing rows, so a stopword-grade phrase term emits
    # O(cand x tf) Arrow rows instead of O(cf x tf) — measured 86s ->
    # ~2s for the 1.05M-turn corpus whose phrases hit head terms; (b)
    # the collected set becomes the broadcast join side directly, so
    # pass 1 is not re-executed by the join. PERSIST first: the probe,
    # the over-cap candidate-list build, and the final join would each
    # re-execute pass 1 otherwise.
    and_docs = and_docs.persist()
    cand_pdf = arrow_collect(and_docs.limit(MAX_CAND_COLLECT + 1))
    cand_bc = None
    pos_src = matched.select("query_id", "tok", "doc_ids", "tfs", "pos")
    if len(cand_pdf) <= MAX_CAND_COLLECT:
        and_docs.unpersist()
        if cand_pdf.empty:
            return session.createDataFrame([], RESULT_SCHEMA)
        cand_bc = session.sparkContext.broadcast({
            int(qid): np.sort(g["doc_id"].to_numpy(np.int64))
            for qid, g in cand_pdf.groupby("query_id")
        })
        and_docs = F.broadcast(arrow_frame(session, cand_pdf))
    else:
        # Over the collect cap the candidate set stays DISTRIBUTED,
        # CHUNKED by doc-id range and merged into runs of consecutive
        # chunks (bounds: see CAND_CHUNK_SPAN): one sorted cand_docs row
        # per (query, run), joined on query_id onto the query's posting
        # rows, so the positions kernel still masks before building any
        # row and the disjoint runs union duplicate-free. The persisted
        # and_docs outlives this call until the result DataFrame is
        # released (Spark's ContextCleaner unpersists it once the plan
        # is garbage-collected; the final join below executes lazily).
        _logger.info(
            "positions pass: distributed chunked candidate mask engaged "
            "(candidate rows > MAX_CAND_COLLECT=%d, chunk span %d)",
            MAX_CAND_COLLECT, CAND_CHUNK_SPAN,
        )
        chunked = and_docs.select("query_id", "doc_id").withColumn(
            "cand_chunk",
            F.floor(F.col("doc_id") / F.lit(int(CAND_CHUNK_SPAN))),
        )
        # a per-query running sum over the chunk-count rows (never the
        # candidate rows) starts a new run every ~span candidates
        wq = Window.partitionBy("query_id").orderBy("cand_chunk")
        groups = (
            chunked.groupBy("query_id", "cand_chunk").count()
            .withColumn(
                "grp",
                F.floor(
                    (F.sum("count").over(wq) - F.col("count"))
                    / F.lit(int(CAND_CHUNK_SPAN))
                ),
            )
            .drop("count")
        )
        cand_lists = (
            chunked.join(groups, ["query_id", "cand_chunk"])
            .groupBy("query_id", "grp")
            .agg(F.sort_array(F.collect_list("doc_id")).alias("cand_docs"))
            .drop("grp")
        )
        pos_src = pos_src.join(cand_lists, "query_id")

    def pos_rows(it):
        # FLAT (query, tok, doc, pos) rows — one np.repeat per posting
        # row, zero per-doc Python objects; the candidate mask
        # (broadcast map under the cap, joined cand_docs column over it)
        # applies before any row is built
        cand_map = cand_bc.value if cand_bc is not None else None
        for pdf in it:
            for row in pdf.itertuples(index=False):
                cand = (np.asarray(row.cand_docs, dtype=np.int64)
                        if cand_map is None
                        else cand_map.get(int(row.query_id)))
                if cand is None:
                    continue
                docs = delta_decode(row.doc_ids)
                tfs = decode_varints(row.tfs).astype(np.int64)
                pos = decode_pair_positions(row.pos, tfs)
                keep = sorted_member_mask(cand, docs)
                if not keep.all():
                    pos = pos[np.repeat(keep, tfs)]
                    docs, tfs = docs[keep], tfs[keep]
                if docs.size == 0:
                    continue
                yield pd.DataFrame(
                    {
                        "query_id": np.full(pos.size, row.query_id, np.int32),
                        "tok": np.full(pos.size, row.tok, np.int32),
                        "doc_id": np.repeat(docs, tfs).astype(np.int64),
                        "pos": pos.astype(np.int64),
                    }
                )

    p = pos_src.mapInPandas(
        pos_rows,
        schema="query_id int, tok int, doc_id long, pos long",
    )
    joined = p.join(and_docs, ["query_id", "doc_id"])

    def verify(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        # BATCH verify: one vectorized composite-key intersect over ALL
        # docs in the salt bucket at once — the flat-row analog of the
        # kernel's _phrase_occurrences. A per-(query, doc) group shape
        # measured 134s on 1.05M-turn stopword phrases purely from
        # Python-call overhead (one applyInPandas group per candidate
        # doc); this is the same math at ~SALT groups per query.
        qid = int(key[0])
        phrase = phrases[qid]
        doc_arr = pdf["doc_id"].to_numpy(np.int64)
        pos_arr = pdf["pos"].to_numpy(np.int64)
        tok_arr = pdf["tok"].to_numpy(np.int64)
        ranks, uniq_docs = pd.factorize(doc_arr, sort=True)
        M = int(pos_arr.max()) + max(
            len(phrase), int(near[0]) if near else 0) + 2
        # np.unique sorts AND dedups — a duplicated (tok, doc, pos) row
        # (should not exist; segments keep a doc whole) would otherwise
        # break intersect1d's assume_unique contract
        streams = {
            tok: np.unique(ranks[tok_arr == tok] * M
                           + pos_arr[tok_arr == tok])
            for tok in dict.fromkeys(phrase)
        }
        if near is not None:
            hit_ranks = _near_hit_ranks(phrase, streams, M, *near)
        else:
            s = streams[phrase[0]]
            for off, tok in enumerate(phrase[1:], start=1):
                s = np.intersect1d(s, streams[tok] - off,
                                   assume_unique=True)
            hit_ranks, counts = np.unique(s // M, return_counts=True)
        hit_docs = np.asarray(uniq_docs)[hit_ranks]
        if count_scores:
            scores = counts.astype(np.float64)
        else:
            # the BM25 score rides the and_docs side, one value per doc
            per_doc = pdf.drop_duplicates("doc_id").set_index("doc_id")
            scores = per_doc["score"].to_numpy(np.float64)[
                per_doc.index.get_indexer(hit_docs)]
        return pd.DataFrame(
            {"query_id": np.full(hit_docs.size, qid, np.int32),
             "doc_id": hit_docs,
             "score": scores,
             "k": np.full(hit_docs.size, ks[qid], np.int32)}
        )

    verified = joined.withColumn(
        "vsalt", F.pmod(F.col("doc_id"), F.lit(_VERIFY_SALT))
    ).groupBy("query_id", "vsalt").applyInPandas(
        verify, schema="query_id int, doc_id long, score double, k int"
    )
    return _salted_topk(verified)


@_ranked("src_doc_id")
def more_like_this(
    spark: SparkSession,
    postings: DataFrame,
    corpus: DataFrame,
    doc_map: DataFrame,
    src_doc_ids: list[int],
    N: int,
    avgdl: float,
    cfg: BuildConfig | None = None,
    k: int = 10,
    max_terms: int = 10,
    mode: str = "auto",
    doc_filter: DataFrame | np.ndarray | None = None,
    doc_exclude: DataFrame | np.ndarray | None = None,
) -> DataFrame:
    """More-like-this (Lucene MLT): for each source doc, select its
    top max_terms terms by tf x idf (idf = the engine's BM25 idf over
    global df; ties by term asc) and run a BM25 top-k with them. Each
    query excludes exactly its OWN source doc (Lucene semantics —
    another query's source is a legitimate result): the inner top-k
    over-fetches by one, the self row drops in a post-join filter, and
    ranks renumber.

    corpus/doc_map as in kwic_snippets — source texts are fetched with
    pushed isin filters (one bounded driver fetch of len(src_doc_ids)
    rows), term dfs with one narrow pushdown-pruned postings collect
    over the sources' distinct terms only. Returns (src_doc_id, doc_id,
    score, rank), ordered by (src_doc_id, rank): its
    <= len(src_doc_ids) x k rows are sorted in one task.

    doc_filter / doc_exclude forward to the inner bm25_topk with the
    usual Lucene filter + liveDocs semantics — in particular
    doc_exclude=load_tombstones(...) keeps deleted docs out of MLT
    results on a streaming index with pending tombstones. (Sources are
    resolved from doc_map as given; pre-filter doc_map/src_doc_ids if
    deleted docs must not serve as sources either.)

    Terms absent from the index (df = 0 — corpus drift, an unmerged
    streaming segment) are SKIPPED, as in Lucene MLT: idf_fn would
    otherwise give them the maximum idf and they would crowd out every
    real term. Word tokenizers only: the selected terms travel as a
    space-joined query that bm25_topk re-tokenizes, which requires
    every term to be a tokenizer fixed point — chargram terms are not
    (use substring/phrase queries for similarity at char granularity).
    """
    cfg = cfg or BuildConfig()
    if cfg.tokenizer == "chargram":
        raise ValueError(
            "more_like_this requires a word tokenizer: chargram terms "
            "contain arbitrary characters and do not survive the "
            "query-string round-trip"
        )
    srcs = sorted(set(int(d) for d in src_doc_ids))
    if not srcs:
        return spark.createDataFrame(
            [], "src_doc_id long, doc_id long, score double, rank int")
    md = arrow_collect(
        doc_map.where(_in_list("doc_id", srcs))
        .select("doc_id", "conv_id", "turn_idx")
    )
    if md.empty:
        return spark.createDataFrame(
            [], "src_doc_id long, doc_id long, score double, rank int")
    texts = arrow_collect(
        corpus.where(_in_list("conv_id", sorted(set(md["conv_id"]))))
        .select("conv_id", "turn_idx", "text")
        .join(F.broadcast(arrow_frame(spark, md)),
              ["conv_id", "turn_idx"])
        .select("doc_id", "text")
    )
    tf_by_src = {
        int(r.doc_id): pd.Series(tokenize_py(r.text or "", cfg))
        .value_counts().to_dict()
        for r in texts.itertuples(index=False)
    }
    all_terms = sorted({t for tfs in tf_by_src.values() for t in tfs})
    if not all_terms:
        return spark.createDataFrame(
            [], "src_doc_id long, doc_id long, score double, rank int")
    df_map = _term_df_map(postings.where(_in_list("term", all_terms)))

    rows, src_of = [], {}
    for qid, (src, tfs) in enumerate(sorted(tf_by_src.items())):
        ranked = sorted(
            ((tf * idf_fn(N, df_map[t]), t) for t, tf in tfs.items()
             if df_map.get(t, 0) > 0),
            key=lambda x: (-x[0], x[1]),
        )[:max_terms]
        if not ranked:
            continue
        src_of[qid] = src
        # +1: the query's own source can occupy at most one slot
        rows.append((qid, " ".join(t for _, t in ranked), k + 1))
    queries = pd.DataFrame(rows, columns=["query_id", "text", "k"])
    queries["query_id"] = queries["query_id"].astype(np.int32)
    queries["k"] = queries["k"].astype(np.int32)

    got = bm25_topk.unordered(
        spark, postings, queries, N, avgdl, cfg, mode=mode,
        doc_filter=doc_filter, doc_exclude=doc_exclude)
    src_df = F.broadcast(pdf_frame(
        spark, pd.DataFrame({"query_id": pd.Series(list(src_of), dtype=np.int32),
                      "src_doc_id": pd.Series([src_of[q] for q in src_of],
                                              dtype=np.int64)})))
    w = Window.partitionBy("query_id").orderBy("rank")
    return (
        got.join(src_df, "query_id")
        .where(F.col("doc_id") != F.col("src_doc_id"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= F.lit(k))
        .select("src_doc_id", "doc_id", "score", "rank")
    )


def term_doc_ids(postings: DataFrame, terms: list[str]) -> DataFrame:
    """Distinct doc_ids containing ANY of the given terms — the
    building block for boolean must_not composition:
    bm25_topk(..., doc_exclude=term_doc_ids(postings, ["spam"]))
    is Lucene's MUST_NOT clause (candidates drop, scoring stats stay
    global). Pushdown-pruned scan, narrow decode, distinct."""
    f = postings.where(_in_list("term", list(terms))).select(
        F.lit(0).alias("query_id"), "doc_ids")
    return _doc_partials(f).select("doc_id").distinct()


# unbounded (max_expansions=None) expansions collect matched pairs to
# the driver up to this many rows so the postings scan gets pushed-down
# In(term)/In(part_id) predicates (file + row-group pruning); beyond
# it the match degrades to a distributed equi-join on term.
MAX_EXPANSION_COLLECT = 50_000

# the Lucene MultiTermQuery top-N rewrite bound (IndexSearcher's
# default maxClauseCount era value): an expansion query scores at most
# this many matched dictionary terms unless the caller widens/disables
# the bound. Makes wildcard/fuzzy/prefix cost independent of how many
# terms a pattern HAPPENS to match on a huge vocabulary.
MAX_EXPANSIONS_DEFAULT = 1024

# above this many distinct matched terms, a literal In(term) list costs
# more to plan/codegen than a broadcast semi-join on a tiny term frame
_ISIN_MAX_TERMS = 2048


def prefix_topk(
    spark: SparkSession,
    postings: DataFrame,
    queries: pd.DataFrame,
    cfg: BuildConfig | None = None,
    doc_filter: DataFrame | np.ndarray | None = None,
    doc_exclude: DataFrame | np.ndarray | None = None,
    dictionary: DataFrame | None = None,
    max_expansions: int | None = MAX_EXPANSIONS_DEFAULT,
) -> DataFrame:
    """Prefix query (Lucene PrefixQuery / the reference suffix array's
    term-range scan): docs containing ANY term starting with the
    pattern, ranked by the summed tf of matching terms (deterministic,
    idf-free — a prefix's expansion set makes per-term idf unstable),
    ties by doc_id.
    The ranked result (query_id, doc_id, score, rank) is ordered by
    (query_id, rank): its <= Σ k rows are sorted in one task.

    queries: pandas (query_id, text, k) — text IS the prefix, matched
    against the index's normalized terms. Word tokenizers only
    (normalization = lowercasing, so a lowered prefix is consistent
    with the term dictionary); on a chargram index a "prefix of a
    gram" is not a meaningful query — use substring_topk.

    Scale shape (round 5): the StringStartsWith predicates push into
    the DICTIONARY scan (the persisted side index, or a 2-column
    postings projection), the matched terms prune the postings scan
    via pushed In(term)/In(part_id), and scoring is the narrow decode
    + aggregate + two-phase top-k — no kernel mode because a prefix
    can expand to unboundedly many terms; no task ever holds more
    than one posting row."""
    cfg = cfg or BuildConfig()
    if cfg.tokenizer == "chargram":
        raise ValueError(
            "prefix_topk requires a word-tokenizer index; a prefix of "
            "a chargram is not meaningful — use substring_topk"
        )
    _check_unique_ids(queries)
    qpdf = queries.copy()
    qpdf["k"] = [_check_k(q, k) for q, k in zip(qpdf["query_id"], qpdf["k"])]
    qpdf["prefix"] = [str(t or "").lower() for t in qpdf["text"]]
    qpdf = qpdf[qpdf["prefix"] != ""][["query_id", "prefix", "k"]]
    return _expansion_query(
        spark, postings, qpdf,
        lambda: ({"prefix": list(qpdf["prefix"])},
                 F.col("term").startswith(F.col("prefix")),
                 _starts_any(qpdf["prefix"]), None),
        doc_filter, doc_exclude, dictionary, max_expansions)


def _expansion_matched(
    spark: SparkSession,
    postings: DataFrame,
    dictionary: DataFrame | None,
    qdf: DataFrame,
    join_cond,
    scan_cond=None,
    max_expansions: int | None = MAX_EXPANSIONS_DEFAULT,
    rank_cols=None,
    post_cols=None,
):
    """Shared head of the term-EXPANSION query family: evaluate the
    term predicate against the DICTIONARY, not the posting payloads,
    and bound how many matched terms get scored.

    The reference's sorted suffix array makes term-range expansion a
    binary search over the term dictionary
    (/root/reference/src/Suffix_Array.cpp:252-297), and Lucene walks a
    term-dictionary FST then rewrites through a bounded top-N terms
    query (MultiTermQuery's scoring rewrites). The shape here:

    1. the predicate runs over `dictionary` (term, part_id, df —
       narrow rows, one per term; the persisted build artifact when
       available, else a pruned projection of the postings). A `tlen`
       column is provided (persisted by round-6 builds for parquet
       min/max pruning; computed on the fly otherwise) so length-window
       scan conditions work against any dictionary;
    2. `post_cols` (e.g. a fuzzy edit distance) are computed on the
       MATCHED rows only, then the per-query top `max_expansions`
       terms are kept by `rank_cols` (default df DESC, term ASC — keep
       the terms that match the most documents; deterministic). The
       selection is two-phase salted so no single task ever sorts the
       full match set of a pathological pattern;
    3. the bounded (query_id, term, df, part ids) pairs collect to the
       driver — at most max_expansions x n_queries rows;
    4. queries whose final term sets are identical (a hot pattern
       repeated across a batch) form one CLASS (_expansion_classes):
       the pairs are rewritten to one row per (class, term) under the
       class id, so each posting row is fetched and decoded once per
       class. The expansion score (summed tf) has no per-query state,
       and fuzzy's edit distance only ranked the expansions above, so
       every member's result is its class's.

    The caller fetches the posting rows (_pair_postings, or the query
    string's one term pass). qdf may mix clause kinds under a
    `kind`-guarded OR of the per-kind predicates (_resolve_expansions).

    max_expansions=None disables the bound (collect capped at
    MAX_EXPANSION_COLLECT; beyond it a distributed term equi-join —
    still dictionary-driven, never a theta join over payload rows —
    with no driver pairs, so no classes).

    Returns None when nothing matched, else (pairs, classes, mass):
    pairs, the driver frame of (class id as query_id, term, df, part
    ids) rows, or on the equi-join path a distributed (term, query_id)
    frame; classes, member query_id -> class id (None on the equi-join
    path, where every query is its own class); mass, Σ df over the
    deduplicated pairs, which sizes the combine's fan-out (None when
    unknown).
    """
    dic = dictionary if dictionary is not None else postings
    cols = ["term"] + [c for c in ("part_id", "df", "tlen")
                       if c in dic.columns]
    dic = dic.select(*cols)
    if "tlen" not in dic.columns:
        # pre-round-6 dictionaries / postings projections: computed
        # (correct, just not pushed to the parquet scan)
        dic = dic.withColumn("tlen", F.length("term"))
    if "df" not in dic.columns:
        dic = dic.withColumn("df", F.lit(0).cast("long"))
    if scan_cond is not None:
        dic = dic.where(scan_cond)
    dm = dic.join(F.broadcast(qdf), join_cond)
    for name, col in (post_cols or {}).items():
        dm = dm.withColumn(name, col)
        dm = dm.where(F.col(name).isNotNull())
    has_part = "part_id" in cols

    if max_expansions is not None:
        rank_spec = rank_cols or [("df", False), ("term", True)]
        # the bound counts TERMS, not dictionary rows: a term can span
        # several rows (salted hot terms hold one dictionary row per
        # part; dictionary-less segmented indexes one per segment).
        # Round 8 shape: aggregate to ONE row per (query_id, term)
        # FIRST — per-term total df via a map-side partial agg (the old
        # per-row window sum was a full exchange + sort), post_cols are
        # per-(term, query) constants (min), part ids collect_set for
        # the scan prune. The per-term frame then takes the salted
        # phase-1 cut (no single task ever sorts a pathological
        # pattern's full match set), and the GLOBAL top-N cut happens
        # driver-side on the bounded collect (<= _TOPK_SALT x
        # max_expansions rows per query) with the same ordering — one
        # exchange and two window sorts fewer than the old
        # wt-sum/dense_rank/dense_rank cascade, same selected terms.
        aggs = [F.sum("df").alias("df")]
        if has_part:
            aggs.append(F.collect_set("part_id").alias("_pids"))
        for name in (post_cols or {}):
            aggs.append(F.min(name).alias(name))
        g = dm.groupBy("query_id", "term").agg(*aggs)
        order = [F.asc(n) if a else F.desc(n) for n, a in rank_spec]
        w1 = Window.partitionBy("query_id", "_salt").orderBy(*order)
        g = (
            g.withColumn("_salt",
                         F.pmod(F.xxhash64("term"),
                                F.lit(_TOPK_SALT)))
            .withColumn("_r1", F.row_number().over(w1))
            .where(F.col("_r1") <= int(max_expansions))
            .drop("_salt", "_r1")
        )
        pairs_pdf = arrow_collect(g)
        if pairs_pdf.empty:
            return None
        by = [n for n, _ in rank_spec]
        asc = [a for _, a in rank_spec]
        pairs_pdf = (
            pairs_pdf.sort_values(by, ascending=asc, kind="mergesort")
            .groupby("query_id", sort=False)
            .head(int(max_expansions))
        )
        hit = pairs_pdf.groupby("query_id")["term"].nunique()
        capped = hit[hit >= int(max_expansions)]
        if len(capped):  # no silent caps: say when the bound truncated
            _logger.info(
                "expansion bound max_expansions=%d reached for "
                "query_id(s) %s — scoring the top terms by rank order "
                "only (Lucene top-N rewrite semantics)",
                int(max_expansions), sorted(capped.index.tolist()),
            )
    else:
        pairs_pdf = arrow_collect(
            dm.select("term", "query_id", "df",
                      *(["part_id"] if has_part else []))
            .limit(MAX_EXPANSION_COLLECT + 1))
        if len(pairs_pdf) > MAX_EXPANSION_COLLECT:
            _logger.info(
                "unbounded term expansion over %d matched pairs exceeds "
                "MAX_EXPANSION_COLLECT=%d — distributed term equi-join "
                "engaged", len(pairs_pdf), MAX_EXPANSION_COLLECT,
            )
            return (dm.select("term", "query_id").dropDuplicates(),
                    None, None)
        if pairs_pdf.empty:
            return None
    pairs_pdf, classes = _expansion_classes(pairs_pdf)
    return pairs_pdf, classes, int(pairs_pdf["df"].sum())


def _expansion_classes(pairs_pdf: pd.DataFrame):
    """Group the batch's queries by their sorted resolved term tuple.
    A class's id is its smallest member query_id, whose pair rows are
    exactly the class's, so the rewrite keeps that member's rows (one
    per (class, term), or per (class, term, part) on the collect
    path). Returns (rewritten pairs, {member query_id: class id})."""
    first: dict[tuple, int] = {}
    classes: dict[int, int] = {}
    # groupby iterates query ids ascending: the first query seen with
    # a term set is the class's smallest member
    for qid, terms in pairs_pdf.groupby("query_id")["term"]:
        classes[int(qid)] = first.setdefault(tuple(sorted(set(terms))),
                                             int(qid))
    own = pairs_pdf["query_id"].map(classes) == pairs_pdf["query_id"]
    return pairs_pdf[own], classes


def _term_prune(spark, posts: DataFrame, terms: list[str]) -> DataFrame:
    """posts restricted to `terms`: In(term) literals below
    _ISIN_MAX_TERMS (pushed to parquet row-group stats), a broadcast
    semi-join above (literal lists that large cost more to plan and
    codegen than the join)."""
    if len(terms) <= _ISIN_MAX_TERMS:
        return posts.where(_in_list("term", terms))
    tdf = pdf_frame(spark, pd.DataFrame({"term": terms}))
    return posts.join(F.broadcast(tdf), "term", "semi")


def _pair_postings(spark, postings: DataFrame, pairs) -> DataFrame:
    """The posting rows of _expansion_matched's pairs, joined to their
    class id (query_id). Driver pairs prune the scan first: In(part_id)
    always — part counts are small and it prunes FILES on the
    partitioned layout — then _term_prune, then the broadcast (term,
    query_id) equi-join. A distributed pair frame (the unbounded
    equi-join path) joins the unpruned scan."""
    posts = postings.drop("pos") if "pos" in postings.columns else postings
    if isinstance(pairs, DataFrame):
        return posts.join(pairs, "term")
    if "_pids" in pairs.columns:  # the bounded path's per-term sets
        posts = posts.where(_in_list("part_id", sorted(
            {int(p) for lst in pairs["_pids"] for p in lst})))
    elif "part_id" in pairs.columns:
        posts = posts.where(_in_list("part_id", sorted(
            {int(p) for p in pairs["part_id"]})))
    return _term_prune(spark, posts, sorted(set(pairs["term"]))).join(
        F.broadcast(pdf_frame(
            spark, pairs[["term", "query_id"]].drop_duplicates())),
        "term")


def _expansion_query(spark, postings, qpdf: pd.DataFrame, match,
                     doc_filter, doc_exclude, dictionary, max_expansions,
                     docs_only: bool = False, ddl: str | None = None):
    """Every expansion surface after its own parsing. qpdf: the batch's
    driver rows (query_id, k); match() builds the kind's predicates for
    a non-empty batch (clause columns, join condition, scan condition,
    distance column or None — a distance ranks the expansions before
    df). Resolves the batch (_expansion_matched) and returns the ranked
    top-k (_term_expansion_topk) or, with docs_only, the membership
    (_expansion_doc_ids); empty when nothing matched."""
    schema = _EXPANSION_DOCS_SCHEMA if docs_only else RESULT_SCHEMA
    if qpdf.empty:
        return spark.createDataFrame([], schema)
    cols, join_cond, scan_cond, dist = match()
    found = _expansion_matched(
        spark, postings, dictionary,
        pdf_frame(spark, qpdf[["query_id"]].assign(**cols), ddl=ddl),
        join_cond, scan_cond=scan_cond, max_expansions=max_expansions,
        rank_cols=None if dist is None else [
            ("dist", True), ("df", False), ("term", True)],
        post_cols=None if dist is None else {"dist": dist})
    filt_bc = excl_bc = None
    empty = found is None
    if not empty and (doc_filter is not None or doc_exclude is not None):
        # bounded sets become sorted-id broadcasts masked INSIDE the
        # producer, before its per-task fold; oversized ones keep the
        # semi/anti joins (nothing unbounded is ever collected)
        _, doc_filter, doc_exclude, filt_bc, excl_bc, empty = \
            _prep_doc_sets(spark, "auto", doc_filter, doc_exclude,
                           4_000_000)
    if empty:
        return spark.createDataFrame([], schema)
    pairs, classes, mass = found
    matched = _pair_postings(spark, postings, pairs)
    masks = (filt_bc, excl_bc, doc_filter, doc_exclude)
    if docs_only:
        return _expansion_doc_ids(matched, classes, *masks)
    return _term_expansion_topk(matched, classes, mass, qpdf, *masks)


def _term_expansion_topk(matched, classes: dict | None, mass: int | None,
                         queries: pd.DataFrame, filt_bc, excl_bc,
                         doc_filter, doc_exclude) -> DataFrame:
    """Shared ranked tail of the term-EXPANSION query family (prefix,
    fuzzy, wildcard, regexp, term_range): matched = posting rows joined
    to their class id (query_id), docs ranked by the summed tf of their
    matching terms (deterministic, idf-free — an expansion set makes
    per-term idf unstable), ties by doc_id. classes: member query_id ->
    class id from _expansion_matched (None: every query is its own
    class); queries: the batch's (query_id, k) rows, driver side.

    Scale shape: an expansion over Zipf-head terms (e.g. wildcard
    `w00*` hitting the top-100 ranks) decodes a df-MASS of (doc, tf)
    pairs, tens of entries per doc when the matched terms co-occur;
    matched terms are term-range ADJACENT, so one task's rows overlap
    heavily on docs. _doc_partials sums tf per (class, distinct doc in
    task) under its chunk bound, so the exploded pair frame never
    exists and the shuffle input is distinct-docs-sized; then the
    fused combine + top-k, once per class at the largest member k,
    fanned out to each member query (its own k) inside the combine —
    no extra join or job — and the one ordered tail
    (_one_task_order). filt_bc/excl_bc/doc_filter/doc_exclude: the
    masks _expansion_query routed (_doc_partials' arguments)."""
    # explicit projection: without it the dls/cf payload columns are
    # read from parquet AND shipped through Arrow just to be ignored
    # (~1/3 of expansion payload bytes)
    c = _doc_partials(
        matched.select("query_id", "doc_ids", "tfs"),
        lambda row, tfs, dls: tfs.astype(np.float64), None,
        filt_bc, excl_bc, doc_filter, doc_exclude)
    # tf sums are integers < 2^53, so the combine's double addition is
    # exact in any order. mass (Σ df over the deduplicated pairs) sizes
    # the fan-out; the unbounded equi-join path has none and takes the
    # full fan-out.
    ks = {int(r.query_id): int(r.k) for r in queries.itertuples(index=False)}
    meta: dict = {}
    for qid, cls in (classes or {q: q for q in ks}).items():
        m = meta.setdefault(cls, {"k": 0, "members": []})
        m["k"] = max(m["k"], ks[qid])
        m["members"].append((qid, ks[qid]))
    return _one_task_order(_fused_combine_topk(c, meta, mass))


_EXPANSION_DOCS_SCHEMA = "query_id int, doc_id long"


def _expansion_doc_ids(matched, classes: dict | None, filt_bc, excl_bc,
                       doc_filter, doc_exclude) -> DataFrame:
    """MEMBERSHIP of an expansion match — distinct (query_id, doc_id)
    over the matched posting rows, no tf decode, no ranking: the
    docs_only=True tail of the expansion surfaces, for CONSTANT-SCORE
    consumers (Lucene's multi-term default), where the summed-tf
    aggregation and the per-query top-k windows of
    _term_expansion_topk are pure waste. doc_filter/doc_exclude mask
    exactly as on the ranked path — membership must respect liveDocs
    and filters identically (a constant-score consumer composing the
    set into MUST clauses would otherwise resurrect excluded docs).
    _doc_partials dedups per (class, task): adjacent expanded terms
    overlap heavily on docs, so the raw per-(term, doc) frame is
    several times the membership.
    When a class has several members (classes: member query_id ->
    class id), one broadcast join on (class -> query_id) fans the class
    rows out to every member, after the dedup."""
    out = _doc_partials(matched.select("query_id", "doc_ids"), None,
                        None, filt_bc, excl_bc, doc_filter,
                        doc_exclude).dropDuplicates(["query_id", "doc_id"])
    if not classes or all(q == c for q, c in classes.items()):
        return out
    fan = pdf_frame(matched.sparkSession,
                    pd.DataFrame({"cls": list(classes.values()),
                                  "query_id": list(classes)}),
                    ddl="cls int, query_id int")
    return (out.withColumnRenamed("query_id", "cls")
            .join(F.broadcast(fan), "cls").select("query_id", "doc_id"))


def _damerau_levenshtein(a: str, b: str) -> int:
    """TRUE Damerau-Levenshtein (Lowrance-Wagner, unrestricted): edits
    = insert/delete/substitute/transpose-adjacent, and a transposed
    pair may be edited between ("ca"->"abc" = 2, where restricted OSA
    says 3). Matches DuckDB's damerau_levenshtein (the oracle) exactly
    — parity-tested against it in tests/test_fuzzy_damerau.py."""
    la, lb = len(a), len(b)
    if not la:
        return lb
    if not lb:
        return la
    maxdist = la + lb
    # DP over (la+2) x (lb+2) with the Lowrance-Wagner last-occurrence
    # bookkeeping; small strings (query terms) — plain python is fine
    # for the post-join refine set this runs on (classic-pruned).
    d = [[0] * (lb + 2) for _ in range(la + 2)]
    d[0][0] = maxdist
    for i in range(la + 1):
        d[i + 1][0] = maxdist
        d[i + 1][1] = i
    for j in range(lb + 1):
        d[0][j + 1] = maxdist
        d[1][j + 1] = j
    last_row: dict = {}
    for i in range(1, la + 1):
        ch_a = a[i - 1]
        last_col = 0
        for j in range(1, lb + 1):
            ch_b = b[j - 1]
            i_ = last_row.get(ch_b, 0)
            j_ = last_col
            cost = 0 if ch_a == ch_b else 1
            if not cost:
                last_col = j
            d[i + 1][j + 1] = min(
                d[i][j] + cost,          # substitute / match
                d[i + 1][j] + 1,         # insert
                d[i][j + 1] + 1,         # delete
                d[i_][j_] + (i - i_ - 1) + 1 + (j - j_ - 1),  # transpose
            )
        last_row[ch_a] = i
    return d[la + 1][lb + 1]


def _fuzzy_scan_cond(qlens, max_edits: int):
    """Dictionary-scan prefilter for fuzzy: |len(term) - len(qterm)| <=
    max_edits is necessary under classic AND Damerau distance (every
    edit op changes length by at most 1), expressed as one coarse
    range over the query batch so it stays a single pushable predicate
    pair on the persisted `tlen` column (parquet row-group min/max —
    the FST-automaton / sorted-range analog)."""
    return F.col("tlen").between(
        min(qlens) - int(max_edits), max(qlens) + int(max_edits))


# ---- per-kind expansion predicates -------------------------------------
# Each returns (clause columns, join condition, pushable dictionary-scan
# condition or None, distance column or None). The clause columns are
# {name: per-clause values} for the broadcast clause frame, which the
# join condition reads. The expansion surfaces build one kind's frame;
# query_string_topk builds one frame for all of its expansion clauses
# and ORs the kind-guarded conditions (one dictionary pass).


def _starts_any(leads):
    """OR of pushed StringStartsWith over literal leads; None when any
    lead is empty (that pattern may start anywhere)."""
    leads = sorted(set(leads))
    if not leads or not all(leads):
        return None
    cond = F.col("term").startswith(leads[0])
    for p in leads[1:]:
        cond = cond | F.col("term").startswith(p)
    return cond


def _fuzzy_match(qterms: list[str], edits: list[int]):
    """Fuzzy terms, each within its own classic-Levenshtein bound (the
    clause frame's `me`): Spark's built-in banded levenshtein in its
    threshold form, which early-exits above the bound and returns -1
    there, is both the join test and the distance that ranks the
    expansions; the coarse tlen window over the batch prunes the
    scan."""
    dist = F.expr("levenshtein(term, qterm, me)")
    return ({"qterm": qterms, "me": edits}, dist >= 0,
            _fuzzy_scan_cond([len(t) for t in qterms], max(edits)), dist)


def _wildcard_match(pats: list[str]):
    """Lowercased wildcard patterns, non-empty [a-z0-9*?]+ (anything
    else raises — it cannot appear in a word-tokenized term): SQL LIKE
    (`*`->`%`, `?`->`_`), a built-in codegen expression with identical
    semantics in the DuckDB oracle; a literal lead on every pattern
    pushes as StringStartsWith."""
    for p in pats:
        if not p or not re.fullmatch(r"[a-z0-9*?]+", p):
            raise ValueError(
                f"wildcard pattern must be non-empty [a-z0-9*?]+: {p!r}")
    return ({"like_pat": [p.replace("*", "%").replace("?", "_")
                          for p in pats]},
            F.expr("term LIKE like_pat"),
            _starts_any(re.split(r"[*?]", p)[0] for p in pats), None)


def _regexp_lead(p: str) -> str:
    """Longest literal prefix every match of regexp `p` must start
    with — SOUND, possibly empty. Any '|' disables the pushdown
    ('sort|row' offers an alternative start; scoping is not parsed, so
    parens don't rescue it). The literal run stops at the first
    metachar, and when that metachar is an optionalizing/repeating
    quantifier (?, *, {) the character it governs may be absent from a
    match — drop it from the lead ('so?rt' matches 'srt': lead 's',
    not 'so'). '+' keeps the full run (its char is mandatory)."""
    if "|" in p:
        return ""
    run = re.match(r"[a-z0-9\-]*", p).group(0)
    if p[len(run):][:1] in ("?", "*", "{"):
        run = run[:-1]
    return run


def _regexp_match(pats: list[str]):
    """Validated regexp patterns (validate_regexp_pattern): anchored
    Spark RLIKE `^(?:p)$`, with the literal leads (_regexp_lead) pushed
    as StringStartsWith when every pattern has one."""
    return ({"rx": [f"^(?:{p})$" for p in pats]}, F.expr("term RLIKE rx"),
            _starts_any(_regexp_lead(p) for p in pats), None)


def _range_match(los: list, his: list, inc_los: list, inc_his: list):
    """Term ranges: lowercased bounds (None = open side) with their
    inclusivity. The coarse [min(lo), max(hi)] envelope over the batch
    is the pushdown (a side open anywhere drops that side): the
    dictionary is term-sorted on disk (build.py stage_dict), so
    row-group min/max prunes to the touched range, the closest Spark
    analog of the reference's two binary searches. Per-clause bounds
    then refine in the join."""
    scan = None
    if all(v is not None for v in los):
        scan = F.col("term") >= min(los)
    if all(v is not None for v in his):
        hc = F.col("term") <= max(his)
        scan = hc if scan is None else scan & hc
    join = (
        F.col("lo").isNull()
        | F.when(F.col("inc_lo"), F.col("term") >= F.col("lo"))
           .otherwise(F.col("term") > F.col("lo"))
    ) & (
        F.col("hi").isNull()
        | F.when(F.col("inc_hi"), F.col("term") <= F.col("hi"))
           .otherwise(F.col("term") < F.col("hi"))
    )
    return ({"lo": los, "hi": his, "inc_lo": inc_los, "inc_hi": inc_his},
            join, scan, None)


def fuzzy_topk(
    spark: SparkSession,
    postings: DataFrame,
    queries: pd.DataFrame,
    cfg: BuildConfig | None = None,
    max_edits: int = 2,
    prefix_len: int = 0,
    doc_filter: DataFrame | np.ndarray | None = None,
    doc_exclude: DataFrame | np.ndarray | None = None,
    dictionary: DataFrame | None = None,
    max_expansions: int | None = MAX_EXPANSIONS_DEFAULT,
    transpositions: bool = False,
    docs_only: bool = False,
) -> DataFrame:
    """Fuzzy term query (Lucene FuzzyQuery): docs containing ANY
    dictionary term within `max_edits` Levenshtein edits of the query
    term, ranked by summed tf of the matching terms (the expansion
    family's deterministic scoring), ties by doc_id. docs_only=True
    returns the distinct (query_id, doc_id) MEMBERSHIP instead (no
    scoring, no top-k) — the constant-score rewrite's input; k is
    ignored.
    The ranked result (query_id, doc_id, score, rank) is ordered by
    (query_id, rank): its <= Σ k rows are sorted in one task.

    queries: pandas (query_id, text, k) — text must tokenize to ONE
    term (FuzzyQuery is single-term, like Lucene). max_edits is capped
    at 2 (Lucene's bound — beyond it the expansion loses meaning and
    the automaton cost explodes; here it would match most of the
    dictionary).

    SEMANTICS: distances default to CLASSIC Levenshtein
    (insert/delete/substitute), matching Spark's and DuckDB's built-in
    `levenshtein`. `transpositions=True` switches to TRUE
    Damerau-Levenshtein (Lowrance-Wagner: an adjacent swap costs 1,
    and the swapped pair may be edited between — "ca"->"abc" is 2),
    matching DuckDB's `damerau_levenshtein` exactly; Lucene's
    transpositions=true uses the restricted OSA variant, which differs
    only on edited-between-transposition cases. prefix_len > 0
    additionally requires an exact shared prefix (Lucene's
    prefixLength) — that prefix becomes a pushed StringStartsWith
    predicate, so the scan prunes to the prefix's row groups instead
    of reading the dictionary.

    max_expansions bounds how many matched dictionary terms are scored
    (Lucene FuzzyQuery's maxExpansions; selection order = edit
    distance ASC, then df DESC, then term — the closest, then
    most-frequent terms win). None disables the bound.

    Scale shape (round 6): the dictionary scan carries a PUSHED
    length-window predicate — |len(term) - len(qterm)| <= max_edits is
    necessary for any match, and the round-6 dictionary persists a
    `tlen` column sorted-adjacent to term so parquet row-group min/max
    prunes the scan (the FST-automaton analog: candidates come from a
    pruned range, not a full dictionary pass). The edit-distance test
    is Spark's BUILT-IN banded levenshtein (threshold form — early
    exit at max_edits) over the surviving rows; transpositions=True
    refines classic-prefiltered (<= 2*max_edits, a valid bound since
    classic <= 2*DL) matches with an Arrow-batched UDF on matched rows
    only. Matched terms then prune the postings scan via pushed
    In(term)/In(part_id) predicates (_expansion_matched).
    """
    cfg = cfg or BuildConfig()
    if cfg.tokenizer == "chargram":
        raise ValueError(
            "fuzzy_topk requires a word-tokenizer index; edit distance "
            "over chargrams is not meaningful — use substring_topk"
        )
    if not 0 <= int(max_edits) <= 2:
        raise ValueError("max_edits must be 0..2 (the Lucene bound)")
    _check_unique_ids(queries)
    rows = []
    for q in queries.itertuples(index=False):
        toks = tokenize_py(q.text or "", cfg)
        if len(toks) != 1:
            raise ValueError(
                f"fuzzy_topk is single-term (Lucene FuzzyQuery); "
                f"{q.text!r} tokenizes to {len(toks)} terms"
            )
        # prefix clamps to the term length (Lucene realPrefixLength):
        # prefix_len > len(qterm) must not silently empty the query
        rows.append((int(q.query_id), toks[0],
                     toks[0][:prefix_len] if prefix_len > 0 else "",
                     _check_k(q.query_id, q.k)))
    qpdf = pd.DataFrame(rows, columns=["query_id", "qterm", "pfx", "k"])
    me = int(max_edits)

    def match():
        cols, join_cond, scan_cond, dist = _fuzzy_match(
            list(qpdf["qterm"]), [me] * len(qpdf))
        if prefix_len > 0:
            cols["pfx"] = list(qpdf["pfx"])
            join_cond = join_cond & F.col("term").startswith(F.col("pfx"))
            scan_cond = scan_cond & _starts_any(qpdf["pfx"])
        if transpositions:
            # the classic distance prefilters at <= 2*max_edits
            # (classic <= 2*DL), refined post-join on matched rows only
            cols["me"] = [2 * me] * len(qpdf)

            @F.pandas_udf("int")
            def _dl_dist(term: pd.Series, qterm: pd.Series) -> pd.Series:
                out = [
                    dist if (dist := _damerau_levenshtein(t, q)) <= me
                    else None
                    for t, q in zip(term, qterm)
                ]
                return pd.Series(out, dtype="Int32")

            dist = _dl_dist(F.col("term"), F.col("qterm"))
        return cols, join_cond, scan_cond, dist

    return _expansion_query(
        spark, postings, qpdf, match, doc_filter, doc_exclude, dictionary,
        max_expansions, docs_only)


def wildcard_topk(
    spark: SparkSession,
    postings: DataFrame,
    queries: pd.DataFrame,
    cfg: BuildConfig | None = None,
    doc_filter: DataFrame | np.ndarray | None = None,
    doc_exclude: DataFrame | np.ndarray | None = None,
    dictionary: DataFrame | None = None,
    max_expansions: int | None = MAX_EXPANSIONS_DEFAULT,
    docs_only: bool = False,
) -> DataFrame:
    """Wildcard term query (Lucene WildcardQuery): `*` matches any run
    of characters, `?` exactly one; docs containing ANY matching
    dictionary term, ranked by summed tf, ties by doc_id.
    docs_only=True returns the distinct (query_id, doc_id) MEMBERSHIP
    instead (no scoring, no top-k) — the constant-score rewrite's
    input; k is ignored.
    The ranked result (query_id, doc_id, score, rank) is ordered by
    (query_id, rank): its <= Σ k rows are sorted in one task.

    queries: pandas (query_id, text, k) — text is the raw pattern,
    lowercased against the normalized dictionary; characters outside
    [a-z0-9*?] raise (they cannot appear in word-tokenized terms).
    The match runs as SQL LIKE (`*`->`%`, `?`->`_`) — a built-in
    codegen expression with IDENTICAL semantics in the DuckDB oracle.
    A LEADING literal run prunes the scan via StringStartsWith (like
    Lucene, `te*` is cheap); a leading-wildcard pattern scans the
    dictionary rows — use substring_topk for infix search at scale.

    Scale shape (round 5): LIKE evaluates against the TERM DICTIONARY
    (persisted side index via `dictionary=`, else a pruned 2-column
    postings projection); matched terms prune the postings scan with
    pushed In(term)/In(part_id) (_expansion_matched) — payload columns
    are only read for row groups containing matches.
    """
    cfg = cfg or BuildConfig()
    if cfg.tokenizer == "chargram":
        raise ValueError(
            "wildcard_topk requires a word-tokenizer index; use "
            "substring_topk on a chargram index"
        )
    _check_unique_ids(queries)
    qpdf = pd.DataFrame({
        "query_id": [int(q) for q in queries["query_id"]],
        "pat": [str(t or "").lower() for t in queries["text"]],
        "k": [_check_k(q, k) for q, k in zip(queries["query_id"],
                                             queries["k"])]})
    return _expansion_query(
        spark, postings, qpdf, lambda: _wildcard_match(list(qpdf["pat"])),
        doc_filter, doc_exclude, dictionary, max_expansions, docs_only)


# regex metachars allowed in regexp_topk patterns: the common
# Java-regex / RE2 subset with IDENTICAL semantics in both engines
# (Spark evaluates Java regex, the DuckDB oracle RE2) — no backslash
# escapes (dialects differ), no lookaround, no backreferences.
_REGEXP_SAFE = r"[a-z0-9.*+?|()\[\]{},\-]+"


def validate_regexp_pattern(text) -> str:
    """Validate one regexp-query pattern and return it lowercased.
    Shared by regexp_topk and the query-string parser's `/re/` clause
    so both surfaces accept exactly the same dialect. Raises
    ValueError outside the Java-regex/RE2 common subset."""
    pat = str(text or "").lower()
    if not pat or not re.fullmatch(_REGEXP_SAFE, pat):
        raise ValueError(
            "regexp pattern must be non-empty, lowercase, and "
            f"within the Java/RE2 common subset {_REGEXP_SAFE}: "
            f"{text!r}"
        )
    try:
        re.compile(pat)
    except re.error as e:
        raise ValueError(f"invalid regexp {text!r}: {e}") from e
    # Python/RE2 treat a stray brace as a literal ('a{2' matches
    # "a{2") where Java throws PatternSyntaxException at RLIKE
    # time, and '{,n}' is a Java error but an RE2 literal — so the
    # upfront-error and oracle-parity guarantees both require every
    # brace to be part of a canonical {m} / {m,} / {m,n} quantifier
    depat = re.sub(r"\{\d+(?:,\d*)?\}", "", pat)
    if "{" in depat or "}" in depat:
        raise ValueError(
            "braces must form {m}, {m,} or {m,n} quantifiers "
            "(stray braces are Java/RE2-divergent): "
            f"{text!r}"
        )
    return pat


def regexp_topk(
    spark: SparkSession,
    postings: DataFrame,
    queries: pd.DataFrame,
    cfg: BuildConfig | None = None,
    doc_filter: DataFrame | np.ndarray | None = None,
    doc_exclude: DataFrame | np.ndarray | None = None,
    dictionary: DataFrame | None = None,
    max_expansions: int | None = MAX_EXPANSIONS_DEFAULT,
    docs_only: bool = False,
) -> DataFrame:
    """Regexp term query (Lucene RegexpQuery): docs containing ANY
    dictionary term the pattern FULLY matches (anchored, like Lucene —
    `so.*` matches "sort" but "os.*" does not), ranked by summed tf of
    the matched terms, ties by doc_id. docs_only=True returns the
    distinct (query_id, doc_id) MEMBERSHIP instead (no scoring, no
    top-k) — the constant-score rewrite's input; k is ignored.
    The ranked result (query_id, doc_id, score, rank) is ordered by
    (query_id, rank): its <= Σ k rows are sorted in one task.

    queries: pandas (query_id, text, k) — text is the regex,
    lowercased against the normalized dictionary. Patterns are
    restricted to the Java-regex/RE2 common subset
    (`[a-z0-9.*+?|()\\[\\]{},-]`, no backslash escapes / lookaround /
    backreferences) so the engine (Spark RLIKE, anchored `^(?:p)$`)
    and the oracle (DuckDB regexp_full_match) agree by construction;
    anything else raises. A LEADING literal run prunes the dictionary
    scan via pushed StringStartsWith, exactly like wildcard; Lucene's
    analog walks only the automaton-reachable FST range.

    Scale shape: identical to wildcard_topk — dictionary-evaluated
    match, bounded top-N-by-df rewrite (max_expansions), pushed
    In(term)/In(part_id) postings prune.
    """
    cfg = cfg or BuildConfig()
    if cfg.tokenizer == "chargram":
        raise ValueError(
            "regexp_topk requires a word-tokenizer index; use "
            "substring_topk on a chargram index"
        )
    _check_unique_ids(queries)
    qpdf = pd.DataFrame({
        "query_id": [int(q) for q in queries["query_id"]],
        "pat": [validate_regexp_pattern(t) for t in queries["text"]],
        "k": [_check_k(q, k) for q, k in zip(queries["query_id"],
                                             queries["k"])]})
    return _expansion_query(
        spark, postings, qpdf, lambda: _regexp_match(list(qpdf["pat"])),
        doc_filter, doc_exclude, dictionary, max_expansions, docs_only)


def term_range_topk(
    spark: SparkSession,
    postings: DataFrame,
    queries: pd.DataFrame,
    cfg: BuildConfig | None = None,
    doc_filter: DataFrame | np.ndarray | None = None,
    doc_exclude: DataFrame | np.ndarray | None = None,
    dictionary: DataFrame | None = None,
    max_expansions: int | None = MAX_EXPANSIONS_DEFAULT,
    docs_only: bool = False,
) -> DataFrame:
    """Term-range query (Lucene TermRangeQuery; the reference's sorted
    suffix-array range scan, /root/reference/src/Suffix_Array.cpp:
    252-297, is exactly this shape): docs containing ANY dictionary
    term in [lo, hi], ranked by summed tf, ties by doc_id.
    docs_only=True returns the distinct (query_id, doc_id) MEMBERSHIP
    instead (no scoring, no top-k) — the constant-score rewrite's
    input; k is ignored.
    The ranked result (query_id, doc_id, score, rank) is ordered by
    (query_id, rank): its <= Σ k rows are sorted in one task.

    queries: pandas (query_id, lo, hi, k) plus optional boolean
    columns include_lower / include_upper (default True — inclusive
    bounds, Lucene's includeLower/includeUpper). A null/empty lo means
    open below, null/empty hi open above (not both).

    Scale shape: the range predicate IS the pushdown — the dictionary
    is term-sorted on disk (build.py stage_dict), so the coarse
    [min(lo), max(hi)] envelope over the query batch reaches the
    parquet scan as pushed >=/<= filters and row-group min/max prunes
    to the touched range, the closest Spark analog of the reference's
    two binary searches. Per-query bounds then refine against the
    broadcast query frame; bounded top-N-by-df rewrite and pushed
    In(term)/In(part_id) postings prune as in the rest of the family.
    """
    cfg = cfg or BuildConfig()
    if cfg.tokenizer == "chargram":
        raise ValueError("term_range_topk requires a word-tokenizer index")
    def _bound(v):
        return v.lower() if isinstance(v, str) and v else None

    _check_unique_ids(queries)
    rows = []
    for q in queries.itertuples(index=False):
        lo = _bound(getattr(q, "lo", None))
        hi = _bound(getattr(q, "hi", None))
        if lo is None and hi is None:
            raise ValueError("term range needs at least one bound")
        inc_lo = bool(getattr(q, "include_lower", True))
        inc_hi = bool(getattr(q, "include_upper", True))
        rows.append((int(q.query_id), lo, hi, inc_lo, inc_hi,
                     _check_k(q.query_id, q.k)))
    qpdf = pd.DataFrame(
        rows,
        columns=["query_id", "lo", "hi", "inc_lo", "inc_hi", "k"])
    # explicit schema: a batch open on the same side everywhere makes
    # lo/hi an all-None column, which createDataFrame's inference
    # rejects (CANNOT_DETERMINE_TYPE)
    return _expansion_query(
        spark, postings, qpdf, lambda: _range_match(
            *(list(qpdf[c]) for c in ("lo", "hi", "inc_lo", "inc_hi"))),
        doc_filter, doc_exclude, dictionary, max_expansions, docs_only,
        ddl="query_id long, lo string, hi string, inc_lo boolean, "
            "inc_hi boolean")


def facet_counts(
    spark: SparkSession,
    postings: DataFrame,
    queries: pd.DataFrame,
    doc_map: DataFrame,
    facet_col: str,
    cfg: BuildConfig | None = None,
    conjunctive: bool = False,
) -> DataFrame:
    """Facet counts (Lucene faceting analog): for each query, the
    number of MATCHING docs per value of doc_map.facet_col — the
    "n hits per source / per language / per shard" panel next to
    search results.

    queries: pandas (query_id, text[, k — ignored]). doc_map: per-doc
    metadata with a doc_id column (load_doc_stats(...)). Returns
    (query_id, <facet_col>, n_docs).

    Scale shape: the narrow pass emits 16-byte (query, term, doc) rows
    (no scores, no positions), aggregates to distinct matching docs,
    then joins doc metadata on doc_id — a shuffle join that AQE turns
    into a broadcast when the matched set is small. No task ever holds
    a whole posting list and nothing is collected."""
    cfg = cfg or BuildConfig()
    docs = _match_docs(spark, postings, queries, cfg, conjunctive)
    if docs is None:
        from pyspark.sql import types as T

        # empty result keeps doc_map's ACTUAL facet column type — a
        # hardcoded string would make the schema depend on whether the
        # batch tokenized to any terms (unionByName breakage)
        schema = T.StructType([
            T.StructField("query_id", T.IntegerType()),
            doc_map.schema[facet_col],
            T.StructField("n_docs", T.LongType()),
        ])
        return spark.createDataFrame([], schema)
    return (
        docs.join(doc_map.select("doc_id", facet_col), "doc_id")
        .groupBy("query_id", facet_col)
        .agg(F.count("*").alias("n_docs"))
    )


def _per_query(values: dict):
    """A driver-side per-query int (k, term count) as a literal map
    lookup on query_id: no frame to broadcast, no extra job."""
    return F.element_at(F.create_map(*[
        F.lit(int(x)) for kv in values.items() for x in kv]),
        F.col("query_id"))


def _match_docs(spark, postings, queries: pd.DataFrame, cfg,
                conjunctive: bool,
                require_k: bool = False) -> DataFrame | None:
    """Narrow membership pass shared by hit_count, sorted_topk and the
    faceting family: the distinct (query_id, doc_id) pairs where the
    doc contains ANY of the query's terms (every term when
    conjunctive). The scan reads only (term, doc_ids); _doc_partials
    emits per-task distinct (query, doc, nm) rows and one JVM sum(nm)
    per (query, doc) folds them, compared with each query's term count
    from the driver — no term string crosses the exchange. None when
    the whole batch tokenizes to no terms (callers own their
    empty-result schema)."""
    qt = _query_terms_pdf(queries, cfg, require_k=require_k,
                          conjunctive=conjunctive)
    if qt.empty:
        return None
    qdf = pdf_frame(spark, qt[["query_id", "term"]])
    terms = sorted(qt["term"].unique().tolist())
    # select BEFORE the join so ReadSchema prunes to (term, doc_ids) —
    # tf/dl/pos are never read for membership
    matched = postings.where(_in_list("term", terms)).select(
        "term", "doc_ids").join(F.broadcast(qdf), "term")
    docs = _doc_partials(
        matched.select("query_id", "doc_ids", F.lit(1).alias("nm"))
    ).groupBy("query_id", "doc_id").agg(F.sum("nm").alias("nm"))
    if conjunctive:
        # AND: a doc must match every distinct query term; an OOV term
        # makes nm < n_must for every doc of its query
        docs = docs.where(F.col("nm") >= _per_query(
            dict(zip(qt["query_id"], qt["n_must"]))))
    return docs.select("query_id", "doc_id")


def range_facet_counts(
    spark: SparkSession,
    postings: DataFrame,
    queries: pd.DataFrame,
    doc_map: DataFrame,
    facet_col: str,
    ranges: list,
    cfg: BuildConfig | None = None,
    conjunctive: bool = False,
) -> DataFrame:
    """Range facet counts (the Lucene LongRangeFacetCounts /
    DoubleRangeFacetCounts analog): for each query, the number of
    MATCHING docs whose doc_map.facet_col value falls in each of a
    fixed list of named ranges — the "price: 0-10 (37) / 10-50 (122)"
    panel. Works over any orderable column type (ints, doubles,
    timestamps, strings).

    ranges: list of (label, lo, hi, include_lower, include_upper);
    lo/hi None opens that side; bounds are Python values of the
    column's type. Lucene semantics exactly: ranges MAY overlap (a doc
    counts once in EVERY range containing its value), docs with a NULL
    facet value count nowhere, and every requested range is returned
    for every query — zero counts included (LongRangeFacetCounts
    reports each requested LongRange even when empty).

    Returns (query_id, range_label, n_docs).

    Scale shape: the shared narrow membership pass, one metadata join,
    then each doc row explodes into only the labels it satisfies (an
    array of whens — pure codegen, no UDF) and one groupBy counts.
    The zero-fill frame is (n_queries x n_ranges) driver-side rows —
    query-batch-sized, never corpus-sized."""
    cfg = cfg or BuildConfig()
    if not ranges:
        raise ValueError("ranges must be non-empty")
    labels = [r[0] for r in ranges]
    if len(set(labels)) != len(labels):
        raise ValueError(f"duplicate range labels: {labels!r}")
    # every requested (query, range) appears in the result, count 0
    # when no matching doc lands there (or the query has no terms)
    qids = pd.DataFrame(
        {"query_id": queries["query_id"].astype("int32")})
    base = pdf_frame(
        spark, qids.merge(pd.DataFrame({"range_label": labels}),
                          how="cross"),
        ddl="query_id int, range_label string")
    docs = _match_docs(spark, postings, queries, cfg, conjunctive)
    if docs is None:
        return base.select(
            "query_id", "range_label",
            F.lit(0).cast("long").alias("n_docs"))
    col = F.col(facet_col)
    whens = []
    for label, lo, hi, inc_lo, inc_hi in ranges:
        p = None
        if lo is not None:
            c_ = col >= F.lit(lo) if inc_lo else col > F.lit(lo)
            p = c_
        if hi is not None:
            c_ = col <= F.lit(hi) if inc_hi else col < F.lit(hi)
            p = c_ if p is None else (p & c_)
        # fully open range = every non-NULL value (Lucene counts only
        # docs that HAVE the numeric value)
        whens.append(F.when(col.isNotNull() if p is None else p,
                            F.lit(label)))
    counts = (
        docs.join(doc_map.select("doc_id", facet_col), "doc_id")
        .select("query_id", F.explode(F.array(*whens)).alias(
            "range_label"))
        .where(F.col("range_label").isNotNull())
        .groupBy("query_id", "range_label")
        .agg(F.count("*").alias("n_docs"))
    )
    return (
        base.join(counts, ["query_id", "range_label"], "left")
        .select("query_id", "range_label",
                F.coalesce("n_docs", F.lit(0)).cast("long")
                .alias("n_docs"))
    )


def stats_facet(
    spark: SparkSession,
    postings: DataFrame,
    queries: pd.DataFrame,
    doc_map: DataFrame,
    facet_col: str,
    metric_col: str,
    cfg: BuildConfig | None = None,
    conjunctive: bool = False,
) -> DataFrame:
    """Stats sub-aggregation under a terms facet (the ES `stats`
    aggregation nested in a `terms` bucket / Lucene facet-association
    analog): for each query and each value of doc_map.facet_col, the
    count / min / max / sum / mean of doc_map.metric_col over the
    MATCHING docs — the "avg doc length per source among hits" panel.

    queries: pandas (query_id, text[, k — ignored]). Returns
    (query_id, <facet_col>, n_docs, min_v, max_v, sum_v, avg_v).
    n_docs counts matching docs in the bucket; min/max/sum/avg skip
    NULL metric values (SQL aggregate semantics — ES likewise skips
    docs without the field). Buckets exist only where a matching doc
    has a non-NULL facet value, exactly like facet_counts.

    Scale shape: the shared narrow membership pass, one metadata join,
    one hash aggregate per (query, facet value) — partial map-side,
    never per doc downstream."""
    cfg = cfg or BuildConfig()
    docs = _match_docs(spark, postings, queries, cfg, conjunctive)
    if docs is None:
        from pyspark.sql import types as T

        mt = doc_map.schema[metric_col].dataType
        schema = T.StructType([
            T.StructField("query_id", T.IntegerType()),
            doc_map.schema[facet_col],
            T.StructField("n_docs", T.LongType()),
            T.StructField("min_v", mt),
            T.StructField("max_v", mt),
            T.StructField("sum_v", T.DoubleType()),
            T.StructField("avg_v", T.DoubleType()),
        ])
        return spark.createDataFrame([], schema)
    return (
        docs.join(doc_map.select("doc_id", facet_col, metric_col),
                  "doc_id")
        .groupBy("query_id", facet_col)
        .agg(F.count("*").alias("n_docs"),
             F.min(metric_col).alias("min_v"),
             F.max(metric_col).alias("max_v"),
             F.sum(metric_col).cast("double").alias("sum_v"),
             F.avg(metric_col).alias("avg_v"))
    )


@_ranked()
def rescore_topk(
    spark: SparkSession,
    postings: DataFrame,
    queries: pd.DataFrame,
    N: int,
    avgdl: float,
    cfg: BuildConfig | None = None,
    window_size: int = 100,
    query_weight: float = 1.0,
    rescore_weight: float = 2.0,
    mode: str = "auto",
) -> DataFrame:
    """Query rescoring (the ES `rescore` / Lucene QueryRescorer
    two-phase shape): a cheap BM25 pass retrieves each query's top
    window_size docs, an expensive exact-phrase clause re-scores ONLY
    that window, and the final ranking is
    query_weight * bm25 + rescore_weight * phrase_score (ES's default
    `total` combine; docs where the phrase doesn't match keep their
    BM25 score — the phrase contributes 0, it never filters).

    queries: pandas (query_id, text, phrase, k) — `text` feeds the
    BM25 window pass, `phrase` the positional re-score (the index must
    carry positions). Returns (query_id, doc_id, score, rank), rank
    over the re-scored window only (hits below the window keep their
    original order in ES too — they are simply not returned here),
    ordered by (query_id, rank): its <= Σ k rows are sorted in one
    task.

    Scale shape: the window frame is query-batch-sized by construction
    (n_queries x window_size rows — ES caps window_size at
    max_rescore_window for the same reason), so it collects once and
    returns as a broadcastable local frame; the phrase pass runs with
    the window's doc ids as an in-kernel filter, so its candidate mask
    applies before any position decode. Nothing corpus-sized crosses
    the driver."""
    cfg = cfg or BuildConfig()
    if window_size <= 0:
        raise ValueError("window_size must be > 0")
    for col in ("text", "phrase", "k"):
        if col not in queries.columns:
            raise ValueError(f"queries must carry a {col!r} column")
    base = queries.assign(k=np.int32(window_size))[
        ["query_id", "text", "k"]]
    win_pdf = arrow_collect(
        bm25_topk.unordered(spark, postings, base, N, avgdl, cfg,
                            mode=mode))
    if win_pdf.empty:
        return spark.createDataFrame([], RESULT_SCHEMA)
    ids = np.unique(win_pdf["doc_id"].to_numpy(np.int64))
    # the phrase pass filters by the UNION of all queries' windows, so
    # its per-query k must cover every possible match within the union
    # (k=window_size crowded a query's own-window docs out of the
    # phrase top-k in multi-query batches — they then silently scored
    # with a 0 phrase bonus); the left join below still bounds the
    # output to each query's own window rows
    pq = queries.assign(text=queries["phrase"],
                        k=np.int32(max(window_size, ids.size)))[
        ["query_id", "text", "k"]]
    ph = phrase_topk.unordered(spark, postings, pq, N, avgdl, cfg,
                               doc_filter=ids, mode=mode)
    wdf = arrow_frame(
        spark, win_pdf[["query_id", "doc_id", "score"]]
        .rename(columns={"score": "base_s"}))
    kdf = F.broadcast(pdf_frame(
        spark, pd.DataFrame(
            {"query_id": queries["query_id"].astype("int32"),
             "k": queries["k"].astype("int32")}),
        ddl="query_id int, k int"))
    out = (
        wdf.join(ph.select("query_id", "doc_id",
                           F.col("score").alias("ph_s")),
                 ["query_id", "doc_id"], "left")
        .join(kdf, "query_id")
        .select("query_id", "doc_id", "k",
                (F.lit(float(query_weight)) * F.col("base_s")
                 + F.lit(float(rescore_weight))
                 * F.coalesce("ph_s", F.lit(0.0))).alias("score"))
    )
    return _salted_topk(out, salt_col=None)


# date_trunc units shared verbatim by Spark and DuckDB, with the
# sequence step that advances one bucket (week = 7 days: both engines
# truncate weeks to Monday)
_HISTO_UNITS = {
    "minute": "interval 1 minute", "hour": "interval 1 hour",
    "day": "interval 1 day", "week": "interval 7 days",
    "month": "interval 1 month", "quarter": "interval 3 months",
    "year": "interval 1 year",
}
# pandas date_range freqs that step the SAME buckets (lo is already a
# date_trunc boundary, so every anchored freq includes it: W-MON from
# a Monday, QS from a quarter start, ...)
_HISTO_PD_FREQ = {
    "minute": "min", "hour": "h", "day": "D", "week": "W-MON",
    "month": "MS", "quarter": "QS", "year": "YS",
}
# O(1) bucket-count expressions over aligned (lo, hi) bucket
# boundaries — the guard must NOT build the sequence it guards
# against (a 1970 outlier at interval 'minute' is a ~29M-element
# array); both bounds are date_trunc outputs so the diffs are exact
# multiples of the step
_HISTO_COUNT_EXPR = {
    "minute": "timestampdiff(MINUTE, lo, hi) + 1",
    "hour": "timestampdiff(HOUR, lo, hi) + 1",
    "day": "timestampdiff(DAY, lo, hi) + 1",
    "week": "timestampdiff(DAY, lo, hi) DIV 7 + 1",
    "month": "timestampdiff(MONTH, lo, hi) + 1",
    "quarter": "timestampdiff(MONTH, lo, hi) DIV 3 + 1",
    "year": "timestampdiff(YEAR, lo, hi) + 1",
}
# zero-filled histograms at or under this many total rows collect and
# fill driver-side (output-sized, one Arrow round-trip); larger ones
# take the distributed zero-fill join
_HISTO_COLLECT_CAP = 1_000_000


def date_histogram(
    spark: SparkSession,
    postings: DataFrame,
    queries: pd.DataFrame,
    doc_map: DataFrame,
    ts_col: str,
    interval: str = "day",
    cfg: BuildConfig | None = None,
    conjunctive: bool = False,
    max_buckets: int = 65536,
) -> DataFrame:
    """Date histogram over search results (the ES date_histogram /
    Kibana hits-over-time analog): for each query, matching-doc counts
    per calendar bucket of doc_map.ts_col, with EMPTY buckets
    zero-filled between each query's first and last non-empty bucket —
    ES's min_doc_count=0 shape, so the time axis has no silent gaps.

    interval: one of minute/hour/day/week/month/quarter/year
    (calendar_interval units; buckets are date_trunc boundaries in the
    column's own type — TIMESTAMP_NTZ buckets are timezone-free, LTZ
    buckets follow the session timezone, ES's time_zone parameter).
    Docs with a NULL timestamp count nowhere (ES drops unmapped dates).
    Queries with no matching docs return no buckets.

    SUB-DAY intervals on an LTZ column are NTZ-recommended (round-7
    advice): across a DST spring-forward the driver-side zero-fill
    steps naive session-wall times, so a minute/hour range spanning
    the gap can emit nonexistent wall times that cast to the post-gap
    instant (phantom/duplicate bucket) and disagree with the
    instant-based bucket-count guard. Day-and-coarser intervals and
    NTZ columns are unaffected; store sub-day analytics timestamps as
    TIMESTAMP_NTZ (or run the session in a DST-free zone like UTC).

    Returns (query_id, bucket timestamp, n_docs).

    Scale shape: the shared narrow membership pass, one metadata join,
    one groupBy per (query, bucket) — never per doc. The zero-fill
    explodes sequence(first, last) per query, guarded by max_buckets
    (ES's search.max_buckets default): the only collect is one
    (lo, hi) row per query, query-batch-sized."""
    cfg = cfg or BuildConfig()
    if interval not in _HISTO_UNITS:
        raise ValueError(
            f"interval must be one of {sorted(_HISTO_UNITS)}, "
            f"got {interval!r}")
    step = _HISTO_UNITS[interval]
    docs = _match_docs(spark, postings, queries, cfg, conjunctive)
    ts_type = doc_map.schema[ts_col].dataType.simpleString()
    if docs is None:
        return spark.createDataFrame(
            [], f"query_id int, bucket {ts_type}, n_docs long")
    counts = (
        docs.join(doc_map.select("doc_id", ts_col), "doc_id")
        .where(F.col(ts_col).isNotNull())
        .groupBy("query_id",
                 F.date_trunc(interval, F.col(ts_col))
                 .cast(ts_type).alias("bucket"))
        .agg(F.count("*").alias("n_docs"))
    )
    # per-query span + O(1) bucket count first — n_queries rows, one
    # job — so a runaway span (seconds-apart docs years apart at
    # interval 'minute') raises instead of materializing a 10^8-bucket
    # sequence (the count is a timestampdiff, never the array itself).
    # Spans travel as SESSION-WALL STRINGS (date_format renders LTZ in
    # the session timezone and NTZ verbatim): Row-collected LTZ
    # timestamps come back in the OS-local wall clock, which silently
    # mismatches the session-wall buckets whenever the two zones
    # differ. PERSIST: the span aggregate materializes counts so the
    # common branch below doesn't re-run the narrow membership pass
    counts = counts.persist()
    try:
        spans = counts.groupBy("query_id").agg(
            F.min("bucket").alias("lo"), F.max("bucket").alias("hi"),
        ).select(
            "query_id",
            F.date_format("lo", "yyyy-MM-dd HH:mm:ss").alias("lo_s"),
            F.date_format("hi", "yyyy-MM-dd HH:mm:ss").alias("hi_s"),
            F.expr(_HISTO_COUNT_EXPR[interval]).cast("long")
            .alias("n_buckets"),
        )
        span_rows = spans.collect()
        for r in span_rows:
            if r["n_buckets"] > max_buckets:
                raise ValueError(
                    f"query {r['query_id']}: {r['n_buckets']} buckets "
                    f"at interval {interval!r} exceeds "
                    f"max_buckets={max_buckets} (ES too_many_buckets) "
                    "— widen the interval")
        total = int(sum(r["n_buckets"] for r in span_rows))
        if total <= _HISTO_COLLECT_CAP:
            # common case: the zero-filled histogram is output-sized
            # and bounded — fill driver-side (one Arrow round-trip,
            # the more_like_this idiom) and return a local frame
            got = arrow_collect(counts)
            # normalize to naive ns SESSION wall time: Arrow returns
            # LTZ columns tz-aware (UTC); the span strings and
            # pd.date_range are session-wall — a mismatch would
            # silently match nothing in the merge
            b = pd.to_datetime(got["bucket"])
            if getattr(b.dt, "tz", None) is not None:
                tz = spark.conf.get("spark.sql.session.timeZone")
                b = b.dt.tz_convert(tz).dt.tz_localize(None)
            got["bucket"] = b.astype("datetime64[ns]")
            parts = [pd.DataFrame(
                {"query_id": np.array([], np.int32),
                 "bucket": pd.DatetimeIndex([]),
                 "n_docs": np.array([], np.int64)})]
            freq = _HISTO_PD_FREQ[interval]
            for r in span_rows:
                idx = pd.date_range(r["lo_s"], r["hi_s"], freq=freq)
                parts.append(pd.DataFrame(
                    {"query_id": np.full(idx.size, r["query_id"],
                                         np.int32),
                     "bucket": idx,
                     "n_docs": np.zeros(idx.size, np.int64)}))
            full = pd.concat(parts, ignore_index=True)
            merged = full.merge(
                got.rename(columns={"n_docs": "n"}),
                on=["query_id", "bucket"], how="left")
            merged["n_docs"] = (
                merged["n"].fillna(0).astype(np.int64))
            out_pdf = merged[["query_id", "bucket", "n_docs"]]
            # naive wall -> ts_type: LTZ re-interprets in the session
            # zone (the same wall the strings came from), NTZ verbatim
            return arrow_frame(spark, out_pdf).select(
                "query_id",
                F.col("bucket").cast(ts_type).alias("bucket"),
                F.col("n_docs").cast("long").alias("n_docs"))
    finally:
        counts = counts.unpersist()
    # huge-histogram fallback: stay fully distributed (the zero-fill
    # join recomputes the narrow pass once — the lesser evil vs a
    # cached frame leaking past return); string bounds cast back in
    # the session zone, matching the counts buckets by construction
    buckets = spark.createDataFrame(
        span_rows, schema="query_id int, lo_s string, hi_s string, "
                          "n_buckets long"
    ).select(
        "query_id",
        F.explode(F.expr(
            f"sequence(cast(lo_s AS {ts_type}), "
            f"cast(hi_s AS {ts_type}), {step})")).alias("bucket"))
    return (
        buckets.join(counts, ["query_id", "bucket"], "left")
        .select("query_id",
                F.col("bucket").cast(ts_type).alias("bucket"),
                F.coalesce("n_docs", F.lit(0)).cast("long")
                .alias("n_docs"))
    )


@_ranked()
def substring_topk(
    spark: SparkSession,
    postings: DataFrame,
    queries: pd.DataFrame,
    cfg: BuildConfig,
    mode: str = "auto",
    max_kernel_df: int = 20_000_000,
    max_kernel_bytes: int = 32 << 20,
    doc_filter: DataFrame | np.ndarray | None = None,
    doc_exclude: DataFrame | np.ndarray | None = None,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """Char-granular substring top-k — the direct graft of the
    reference's suffix-array search primitive (``upper_bound``,
    /root/reference/src/Suffix_Array.cpp:252-297: LCP-bounded binary
    search answering "which positions match ANY byte substring P").
    Token-granular phrase_topk cannot match inside or across tokens
    (``foo_bar``, code fragments, substrings with punctuation); this
    can.

    Requires an index built with cfg.tokenizer="chargram" and
    cfg.index_positions=True: every overlapping chargram_n-window of
    lower(text) is a term whose position IS its char offset, so a
    pattern match at char s is exactly "gram_j of the pattern occurs at
    position s+j for every j" — the existing positional phrase
    machinery, verbatim, with occurrence-count scoring (count_scores).
    Index size is O(total chars) — the same asymptotic as the
    reference's suffix array, and the same three execution modes /
    skew guards as phrase_topk apply unchanged.

    queries: pandas (query_id, text, k); text is the RAW pattern
    (matched case-insensitively against lower(text); may contain
    spaces/punctuation). Returns (query_id, doc_id, score, rank) where
    score = the exact (overlap-counting) number of match positions,
    ordered by (query_id, rank): its <= Σ k rows are sorted in one
    task.

    Patterns SHORTER than chargram_n cannot be covered by grams — the
    reference's ``upper_bound`` answers any pattern length uniformly,
    so when ``corpus`` (the doc table with doc_id + text) is given,
    sub-gram patterns auto-dispatch to the full-scan fallback
    (dataops.substring_scan: codegen exprs, column-pruned scan) with
    identical overlap-counting scores and tie-breaks; without a corpus
    handle they raise.
    """
    if cfg.tokenizer != "chargram":
        raise ValueError(
            "substring_topk requires a chargram index "
            "(cfg.tokenizer='chargram'); this index was built with "
            f"tokenizer={cfg.tokenizer!r}"
        )
    _check_unique_ids(queries)
    n = cfg.chargram_n
    short_mask = queries["text"].map(
        lambda t: len((t or "").lower()) < n
    ).to_numpy(bool)
    if short_mask.any() and corpus is None:
        # no sorted(): a None pattern must raise THIS error, not a
        # TypeError from None-vs-str comparison
        raise ValueError(
            f"patterns shorter than chargram_n={n} cannot be answered "
            f"from the gram index: "
            f"{list(queries['text'][short_mask])!r} — pass corpus= "
            "(the doc table) to auto-fall back to a full scan, or call "
            "dataops.substring_scan directly"
        )
    parts: list[DataFrame] = []
    long_q = queries[~short_mask]
    if not long_q.empty:
        # N/avgdl are BM25 inputs only; count_scores never touches them
        parts.append(phrase_topk.unordered(
            spark, postings, long_q, N=1, avgdl=1.0, cfg=cfg, mode=mode,
            max_kernel_df=max_kernel_df, max_kernel_bytes=max_kernel_bytes,
            count_scores=True, doc_filter=doc_filter,
            doc_exclude=doc_exclude,
        ))
    if short_mask.any():
        from capsbm25.dataops import substring_scan

        # one column-pruned scan per sub-gram pattern (these are the
        # exception path — a user query below the gram size), same
        # count scoring and (score desc, doc_id asc) tie-break as the
        # index path, filter/liveDocs masks applied pre-top-k
        for q in queries[short_mask].itertuples(index=False):
            scanned = substring_scan(corpus, q.text).select(
                F.lit(int(q.query_id)).cast("int").alias("query_id"),
                "doc_id",
                F.col("n_occ").cast("double").alias("score"),
                F.lit(_check_k(q.query_id, q.k)).cast("int").alias("k"),
            )
            if doc_filter is not None:
                scanned = scanned.join(
                    doc_filter.select("doc_id"), "doc_id", "semi")
            if doc_exclude is not None:
                scanned = scanned.join(
                    doc_exclude.select("doc_id"), "doc_id", "anti")
            parts.append(_salted_topk(scanned))
    if not parts:
        return spark.createDataFrame([], RESULT_SCHEMA)
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out
