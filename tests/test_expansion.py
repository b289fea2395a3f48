"""Term-expansion query family: fuzzy (Lucene FuzzyQuery, Levenshtein
<= max_edits) and wildcard (Lucene WildcardQuery, * / ?) — differential
against naive expansion oracles, same summed-tf ranking contract as
prefix_topk."""

import fnmatch
import re

import numpy as np
import pandas as pd
import pytest

from capsbm25 import fixtures as fx
from capsbm25.config import BuildConfig
from capsbm25.query import fuzzy_topk, wildcard_topk


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _expansion_want(oracle, match_fn, k):
    """(doc_id, score) ranked by summed tf over dictionary terms
    accepted by match_fn — the family's shared scoring contract."""
    terms = [t for t in oracle.postings if match_fn(t)]
    per_doc: dict[int, int] = {}
    for t in terms:
        for d, tf in oracle.postings[t].items():
            per_doc[d] = per_doc.get(d, 0) + tf
    ranked = sorted(per_doc.items(), key=lambda x: (-x[1], x[0]))[:k]
    return [(d, float(s)) for d, s in ranked]


def _check_one(got, qid, want):
    g = got[got.query_id == qid].sort_values("rank")
    assert list(g.doc_id) == [d for d, _ in want], qid
    assert list(g.score) == [s for _, s in want], qid


def test_fuzzy_matches_naive_expansion(built_index, spark):
    res, cfg, oracle = (built_index["res"], built_index["cfg"],
                        built_index["oracle"])
    vocab = sorted(oracle.postings)
    probes = [vocab[3], vocab[len(vocab) // 2], "w9999zz"]  # last: far OOV
    for max_edits in (0, 1, 2):
        queries = pd.DataFrame({
            "query_id": np.arange(len(probes), dtype=np.int32),
            "text": probes,
            "k": np.full(len(probes), 12, dtype=np.int32),
        })
        got = fuzzy_topk(
            spark, built_index["postings"], queries, cfg,
            max_edits=max_edits,
        ).toPandas()
        for qid, p in enumerate(probes):
            want = _expansion_want(
                oracle, lambda t, p=p: _lev(t, p) <= max_edits, 12)
            _check_one(got, qid, want)


def test_fuzzy_prefix_len(built_index, spark):
    """prefix_len: matches must share the exact prefix AND the scan
    carries a pushed StartsWith predicate."""
    res, cfg, oracle = (built_index["res"], built_index["cfg"],
                        built_index["oracle"])
    vocab = sorted(oracle.postings)
    p = vocab[len(vocab) // 3]
    queries = pd.DataFrame({
        "query_id": np.array([0], dtype=np.int32),
        "text": [p],
        "k": np.array([12], dtype=np.int32),
    })
    out = fuzzy_topk(spark, built_index["postings"], queries, cfg,
                     max_edits=2, prefix_len=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # round 5: the predicate runs on the term DICTIONARY; the postings
    # scan is pruned by the pushed In(term) of the matched expansion
    assert "In(term" in plan.replace("\n", " "), plan[:1500]
    got = out.toPandas()
    want = _expansion_want(
        oracle,
        lambda t: t[:3] == p[:3] and _lev(t, p) <= 2,
        12,
    )
    _check_one(got, 0, want)


def test_fuzzy_rejects_bad_args(built_index, spark):
    cfg = built_index["cfg"]
    q = pd.DataFrame({"query_id": np.array([0], dtype=np.int32),
                      "text": ["two terms"],
                      "k": np.array([5], dtype=np.int32)})
    with pytest.raises(ValueError, match="single-term"):
        fuzzy_topk(spark, built_index["postings"], q, cfg)
    q1 = q.assign(text=["one"])
    with pytest.raises(ValueError, match="max_edits"):
        fuzzy_topk(spark, built_index["postings"], q1, cfg, max_edits=3)


def test_wildcard_matches_naive_expansion(built_index, spark):
    res, cfg, oracle = (built_index["res"], built_index["cfg"],
                        built_index["oracle"])
    vocab = sorted(oracle.postings)
    seed = vocab[len(vocab) // 2]
    pats = [
        seed[:3] + "*",            # prefix form
        seed[:2] + "?" + seed[3:],  # single-char hole
        "*" + seed[-3:],           # leading wildcard (dictionary scan)
        "*zzz@nohit".replace("@", "q"),  # no match
    ]
    queries = pd.DataFrame({
        "query_id": np.arange(len(pats), dtype=np.int32),
        "text": pats,
        "k": np.full(len(pats), 12, dtype=np.int32),
    })
    got = wildcard_topk(
        spark, built_index["postings"], queries, cfg
    ).toPandas()
    n_hits = 0
    for qid, p in enumerate(pats):
        want = _expansion_want(
            oracle, lambda t, p=p: fnmatch.fnmatchcase(t, p), 12)
        n_hits += len(want)
        _check_one(got, qid, want)
    assert n_hits > 0


def test_wildcard_prefix_pattern_prunes_scan(built_index, spark):
    cfg = built_index["cfg"]
    q = pd.DataFrame({"query_id": np.array([0], dtype=np.int32),
                      "text": ["w00*"],
                      "k": np.array([5], dtype=np.int32)})
    out = wildcard_topk(spark, built_index["postings"], q, cfg)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # round 5: the predicate runs on the term DICTIONARY; the postings
    # scan is pruned by the pushed In(term) of the matched expansion
    assert "In(term" in plan.replace("\n", " "), plan[:1500]
    # the SQL-built In list (_in_list) still reaches the parquet scan
    pushed = [seg.split("ReadSchema")[0] for seg in
              plan.replace("\n", " ").split("PushedFilters: ")[1:]]
    assert any("In(term" in p_ or "InSet(term" in p_ for p_ in pushed), \
        plan[:1500]


def test_wildcard_rejects_bad_pattern(built_index, spark):
    cfg = built_index["cfg"]
    # (uppercase input is VALID — patterns lowercase against the
    # normalized dictionary, like substring_topk)
    for bad in ["", "has space*", "dash-ed*", None]:
        q = pd.DataFrame({"query_id": np.array([0], dtype=np.int32),
                          "text": [bad],
                          "k": np.array([5], dtype=np.int32)})
        with pytest.raises(ValueError, match="wildcard pattern"):
            wildcard_topk(spark, built_index["postings"], q, cfg)


# ---------------------------------------------------------------- round 6


def _dl_want(a, b):
    import duckdb

    with duckdb.connect() as con:
        return con.execute(
            "select damerau_levenshtein(?, ?)", [a, b]).fetchone()[0]


def test_damerau_parity_with_duckdb():
    """Engine _damerau_levenshtein must match DuckDB's (the oracle)
    EXACTLY — true Damerau-Levenshtein (Lowrance-Wagner), where the
    transposed pair may be edited between ("ca"->"abc" = 2; restricted
    OSA says 3). Also validates the classic <= 2*DL prefilter bound
    the fuzzy join relies on."""
    import random

    from capsbm25.query import _damerau_levenshtein

    fixed = [("ca", "abc"), ("abc", "ca"), ("hte", "the"),
             ("abcd", "acbd"), ("ab", "ba"), ("", "abc"), ("a", ""),
             ("same", "same"), ("xabc", "abcx"), ("abcdef", "abcfed")]
    rng = random.Random(42)
    rand = [
        ("".join(rng.choice("abcz01") for _ in range(rng.randint(0, 7))),
         "".join(rng.choice("abcz01") for _ in range(rng.randint(0, 7))))
        for _ in range(300)
    ]
    for a, b in fixed + rand:
        dl = _damerau_levenshtein(a, b)
        assert dl == _dl_want(a, b), (a, b)
        classic = _lev(a, b)
        assert dl <= classic <= 2 * dl or (dl == 0 and classic == 0), (a, b)


def test_fuzzy_transpositions(built_index, spark):
    """transpositions=True matches Damerau-only typos (adjacent swap =
    1 edit) that classic max_edits=1 misses; differential against the
    naive DL expansion of the oracle dictionary."""
    from capsbm25.query import _damerau_levenshtein

    cfg, oracle = built_index["cfg"], built_index["oracle"]
    vocab = sorted(oracle.postings)
    seed = next(t for t in vocab if len(t) >= 4 and t[-2] != t[-1])
    probe = seed[:-2] + seed[-1] + seed[-2]  # swap last two chars
    queries = pd.DataFrame({
        "query_id": np.array([0], dtype=np.int32),
        "text": [probe],
        "k": np.array([12], dtype=np.int32),
    })
    for me in (1, 2):
        got = fuzzy_topk(
            spark, built_index["postings"], queries, cfg,
            max_edits=me, transpositions=True,
        ).toPandas()
        want = _expansion_want(
            oracle,
            lambda t, me=me: _damerau_levenshtein(t, probe) <= me, 12)
        _check_one(got, 0, want)
        assert len(want) > 0  # the swapped seed itself must match
    # classic max_edits=1 must NOT match the pure-transposition typo
    # unless some term is within 1 classic edit anyway
    got_classic = fuzzy_topk(
        spark, built_index["postings"], queries, cfg, max_edits=1,
    ).toPandas()
    want_classic = _expansion_want(
        oracle, lambda t: _lev(t, probe) <= 1, 12)
    _check_one(got_classic, 0, want_classic)


def test_max_expansions_bound(built_index, spark):
    """Lucene top-N rewrite: with max_expansions=N only the N best
    matched terms (df DESC, term ASC) are scored — differential
    against the bounded naive expansion."""
    cfg, oracle = built_index["cfg"], built_index["oracle"]
    pat = "w0*"
    all_terms = [t for t in sorted(oracle.postings)
                 if fnmatch.fnmatchcase(t, pat)]
    assert len(all_terms) > 5  # the bound must actually bind below
    for n in (3, 5):
        top = sorted(all_terms,
                     key=lambda t: (-len(oracle.postings[t]), t))[:n]
        queries = pd.DataFrame({
            "query_id": np.array([0], dtype=np.int32),
            "text": [pat],
            "k": np.array([12], dtype=np.int32),
        })
        got = wildcard_topk(
            spark, built_index["postings"], queries, cfg,
            max_expansions=n,
        ).toPandas()
        want = _expansion_want(oracle, lambda t: t in set(top), 12)
        _check_one(got, 0, want)
    # unbounded (None) and default (1024, wider than any match here)
    # agree with the full expansion
    for n in (None, 1024):
        got = wildcard_topk(
            spark, built_index["postings"], queries, cfg,
            max_expansions=n,
        ).toPandas()
        want = _expansion_want(
            oracle, lambda t: fnmatch.fnmatchcase(t, pat), 12)
        _check_one(got, 0, want)


def test_fuzzy_max_expansions_rank_by_distance(built_index, spark):
    """Fuzzy's bounded selection prefers CLOSER terms first (distance
    ASC, then df DESC, then term) — with max_expansions=1 the exact
    match itself must win over any 1-edit neighbor."""
    cfg, oracle = built_index["cfg"], built_index["oracle"]
    vocab = sorted(oracle.postings)
    probe = vocab[len(vocab) // 2]
    queries = pd.DataFrame({
        "query_id": np.array([0], dtype=np.int32),
        "text": [probe],
        "k": np.array([12], dtype=np.int32),
    })
    got = fuzzy_topk(
        spark, built_index["postings"], queries, cfg, max_edits=2,
        max_expansions=1,
    ).toPandas()
    want = _expansion_want(oracle, lambda t: t == probe, 12)
    _check_one(got, 0, want)


def test_fuzzy_dictionary_scan_pushes_length_window(built_index, spark):
    """The round-6 dictionary persists tlen; fuzzy's scan condition
    must reach the parquet scan as pushed range predicates (the
    FST-automaton analog: candidates come from a pruned range, not a
    full dictionary pass)."""
    import os

    from capsbm25.query import _fuzzy_scan_cond
    from pyspark.sql import functions as F

    dic_path = os.path.join(built_index["res"].out_dir, "dictionary")
    dic = spark.read.parquet(dic_path)
    assert "tlen" in dic.columns
    cond = _fuzzy_scan_cond([5], 1)
    plan = (dic.where(cond)._jdf.queryExecution().executedPlan()
            .toString().replace("\n", " "))
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(tlen,4)" in plan, plan[:1500]
    assert "LessThanOrEqual(tlen,6)" in plan, plan[:1500]
    # and the loaded (cached) dictionary answers fuzzy correctly
    from capsbm25.build import load_dictionary

    cfg, oracle = built_index["cfg"], built_index["oracle"]
    vocab = sorted(oracle.postings)
    probe = vocab[3]
    queries = pd.DataFrame({
        "query_id": np.array([0], dtype=np.int32),
        "text": [probe],
        "k": np.array([12], dtype=np.int32),
    })
    got = fuzzy_topk(
        spark, built_index["postings"], queries, cfg, max_edits=1,
        dictionary=load_dictionary(spark, built_index["res"].out_dir),
    ).toPandas()
    want = _expansion_want(oracle, lambda t: _lev(t, probe) <= 1, 12)
    _check_one(got, 0, want)


def test_regexp_matches_naive_expansion(built_index, spark):
    """regexp_topk: anchored full-term regex, differential against the
    naive re.fullmatch expansion (identical by construction in the
    validated Java/RE2 common subset)."""
    import re

    from capsbm25.query import regexp_topk

    cfg, oracle = built_index["cfg"], built_index["oracle"]
    pats = ["w0.*", "w0[01]1.*", "(the|hash)", "w..3", "w[0-9]{4}"]
    queries = pd.DataFrame({
        "query_id": np.arange(len(pats), dtype=np.int32),
        "text": pats,
        "k": np.full(len(pats), 12, dtype=np.int32),
    })
    # unbounded for the differential (w[0-9]{4} matches > 1024 terms,
    # where the default top-N rewrite would legitimately bind — bound
    # semantics are covered by test_max_expansions_bound)
    out = regexp_topk(spark, built_index["postings"], queries, cfg,
                      max_expansions=None)
    plan = out._jdf.queryExecution().executedPlan().toString().replace(
        "\n", " ")
    # postings pruned either via pushed In(term) literals (small match
    # sets) or the broadcast semi-join (w[0-9]{4} matches > _ISIN_MAX_TERMS)
    assert "In(term" in plan or "LeftSemi" in plan, plan[:1500]
    got = out.toPandas()
    for qid, p in enumerate(pats):
        want = _expansion_want(
            oracle, lambda t, p=p: re.fullmatch(p, t) is not None, 12)
        _check_one(got, qid, want)
    # anchored: a leading-anchor mismatch must NOT partial-match
    assert not any(
        re.fullmatch("w..3", t) for t in oracle.postings if len(t) != 4)


def test_regexp_rejects_unsafe_pattern(built_index, spark):
    from capsbm25.query import regexp_topk

    cfg = built_index["cfg"]
    # NB "Wx*" does NOT raise: patterns lowercase against the
    # normalized dictionary, same as wildcard_topk
    for bad in ["", "w\\d+", "(?=x)y", "a^b$c=", "(unclosed"]:
        q = pd.DataFrame({"query_id": np.array([0], dtype=np.int32),
                          "text": [bad],
                          "k": np.array([5], dtype=np.int32)})
        with pytest.raises(ValueError):
            regexp_topk(spark, built_index["postings"], q, cfg)


def test_term_range_matches_naive_expansion(built_index, spark):
    """term_range_topk: inclusive/exclusive bounds + open sides,
    differential against the naive string-range expansion; the
    dictionary scan must carry PUSHED term-range predicates."""
    from capsbm25.query import term_range_topk

    cfg, oracle = built_index["cfg"], built_index["oracle"]
    vocab = sorted(oracle.postings)
    lo, hi = vocab[len(vocab) // 3], vocab[2 * len(vocab) // 3]
    queries = pd.DataFrame({
        "query_id": np.arange(3, dtype=np.int32),
        "lo": [lo, lo, None],
        "hi": [hi, hi, vocab[5]],
        "include_lower": [True, False, True],
        "include_upper": [True, False, True],
        "k": np.full(3, 12, dtype=np.int32),
    })
    # unbounded for the differential (a thousands-of-terms range is
    # exactly where the default top-N rewrite would legitimately bind)
    out = term_range_topk(spark, built_index["postings"], queries, cfg,
                          max_expansions=None)
    got = out.toPandas()
    cases = [
        lambda t: lo <= t <= hi,
        lambda t: lo < t < hi,
        lambda t: t <= vocab[5],
    ]
    for qid, fn in enumerate(cases):
        _check_one(got, qid, _expansion_want(oracle, fn, 12))
    # the coarse envelope condition pushes to the term-sorted
    # dictionary parquet as range predicates (the dictionary match
    # runs eagerly inside the call, so assert on the scan shape the
    # envelope produces — same protocol as the fuzzy tlen-window test)
    from pyspark.sql import functions as F

    dic = spark.read.parquet(built_index["res"].out_dir + "/dictionary")
    env = (F.col("term") >= lo) & (F.col("term") <= hi)
    plan = (dic.where(env)._jdf.queryExecution().executedPlan()
            .toString().replace("\n", " "))
    # the scan is either the raw parquet (range reaches PushedFilters)
    # or — when load_dictionary already cached this path in-session and
    # Spark substituted the InMemoryRelation — the cached scan, whose
    # scan-level filter list carries the same range
    pushed = (f"GreaterThanOrEqual(term,{lo})" in plan
              and f"LessThanOrEqual(term,{hi})" in plan)
    cached = ("InMemoryTableScan" in plan
              and f">= {lo})" in plan and f"<= {hi})" in plan)
    assert pushed or cached, plan[:1500]


def test_term_range_docs_only_membership(built_index, spark):
    """docs_only=True returns the distinct (query_id, doc_id)
    membership (constant-score rewrite input)."""
    from capsbm25.query import term_range_topk

    cfg, oracle = built_index["cfg"], built_index["oracle"]
    vocab = sorted(oracle.postings)
    lo, hi = vocab[len(vocab) // 3], vocab[2 * len(vocab) // 3]
    queries = pd.DataFrame({
        "query_id": np.array([0], dtype=np.int32),
        "lo": [lo], "hi": [hi],
        "k": np.array([5], dtype=np.int32),  # ignored for membership
    })
    want = set()
    for t in vocab:
        if lo <= t <= hi:
            want |= oracle.postings[t].keys()
    got = term_range_topk(spark, built_index["postings"], queries, cfg,
                          max_expansions=None, docs_only=True).toPandas()
    assert set(got.columns) == {"query_id", "doc_id"}
    assert len(got) == len(want)  # distinct — no duplicate rows
    assert set(got.doc_id) == want


def test_term_range_requires_a_bound(built_index, spark):
    from capsbm25.query import term_range_topk

    q = pd.DataFrame({"query_id": np.array([0], dtype=np.int32),
                      "lo": [None], "hi": [None],
                      "k": np.array([5], dtype=np.int32)})
    with pytest.raises(ValueError, match="at least one bound"):
        term_range_topk(spark, built_index["postings"], q,
                        built_index["cfg"])


# ---------------------------------------------------------- round-6 review


def test_regexp_optional_quantifier_lead_is_sound(spark, tmp_path):
    """Review fix: 'so?rt'-shaped patterns — a leading literal run
    followed by ?, * or {0,n} must NOT prune terms missing the
    governed char, and alternation disables the pushdown entirely.
    Crafted corpus: 'srt' docs exist that 'so?rt' must find even
    though the naive lead 'so' would prune them; 'row' docs exist
    that 'sort|row' must find despite the naive lead 'sort'."""
    from capsbm25.build import build_index, load_postings
    from capsbm25.query import regexp_topk

    cfg = BuildConfig(num_part_ids=4, shuffle_partitions=4, num_waves=1,
                      max_salt_buckets=2)
    texts = (["sort merge"] * 3 + ["srt only here"] * 2
             + ["row another"] * 2 + ["noise term"] * 2)
    pdf = pd.DataFrame(
        {"conv_id": [f"c{i:03d}" for i in range(len(texts))],
         "turn_idx": np.zeros(len(texts), dtype=np.int32),
         "role": ["user"] * len(texts),
         "text": texts,
         "tool": ["none"] * len(texts),
         "ts": pd.Timestamp("2026-01-01")})
    res = build_index(spark, spark.createDataFrame(pdf),
                      str(tmp_path / "rx"), cfg)
    posts = load_postings(spark, res.out_dir)
    queries = pd.DataFrame(
        {"query_id": np.array([0, 1, 2], dtype=np.int32),
         "text": ["so?rt", "sort|row", "s(o|r)rt"],
         "k": np.array([20, 20, 20], dtype=np.int32)})
    got = regexp_topk(spark, posts, queries, cfg).toPandas()
    # docs are dense by (conv_id, turn_idx): doc i == row i here
    sort_docs, srt_docs, row_docs = {0, 1, 2}, {3, 4}, {5, 6}
    assert set(got[got.query_id == 0].doc_id) == sort_docs | srt_docs
    assert set(got[got.query_id == 1].doc_id) == sort_docs | row_docs
    # s(o|r)rt = 'sort' | 'srrt'; only 'sort' exists — scoped
    # alternation also rides the no-pushdown path
    assert set(got[got.query_id == 2].doc_id) == sort_docs


def test_term_range_open_sides_whole_batch(built_index, spark):
    """Review fix: a batch open on the SAME side everywhere (all-None
    lo or hi column) must run, not crash on schema inference."""
    from capsbm25.query import term_range_topk

    cfg, oracle = built_index["cfg"], built_index["oracle"]
    vocab = sorted(oracle.postings)
    mid = vocab[len(vocab) // 2]
    for lo, hi in ((None, mid), (mid, None)):
        queries = pd.DataFrame(
            {"query_id": np.array([0], dtype=np.int32),
             "lo": [lo], "hi": [hi],
             "k": np.array([25], dtype=np.int32)})
        got = term_range_topk(
            spark, built_index["postings"], queries, cfg,
            max_expansions=None,
        ).toPandas()
        want = _expansion_want(
            oracle,
            lambda t: (lo is None or t >= lo) and (hi is None or t <= hi),
            25)
        _check_one(got, 0, want)


def test_max_expansions_bounds_terms_not_rows_on_segments(spark, tmp_path):
    """Review fix: on a dictionary-less SEGMENTED index a term spans
    one posting row per segment; the bound must keep/drop whole TERMS
    (dense_rank over per-term total df) — a row cutoff would silently
    drop part of a term's postings."""
    from capsbm25.query import wildcard_topk
    from capsbm25.streaming import (
        load_segment_postings,
        process_batch,
        stream_corpus_stats,
    )

    cfg = BuildConfig(num_part_ids=4, shuffle_partitions=4, num_waves=1,
                      max_salt_buckets=2)
    out = str(tmp_path / "seg")
    pdf = fx.gen_transcripts_pdf(60, 7)
    halves = np.array_split(np.arange(len(pdf)), 2)
    for b, ix in enumerate(halves):
        process_batch(spark, spark.createDataFrame(pdf.iloc[ix]), b, out,
                      cfg, auto_compact=False)
    posts = load_segment_postings(spark, out)
    # the corpus straddles 2 segments: common terms hold 2 rows each
    from pyspark.sql import functions as F
    multi = (posts.groupBy("term").count().where(F.col("count") > 1)
             .count())
    assert multi > 0, "fixture must split terms across segments"
    q = pd.DataFrame({"query_id": np.array([0], dtype=np.int32),
                      "text": ["w*"],
                      "k": np.array([10**6], dtype=np.int32)})
    # unbounded = ground truth over this index; bound=3 must equal the
    # truth restricted to the top-3 terms by TOTAL df with ALL their
    # segment rows present
    full = wildcard_topk(spark, posts, q, cfg, max_expansions=None,
                         ).toPandas()
    got = wildcard_topk(spark, posts, q, cfg, max_expansions=3,
                        ).toPandas()
    tdf = (posts.where(F.col("term").startswith("w"))
           .groupBy("term").agg(F.sum("df").alias("df"))
           .toPandas().sort_values(["df", "term"],
                                   ascending=[False, True]))
    top3 = list(tdf["term"].head(3))
    # recompute expected summed-tf ranking from raw postings of top3
    from capsbm25.codec import decode_varints, delta_decode
    rows = posts.where(F.col("term").isin(top3)).collect()
    per_doc: dict[int, int] = {}
    for r in rows:
        docs = delta_decode(r.doc_ids)
        tfs = decode_varints(r.tfs)
        for d, tf in zip(docs.tolist(), tfs.tolist()):
            per_doc[d] = per_doc.get(d, 0) + int(tf)
    want = sorted(per_doc.items(), key=lambda x: (-x[1], x[0]))
    assert list(got.sort_values("rank").doc_id) == [d for d, _ in want]
    assert np.allclose(got.sort_values("rank").score,
                       [float(s) for _, s in want])
    assert len(got) <= len(full)


def test_expansion_docs_only_membership(built_index, spark):
    """docs_only=True returns exactly the distinct doc membership of
    the (bounded) expansion — the constant-score rewrite's input."""
    from capsbm25.query import fuzzy_topk, wildcard_topk

    cfg, oracle = built_index["cfg"], built_index["oracle"]
    vocab = sorted(oracle.postings)
    pat = vocab[len(vocab) // 2][:2] + "*"
    q = pd.DataFrame({"query_id": np.array([0], dtype=np.int32),
                      "text": [pat],
                      "k": np.array([10**6], dtype=np.int32)})
    ranked = wildcard_topk(spark, built_index["postings"], q, cfg,
                           max_expansions=None).toPandas()
    docs = wildcard_topk(spark, built_index["postings"], q, cfg,
                         max_expansions=None, docs_only=True).toPandas()
    assert set(docs.doc_id) == set(ranked.doc_id)
    assert len(docs) == docs.doc_id.nunique()  # distinct
    assert sorted(docs.columns) == ["doc_id", "query_id"]
    qf = pd.DataFrame({"query_id": np.array([0], dtype=np.int32),
                       "text": ["x" + vocab[0]],
                       "k": np.array([10**6], dtype=np.int32)})
    rf = fuzzy_topk(spark, built_index["postings"], qf, cfg,
                    max_edits=2).toPandas()
    df_ = fuzzy_topk(spark, built_index["postings"], qf, cfg,
                     max_edits=2, docs_only=True).toPandas()
    assert set(df_.doc_id) == set(rf.doc_id)


def test_offset_nan_defaults_to_zero(built_index, spark):
    """Review fix: a partially-set offset column (NaN for unset rows)
    defaults those rows to 0 instead of raising."""
    from capsbm25.query import bm25_topk

    res, cfg, oracle = (built_index["res"], built_index["cfg"],
                        built_index["oracle"])
    base = fx.queries_pdf(42).head(2).reset_index(drop=True)
    queries = base.assign(offset=[5.0, None])
    got = bm25_topk(
        spark, built_index["postings"], queries, res.N, res.avgdl, cfg,
    ).toPandas()
    for q, off in ((base.iloc[0], 5), (base.iloc[1], 0)):
        want = oracle.topk(q.text, int(q.k), offset=off)
        g = got[got.query_id == q.query_id].sort_values("rank")
        assert list(g.doc_id) == [d for d, _ in want]
        assert list(g["rank"]) == list(range(off + 1, off + 1 + len(want)))


def test_expansion_docs_only_respects_filters(built_index, spark):
    """Round-6 review: docs_only membership must apply doc_filter /
    doc_exclude like the ranked path — a constant-score consumer
    composing the set would otherwise resurrect excluded docs."""
    cfg, oracle = built_index["cfg"], built_index["oracle"]
    vocab = sorted(oracle.postings)
    pat = vocab[len(vocab) // 2][:2] + "*"
    q = pd.DataFrame({"query_id": np.array([0], dtype=np.int32),
                      "text": [pat],
                      "k": np.array([10**6], dtype=np.int32)})
    full = wildcard_topk(spark, built_index["postings"], q, cfg,
                         max_expansions=None, docs_only=True).toPandas()
    docs = sorted(full.doc_id)
    assert len(docs) >= 2
    half = docs[: len(docs) // 2]
    half_df = spark.createDataFrame(
        pd.DataFrame({"doc_id": np.array(half, dtype=np.int64)}))
    kept = wildcard_topk(spark, built_index["postings"], q, cfg,
                         max_expansions=None, docs_only=True,
                         doc_filter=half_df).toPandas()
    assert sorted(kept.doc_id) == half
    rest = wildcard_topk(spark, built_index["postings"], q, cfg,
                         max_expansions=None, docs_only=True,
                         doc_exclude=half_df).toPandas()
    assert sorted(rest.doc_id) == docs[len(docs) // 2:]
    # fuzzy side: exclusion drops the excluded ids from membership
    qf = pd.DataFrame({"query_id": np.array([0], dtype=np.int32),
                       "text": ["x" + vocab[0]],
                       "k": np.array([10**6], dtype=np.int32)})
    fl = fuzzy_topk(spark, built_index["postings"], qf, cfg,
                    max_edits=2, docs_only=True).toPandas()
    fdocs = sorted(fl.doc_id)
    assert len(fdocs) >= 2
    fex = spark.createDataFrame(
        pd.DataFrame({"doc_id": np.array(fdocs[:1], dtype=np.int64)}))
    fr = fuzzy_topk(spark, built_index["postings"], qf, cfg,
                    max_edits=2, docs_only=True,
                    doc_exclude=fex).toPandas()
    assert sorted(fr.doc_id) == fdocs[1:]


def test_expansion_fused_tail_rank_identical(built_index, spark,
                                             monkeypatch):
    """The expansion ranked tail runs through the one combine + top-k
    tail; wildcard and fuzzy results are rank-identical to the naive
    expansion oracle at fan-out 1 and fan-out 32 (tf sums are
    integers, so double addition is exact in any order)."""
    import capsbm25.query as Q

    cfg, oracle = built_index["cfg"], built_index["oracle"]
    pats = ["w00*", "w0?01", "w*"]
    queries = pd.DataFrame(
        {"query_id": np.arange(3, dtype=np.int32),
         "text": pats,
         "k": np.array([10, 10, 10], dtype=np.int32)})
    probes = ["w0001", "w0100"]
    fq = pd.DataFrame(
        {"query_id": np.arange(2, dtype=np.int32),
         "text": probes,
         "k": np.array([10, 10], dtype=np.int32)})
    for fan_out in (1, 32):
        monkeypatch.setattr(Q, "_fan_out", lambda mass, s=fan_out: s)
        got_w = wildcard_topk(spark, built_index["postings"], queries,
                              cfg, max_expansions=None).toPandas()
        got_f = fuzzy_topk(spark, built_index["postings"], fq, cfg,
                           max_edits=1, max_expansions=None).toPandas()
        for qid, pat in enumerate(pats):
            want = _expansion_want(
                oracle, lambda t, p=pat: fnmatch.fnmatchcase(t, p), 10)
            assert want
            _check_one(got_w, qid, want)
        for qid, p in enumerate(probes):
            want = _expansion_want(
                oracle, lambda t, p=p: _lev(t, p) <= 1, 10)
            assert want
            _check_one(got_f, qid, want)


# ------------------------------------------------- class sharing

# per surface: the batch rows (query_id, spec, k) and the term predicate
# of a spec. Duplicate specs with different k (one k=0) share a class; a
# sub-pattern and a no-match spec ride along. prefix, regexp and
# term_range take the unbounded collect path, wildcard and fuzzy the
# bounded one.
_CLASS_CASES = {
    "wildcard": ([(5, "w0*", 3), (2, "w0*", 10), (9, "w0*", 0),
                  (7, "w00*", 25), (4, "zzq*", 5)],
                 lambda p: lambda t: fnmatch.fnmatchcase(t, p)),
    "prefix": ([(5, "w0", 3), (2, "w0", 10), (9, "w0", 0),
                (7, "w00", 25), (4, "zzq", 5)],
               lambda p: lambda t: t.startswith(p)),
    "fuzzy": ([(5, "w0001", 3), (2, "w0001", 10), (9, "w0001", 0),
               (7, "w0010", 25), (4, "qqqqqqqq", 5)],
              lambda p: lambda t: _lev(t, p) <= 1),
    "regexp": ([(5, "w0.*", 3), (2, "w0.*", 10), (9, "w0.*", 0),
                (7, "w00.*", 25), (4, "zzq.*", 5)],
               lambda p: lambda t: re.fullmatch(p, t) is not None),
    "term_range": ([(5, ("w0000", "w0999"), 3), (2, ("w0000", "w0999"), 10),
                    (9, ("w0000", "w0999"), 0), (7, ("w0100", "w0199"), 25),
                    (4, ("zzzz0", "zzzz9"), 5)],
                   lambda b: lambda t: b[0] <= t <= b[1]),
}


def _class_batch(surface, rows):
    qids = np.array([r[0] for r in rows], dtype=np.int32)
    ks = np.array([r[2] for r in rows], dtype=np.int32)
    if surface == "term_range":
        return pd.DataFrame({"query_id": qids,
                             "lo": [r[1][0] for r in rows],
                             "hi": [r[1][1] for r in rows], "k": ks})
    return pd.DataFrame({"query_id": qids,
                         "text": [r[1] for r in rows], "k": ks})


def _class_call(surface, ix, spark, queries, **kw):
    from capsbm25.query import prefix_topk, regexp_topk, term_range_topk

    fn, extra = {
        "wildcard": (wildcard_topk, {}),
        "prefix": (prefix_topk, {"max_expansions": None}),
        "fuzzy": (fuzzy_topk, {"max_edits": 1}),
        "regexp": (regexp_topk, {"max_expansions": None}),
        "term_range": (term_range_topk, {"max_expansions": None}),
    }[surface]
    return fn(spark, ix["postings"], queries, ix["cfg"], **extra,
              **kw).toPandas()


def _ranked(got, qid):
    g = got[got.query_id == qid].sort_values("rank")
    return list(zip(g.doc_id, g.score, g["rank"]))


@pytest.mark.parametrize("surface", sorted(_CLASS_CASES))
def test_class_sharing_equals_single_queries(built_index, spark, surface):
    """Queries with identical resolved term sets share one decode,
    fold and combine; each still gets its own k. The batch equals the
    union of one-query calls with bit-equal scores, and the naive
    expansion oracle."""
    rows, pred = _CLASS_CASES[surface]
    oracle = built_index["oracle"]
    got = _class_call(surface, built_index, spark,
                      _class_batch(surface, rows))
    for row in rows:
        qid, spec, k = row
        one = _class_call(surface, built_index, spark,
                          _class_batch(surface, [row]))
        assert _ranked(got, qid) == _ranked(one, qid), qid
        _check_one(got, qid, _expansion_want(oracle, pred(spec), k))


@pytest.mark.parametrize("surface", sorted(_CLASS_CASES))
def test_class_sharing_filters_and_membership(built_index, spark,
                                              surface):
    """Class sharing under doc_filter / doc_exclude on the ranked tail,
    and on the membership fan-out (docs_only=True)."""
    rows, pred = _CLASS_CASES[surface]
    oracle = built_index["oracle"]
    queries = _class_batch(surface, rows)
    ids = np.array(sorted({d for post in oracle.postings.values()
                           for d in post}), dtype=np.int64)
    filt, excl = ids[ids % 3 != 0], ids[ids % 2 == 0]

    def docs(spec, keep=lambda d: True):
        fn = pred(spec)
        return {d for t in oracle.postings if fn(t)
                for d in oracle.postings[t] if keep(d)}

    for kw, keep in (({"doc_filter": filt}, lambda d: d % 3 != 0),
                     ({"doc_exclude": excl}, lambda d: d % 2 != 0)):
        got = _class_call(surface, built_index, spark, queries, **kw)
        for qid, spec, k in rows:
            want = [(d, s) for d, s in _expansion_want(
                oracle, pred(spec), 10 ** 6) if keep(d)][:k]
            _check_one(got, qid, want)
    if surface == "prefix":  # prefix_topk has no membership mode
        return
    got = _class_call(surface, built_index, spark, queries,
                      docs_only=True, doc_exclude=excl)
    for qid, spec, _ in rows:
        g = got[got.query_id == qid]
        assert set(g.doc_id) == docs(spec, lambda d: d % 2 != 0), qid
        assert len(g) == g.doc_id.nunique(), qid


def test_class_sharing_decodes_once(built_index, spark, monkeypatch):
    """A 30-copy batch of one hot pattern hands the producer as many
    matched posting rows as a 1-copy batch: every row is joined,
    transferred and decoded once per class, not once per query."""
    import capsbm25.query as Q

    counts = []
    real = Q._doc_partials

    def counting(matched, *args, **kwargs):
        counts.append(matched.count())
        return real(matched, *args, **kwargs)

    monkeypatch.setattr(Q, "_doc_partials", counting)
    results = []
    for n in (1, 30):
        q = pd.DataFrame({"query_id": np.arange(n, dtype=np.int32),
                          "text": ["w0*"] * n,
                          "k": np.full(n, 10, dtype=np.int32)})
        results.append(wildcard_topk(spark, built_index["postings"], q,
                                     built_index["cfg"]).toPandas())
    assert counts[0] == counts[1] > 0
    first = _ranked(results[0], 0)
    assert len(first) == 10
    for qid in range(30):
        assert _ranked(results[1], qid) == first, qid


def test_class_sharing_query_string(built_index, spark, monkeypatch):
    """Query-string expansion clauses are rows of the one term pass:
    three queries carrying the same `w0*` clause share one class and
    each still matches its oracle. Membership is keyed per CLAUSE, not
    per query: `w0* -w0*` in one query returns nothing, a class shared
    as MUST, boosted SHOULD and MUST_NOT across queries composes like
    the oracle, and a 3-query batch decodes `w0*` no more often than a
    1-query batch."""
    import capsbm25.parser as P
    from capsbm25.parser import query_string_topk

    res, cfg, oracle = (built_index["res"], built_index["cfg"],
                        built_index["oracle"])

    def run(texts):
        q = pd.DataFrame({"query_id": np.arange(len(texts), dtype=np.int32),
                          "text": texts,
                          "k": np.full(len(texts), 30, dtype=np.int32)})
        return query_string_topk(spark, built_index["postings"], q, res.N,
                                 res.avgdl, cfg).toPandas()

    texts = ["w0* w0001", "+w0002 w0*^2", "w0*", "w00*"]
    got = run(texts)

    def docs(prefix):
        return {d for t in oracle.postings if t.startswith(prefix)
                for d in oracle.postings[t]}

    def bm25(t):
        return {d: oracle.score_doc([t], d) for d in oracle.postings[t]}

    def rank(scores, k=30):
        return sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]

    w0, w00 = docs("w0"), docs("w00")
    s0 = {d: 1.0 for d in w0}
    for d, s in bm25("w0001").items():
        s0[d] = s0.get(d, 0.0) + s
    s1 = {d: s + (2.0 if d in w0 else 0.0)
          for d, s in bm25("w0002").items()}
    wants = [rank(s0), rank(s1), rank({d: 1.0 for d in w0}),
             rank({d: 1.0 for d in w00})]
    for qid, want in enumerate(wants):
        assert want, qid
        g = got[got.query_id == qid].sort_values("rank")
        assert list(g.doc_id) == [d for d, _ in want], qid
        assert np.allclose(g.score, [s for _, s in want]), qid

    # per-clause keying: SHOULD and MUST_NOT of one class in one query
    assert run(["w0* -w0*"]).empty
    got = run(["+w0*", "w0*^2 w0001", "w0001 -w0*"])
    s1 = {d: 2.0 for d in w0}
    for d, s in bm25("w0001").items():
        s1[d] = s1.get(d, 0.0) + s
    wants = [rank({d: 1.0 for d in w0}), rank(s1),
             rank({d: s for d, s in bm25("w0001").items()
                   if d not in w0})]
    for qid, want in enumerate(wants):
        g = got[got.query_id == qid].sort_values("rank")
        assert list(g.doc_id) == [d for d, _ in want], qid
        assert np.allclose(g.score, [s for _, s in want]), qid
    assert wants[0] and wants[1]

    # one decode per class: the producer sees as many posting rows for
    # three clauses of `w0*` across three queries as for one
    counts = []
    real = P._doc_partials

    def counting(matched, *args, **kwargs):
        counts.append(matched.count())
        return real(matched, *args, **kwargs)

    monkeypatch.setattr(P, "_doc_partials", counting)
    run(["w0*"])
    one = sum(counts)
    counts.clear()
    run(["w0*", "+w0*^2", "w0* -w0*"])
    assert sum(counts) == one > 0
