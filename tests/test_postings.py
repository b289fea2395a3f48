"""Posting-list invariants — the recast of the reference's sorted-order
and LCP invariants (is_sorted, Suffix_Array.cpp:512-536) demanded by
BASELINE.json: per-term doc_ids strictly increasing, df == len(doc_ids),
cf == sum(tfs), block maxima are valid upper bounds, and full df/tf
equality against the naive oracle."""

import numpy as np
from pyspark.sql import functions as F

from capsbm25.codec import decode_varints, delta_decode
from capsbm25.scoring import idf as idf_fn
from capsbm25.scoring import term_scores


def test_postings_match_oracle_exactly(built_index):
    oracle = built_index["oracle"]
    rows = built_index["postings"].collect()
    assert len(rows) == len(oracle.postings)
    for r in rows:
        o = oracle.postings[r.term]
        docs = delta_decode(r.doc_ids)
        tfs = decode_varints(r.tfs).astype(int)
        dls = decode_varints(r.dls).astype(int)
        assert r.df == len(o) == docs.size
        assert r.cf == sum(o.values()) == tfs.sum()
        assert (np.diff(docs) > 0).all(), f"{r.term}: doc_ids not strictly increasing"
        assert docs.tolist() == sorted(o)
        assert tfs.tolist() == [o[d] for d in sorted(o)]
        assert dls.tolist() == [oracle.dl[d] for d in sorted(o)]


def test_one_row_per_term(built_index):
    dupes = (
        built_index["postings"]
        .groupBy("term")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert dupes == 0


def test_salting_exercised_and_merged(built_index, spark):
    res = built_index["res"]
    assert res.plan.hot_terms, "fixture corpus must trigger hot-term salting"
    out = res.out_dir
    allp = spark.read.parquet(f"{out}/postings")
    partials = allp.where(F.col("partial"))
    assert partials.count() > 0, "salted partial postings should exist pre-merge"
    # every hot term: >=1 partial row, exactly 1 merged final row
    # (a hot term's salt buckets may hash into one Spark partition and
    # emerge as a single combined partial — still correct)
    part_counts = {
        r["term"]: r["n"]
        for r in partials.groupBy("term").agg(F.count("*").alias("n")).collect()
    }
    final_counts = {
        r["term"]: r["n"]
        for r in built_index["postings"]
        .where(F.col("term").isin(list(res.plan.hot_terms)))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for term in res.plan.hot_terms:
        assert part_counts.get(term, 0) >= 1, term
        assert final_counts.get(term) == 1, term
    assert max(part_counts.values()) > 1, "salting never split any hot term"


def test_with_part_id_matches_fused_assignment(built_index, spark):
    """The standalone part-assignment operator (for externally-produced
    pairs) must agree with the fused extract_pairs(plan=...) path."""
    from capsbm25.docids import assign_doc_ids
    from capsbm25.postings import extract_pairs, with_part_id

    res, cfg = built_index["res"], built_index["cfg"]
    docs = assign_doc_ids(
        spark.createDataFrame(built_index["pdf"]), cfg
    ).select("doc_id", "text").limit(50)
    fused = (
        extract_pairs(docs, cfg, plan=res.plan)
        .select("term", "doc_id", "part_id")
        .toPandas()
        .sort_values(["term", "doc_id"], ignore_index=True)
    )
    standalone = (
        with_part_id(extract_pairs(docs, cfg), res.plan)
        .select("term", "doc_id", "part_id")
        .toPandas()
        .sort_values(["term", "doc_id"], ignore_index=True)
    )
    assert fused.equals(standalone)


def test_corpus_stats(built_index):
    oracle = built_index["oracle"]
    res = built_index["res"]
    assert res.N == oracle.N
    assert abs(res.avgdl - oracle.avgdl) < 1e-9


def test_manifest_lineage(built_index, spark):
    from capsbm25.build import Manifest

    man = Manifest(built_index["res"].out_dir)
    stages = [r["stage"] for r in man.records()]
    for s in ["docs", "plan", "pairs", "hot_merge"]:
        assert s in stages
    assert any(s.startswith("wave=") for s in stages)
    for r in man.records():
        assert r["status"] == "done"
        assert r["finished_ts"] >= r["started_ts"]
    # the plan itself is recorded verbatim (shuffle-plan lineage)
    plan_rec = man.done("plan")
    assert "splitters" in plan_rec["plan"]


def test_stage_seconds_exclude_checksum_read_back(spark, tmp_path,
                                                  monkeypatch):
    """The hot_merge and wave=K stage times end when the stage's own
    merge + write ends; the deferred read-back checksum that precedes
    their manifest record is reported apart, as check_s."""
    import time

    import capsbm25.build as bm
    from capsbm25 import fixtures as fx
    from capsbm25.config import BuildConfig

    pause, real = 1.0, bm._checksum

    def slow_checksum(df):
        time.sleep(pause)
        return real(df)

    monkeypatch.setattr(bm, "_checksum", slow_checksum)
    cfg = BuildConfig(num_part_ids=16, shuffle_partitions=4, num_waves=2,
                      hot_share_threshold=0.004, max_salt_buckets=4)
    res = bm.build_index(spark, spark.createDataFrame(
        fx.gen_transcripts_pdf(30, 5)), str(tmp_path / "idx"), cfg)
    recs = {r["stage"]: r for r in bm.Manifest(res.out_dir).records()}
    stages = ["hot_merge"] + [s for s in res.metrics
                              if s.startswith("wave=")]
    assert len(stages) > 1
    for s in stages:
        m = res.metrics[s]
        span = recs[s]["finished_ts"] - recs[s]["started_ts"]
        assert m["check_s"] >= pause, (s, m)
        assert m["sec"] <= span - pause + 0.01, (s, m, span)


def _pos_payload(pairs):
    """Positions payload: delta+varint with an absolute value at every
    pair start (the encoding _posting_rows writes)."""
    from capsbm25.codec import encode_varints

    return encode_varints(np.concatenate(
        [np.diff(np.asarray(p, dtype=np.int64), prepend=0) for p in pairs]))


def test_merge_walk_matches_per_term_reference(spark):
    """merge_hot_partials folds each term's rows in one sorted walk.
    Against a per-term numpy reference: interleaved doc ranges given
    out of part_id order, a term whose docs are all dropped, and a
    single-row term, with groups straddling 2-row Arrow batches."""
    from capsbm25.codec import (decode_pair_positions, delta_encode,
                                encode_varints)
    from capsbm25.config import BuildConfig
    from capsbm25.postings import POSTINGS_SCHEMA, merge_hot_partials

    rng = np.random.default_rng(5)
    # (term, part_id, docs); every doc gets tf 1-3 positions and a dl
    spec = [
        ("alpha", 7, [2, 9, 15]),
        ("gamma", 4, [5, 40]),
        ("alpha", 3, [1, 10, 20]),
        ("beta", 2, [32]),
        ("alpha", 5, [4, 12]),
        ("beta", 1, [30, 31]),
    ]
    drop = np.array([9, 12, 30, 31, 32], dtype=np.int64)
    rows, ref = [], {}
    for term, pid, docs in spec:
        tfs = rng.integers(1, 4, len(docs))
        dls = rng.integers(5, 50, len(docs))
        pos = [np.sort(rng.choice(60, t, replace=False)) for t in tfs]
        rows.append((term, len(docs), int(tfs.sum()), delta_encode(docs),
                     encode_varints(tfs), encode_varints(dls),
                     _pos_payload(pos), pid, True))
        r = ref.setdefault(term, {"pid": pid, "post": {}})
        r["pid"] = min(r["pid"], pid)
        for d, t, dl, p in zip(docs, tfs, dls, pos):
            if d not in drop:
                r["post"][d] = (int(t), int(dl), p.tolist())
    ref = {t: r for t, r in ref.items() if r["post"]}

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        out = merge_hot_partials(
            spark.createDataFrame(rows, POSTINGS_SCHEMA),
            BuildConfig(index_positions=True), drop=drop).collect()
    finally:
        spark.conf.set(key, old)

    assert sorted(r.term for r in out) == sorted(ref) == ["alpha", "gamma"]
    for r in out:
        want = ref[r.term]
        docs = sorted(want["post"])
        tfs = [want["post"][d][0] for d in docs]
        got_docs = delta_decode(r.doc_ids)
        got_tfs = decode_varints(r.tfs).astype(np.int64)
        assert got_docs.tolist() == docs, r.term
        assert got_tfs.tolist() == tfs, r.term
        assert decode_varints(r.dls).astype(np.int64).tolist() == [
            want["post"][d][1] for d in docs], r.term
        assert decode_pair_positions(r.pos, got_tfs).tolist() == [
            x for d in docs for x in want["post"][d][2]], r.term
        assert r.df == len(docs) and r.cf == sum(tfs), r.term
        assert r.part_id == want["pid"] and r.partial is False, r.term
