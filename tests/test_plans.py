"""Physical-plan shape tests — the graft engine must produce the plans
a Spark expert would want (SURVEY §4): broadcast joins for query terms,
filter pushdown into the parquet scan, no stray shuffles in the
map-side pair extraction."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from capsbm25 import fixtures as fx
from capsbm25.postings import extract_pairs
from capsbm25.query import bm25_topk


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_query_path_broadcasts_and_pushes_down(built_index, spark):
    res, cfg = built_index["res"], built_index["cfg"]
    queries = pd.DataFrame(
        {"query_id": np.array([0], dtype=np.int32),
         "text": ["w0001 w0002"], "k": np.array([5], dtype=np.int32)}
    )
    df = bm25_topk(spark, built_index["postings"], queries, res.N, res.avgdl, cfg)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    # term isin filter reaches the parquet scan
    assert "PushedFilters: [" in plan and "In(term" in plan.replace("\n", " "), plan


def test_postings_scan_prunes_partial_filter(built_index, spark):
    plan = _plan(built_index["postings"])
    flat = plan.replace("\n", " ")
    assert "PushedFilters:" in flat and "partial" in flat, plan


def test_pair_extraction_has_no_shuffle(spark):
    tdf = spark.createDataFrame(fx.gen_transcripts_pdf(20, 42)).withColumn(
        "doc_id", F.monotonically_increasing_id()
    )
    plan = _plan(extract_pairs(tdf))
    assert "Exchange" not in plan, f"pair extraction must be map-side only:\n{plan}"


def test_run_packing_has_no_shuffle(spark):
    from capsbm25.postings import extract_runs

    tdf = spark.createDataFrame(fx.gen_transcripts_pdf(20, 42)).withColumn(
        "doc_id", F.monotonically_increasing_id()
    )
    plan = _plan(extract_runs(tdf))
    assert "Exchange" not in plan, f"run packing must be map-side only:\n{plan}"


def test_build_shuffles_once_per_wave(built_index, spark):
    """The assemble path is scan -> one hash exchange on part_id ->
    local sort -> kernel. No second exchange (the groupBy-free design)."""
    import os

    from capsbm25.build import Manifest
    from capsbm25.partition import PartitionPlan
    from capsbm25.postings import assemble_postings

    res = built_index["res"]
    pairs = spark.read.parquet(os.path.join(res.out_dir, "pairs", "wave=0"))
    out = assemble_postings(pairs, res.plan, built_index["cfg"])
    plan = _plan(out)
    assert plan.count("Exchange") == 1, plan
    assert "Sort" in plan, plan


def test_fused_run_packing_has_exactly_one_exchange(spark):
    """Round-3 build shape: the corpus text crosses exactly ONE exchange
    (the id shuffle) between scan and run packing — no staged-docs
    parquet write/read in between, no second shuffle."""
    from capsbm25.config import BuildConfig
    from capsbm25.docids import compute_id_plan
    from capsbm25.postings import extract_runs

    cfg = BuildConfig(num_part_ids=8, shuffle_partitions=4)
    tdf = spark.createDataFrame(fx.gen_transcripts_pdf(20, 42))
    id_plan = compute_id_plan(tdf, cfg)
    p = _plan(extract_runs(
        tdf.select("conv_id", "turn_idx", "text"), cfg, id_plan=id_plan
    ))
    assert p.count("Exchange") == 1, p
    assert "Sort" in p, p
    assert "MapInPandas" in p, p


def test_filter_joins_precede_aggregate(built_index, spark):
    """doc_filter/doc_exclude in distributed mode are LeftSemi/LeftAnti
    joins placed BEFORE the score combine, so (with AQE broadcasting
    the small sets) filtered-out contrib rows never enter the combine
    shuffle — for bm25_topk and for query_string_topk."""
    from capsbm25.build import load_doc_stats
    from capsbm25.parser import query_string_topk

    res, cfg = built_index["res"], built_index["cfg"]
    stats_df = load_doc_stats(spark, res.out_dir)
    fdf = stats_df.limit(40).select("doc_id")
    queries = fx.queries_pdf(42)
    outs = {
        "bm25": bm25_topk(
            spark, built_index["postings"], queries, res.N, res.avgdl,
            cfg, mode="distributed", doc_filter=fdf,
            doc_exclude=fdf.limit(3)),
        "query_string": query_string_topk(
            spark, built_index["postings"], queries, res.N, res.avgdl,
            cfg, doc_filter=fdf, doc_exclude=fdf.limit(3)),
    }
    for name, out in outs.items():
        plan = _plan(out)
        assert "LeftSemi" in plan and "LeftAnti" in plan, (name, plan)
        # toString prints the tree root-first, children after — an
        # operator printing LATER is DEEPER. Both joins must be deeper
        # than the score combine (i.e. upstream of it), so filtered
        # rows die before the combine's shuffle.
        combine = plan.find("FlatMapGroupsInPandas")
        assert combine > 0, (name, plan[:2000])
        assert plan.find("LeftSemi") > combine, (name, plan[:2000])
        assert plan.find("LeftAnti") > combine, (name, plan[:2000])


def test_postings_rowgroup_stats_support_term_pruning(built_index, spark):
    """Query pruning at 100x scale relies on parquet row-group min/max
    stats for `term`: the range-partitioned build writes each task's
    posting rows in sorted (term, part_id) order, so a 1-term query's
    In(term) predicate must be able to skip almost every row group.
    This asserts the LAYOUT property directly from the footers — if a
    refactor ever writes postings term-unsorted, coverage degrades and
    this fails."""
    import glob
    import os

    import pyarrow.parquet as pq

    res = built_index["res"]
    files = sorted(glob.glob(
        os.path.join(res.out_dir, "postings", "wave=*", "**", "*.parquet"),
        recursive=True,
    ))
    assert files, "no postings files found"
    ranges = []  # (min, max) per row group
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx["term"]).statistics
            assert st is not None and st.has_min_max, f
            ranges.append((st.min, st.max))
    assert len(ranges) >= 8, "corpus too small to measure pruning"
    # probe several mid-dictionary terms actually in the corpus
    oracle = built_index["oracle"]
    vocab = sorted({t for d in oracle.docs for t in d})
    probes = [vocab[len(vocab) // 7 * i] for i in range(1, 7)]
    cover = [
        sum(1 for lo, hi in ranges if lo <= t <= hi) for t in probes
    ]
    # partitionBy(part_id): a non-hot term lives in exactly ONE part =
    # one file dir, so its coverage is ~1 row group (a couple once a
    # part spans multiple row groups at scale); measured exactly 1 for
    # every probe on this fixture
    assert max(cover) <= 3, (
        f"term row-group coverage {dict(zip(probes, cover))} of "
        f"{len(ranges)} groups — postings layout no longer prunable"
    )


def test_hit_count_plan_prunes_payload_columns(built_index, spark):
    """hit_count's scan must read only (term, doc_ids) — tf/dl
    payloads (and pos on positional indexes) stay in the parquet
    footer (ReadSchema pruning), and the term In-filter is pushed."""
    from capsbm25.query import hit_count

    cfg = built_index["cfg"]
    queries = pd.DataFrame(
        {"query_id": np.array([0], dtype=np.int32),
         "text": ["w0001 w0002"], "k": np.array([1], dtype=np.int32)}
    )
    df = hit_count(spark, built_index["postings"], queries, cfg)
    flat = _plan(df).replace("\n", " ")
    assert "In(term" in flat, flat
    # the scan's ReadSchema carries doc_ids but neither tfs nor dls
    rs = [seg for seg in flat.split("ReadSchema: ")[1:]
          if "doc_ids" in seg]
    assert rs, flat
    assert all("tfs" not in seg.split("]")[0] and
               "dls" not in seg.split("]")[0] for seg in rs), flat


def test_synonym_scoring_stays_in_codegen(built_index, spark):
    """synonym_topk's blended BM25 scoring is a pure column expression:
    the plan between the tf aggregate and the top-k window contains a
    WholeStageCodegen project with the ln/idf math — no Python
    evaluation node other than the narrow Arrow decode."""
    from capsbm25.query import synonym_topk

    res, cfg = built_index["res"], built_index["cfg"]
    queries = pd.DataFrame(
        {"query_id": np.array([0], dtype=np.int32),
         "text": ["w0001|w0002 w0003"],
         "k": np.array([5], dtype=np.int32)}
    )
    df = synonym_topk(
        spark, built_index["postings"], queries, res.N, res.avgdl, cfg)
    flat = _plan(df).replace("\n", " ")
    # exactly one Python stage: the narrow posting decode
    assert flat.count("MapInPandas") == 1, flat
    assert "ArrowEvalPython" not in flat and "BatchEvalPython" not in flat, flat
    # the blended-BM25 math is a JVM Project expression (codegen-
    # eligible), not a Python stage: idf * tf * (k1+1) / saturation
    assert "AS contrib#" in flat and "idf#" in flat, flat
    # query side + group-idf side both broadcast; In(term) pushed
    assert flat.count("BroadcastExchange") >= 2, flat
    assert "In(term" in flat, flat


def _plan_nodes(df):
    """Every node of df's physical plan, without executing df:
    descends into the adaptive plan's current tree, into query stages
    (a cache some earlier query materialized) and into every cached
    relation's plan (InMemoryTableScan)."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(node.plan())
            continue
        if name == "InMemoryTableScan":
            stack.append(node.relation().cachedPlan())
        yield node
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))


def _shuffle_columns(df) -> list[list[str]]:
    """The output column names of every shuffle Exchange in df's
    physical plan (see _plan_nodes)."""
    out = []
    for node in _plan_nodes(df):
        if node.nodeName() == "Exchange":
            attrs = node.output()
            out.append([attrs.apply(i).name() for i in range(attrs.size())])
    return out


def test_membership_exchanges_carry_no_term(built_index, spark):
    """hit_count, sorted_topk and facet_counts fold membership from the
    producer's per-task (query, doc, nm) rows with one sum per (query,
    doc): no shuffle carries the term string and no count(distinct)
    aggregate remains, plain or conjunctive."""
    from capsbm25.build import load_doc_stats
    from capsbm25.query import facet_counts, hit_count, sorted_topk

    cfg = built_index["cfg"]
    postings = built_index["postings"]
    stats = load_doc_stats(spark, built_index["res"].out_dir)
    queries = fx.queries_pdf(42)
    for conj in (False, True):
        outs = {
            "hit_count": hit_count(spark, postings, queries, cfg,
                                   conjunctive=conj),
            "sorted_topk": sorted_topk(spark, postings, queries, stats,
                                       "dl", cfg, conjunctive=conj),
            "facet_counts": facet_counts(spark, postings, queries, stats,
                                         "conv_id", cfg,
                                         conjunctive=conj),
        }
        for name, df in outs.items():
            shuffles = _shuffle_columns(df)
            assert shuffles, (name, conj)
            assert all("term" not in cols for cols in shuffles), (
                name, conj, shuffles)
            assert "count(distinct" not in _plan(df), (name, conj)


def test_hot_merge_is_one_term_exchange_and_a_walk(built_index):
    """merge_hot_partials runs as one hash exchange on term, a local
    sort and a mapInPandas walk: no per-term grouped pandas call."""
    from capsbm25.postings import merge_hot_partials

    plan = _plan(merge_hot_partials(built_index["postings"],
                                    built_index["cfg"]))
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert plan.count("Exchange hashpartitioning(term") == 1, plan
    assert "MapInPandas" in plan, plan


@pytest.fixture(scope="module")
def positional_indexes(spark, tmp_path_factory):
    """A small positional word index and a small chargram index."""
    from capsbm25.build import build_index, load_postings
    from capsbm25.config import BuildConfig

    out = {}
    for name, n, extra in (("word", 40, {}),
                           ("char", 30, {"tokenizer": "chargram",
                                         "chargram_n": 3})):
        cfg = BuildConfig(num_part_ids=16, shuffle_partitions=4,
                          index_positions=True, **extra)
        path = str(tmp_path_factory.mktemp(f"pos_{name}") / "t1")
        res = build_index(spark, spark.createDataFrame(
            fx.gen_transcripts_pdf(n, 7)), path, cfg)
        out[name] = (cfg, res, load_postings(spark, path))
    return out


@pytest.mark.parametrize("cap", ["under_cap", "over_cap"])
def test_phrase_exchanges_carry_no_term(positional_indexes, spark,
                                        monkeypatch, cap):
    """Distributed phrase_topk, near_topk and substring_topk find their
    AND candidates on the term engine's producer and verify positions
    keyed by token ordinal: no shuffle of pass 1 (run inside
    arrow_collect on a persisted frame) or of the final plan carries the
    term string or the phrase array, and no count(distinct) aggregate
    remains — under the candidate collect cap and over it."""
    import capsbm25.query as qm
    from capsbm25.query import near_topk, phrase_topk, substring_topk

    if cap == "over_cap":
        monkeypatch.setattr(qm, "MAX_CAND_COLLECT", 0)
    seen = []
    real_collect = qm.arrow_collect

    def shape(df):
        return (_shuffle_columns(df), any(
            "count(distinct" in n.toString() for n in _plan_nodes(df)))

    def recording_collect(df, *a, **kw):
        seen.append(shape(df))
        return real_collect(df, *a, **kw)

    monkeypatch.setattr(qm, "arrow_collect", recording_collect)
    wcfg, wres, wpost = positional_indexes["word"]
    ccfg, _, cpost = positional_indexes["char"]
    q = pd.DataFrame({"query_id": np.array([0, 1], dtype=np.int32),
                      "text": [fx.HOT_TERM + " w0000", "w0000 w0001"],
                      "k": np.array([5, 5], dtype=np.int32)})
    sq = q.assign(text=["w00", "0 w0"])
    outs = {
        "phrase": lambda: phrase_topk(spark, wpost, q, wres.N, wres.avgdl,
                                      wcfg, mode="distributed"),
        "near": lambda: near_topk(spark, wpost, q, wres.N, wres.avgdl,
                                  wcfg, window=20, mode="distributed"),
        "substring": lambda: substring_topk(spark, cpost, sq, ccfg,
                                            mode="distributed"),
    }
    for name, call in outs.items():
        seen.clear()
        final = shape(call())
        # pass 1's aggregate and the verify both shuffle (non-vacuous)
        assert any(s for s, _ in seen) and final[0], (name, cap)
        for shuffles, count_distinct in seen + [final]:
            assert all("term" not in cols and "phrase" not in cols
                       for cols in shuffles), (name, cap, shuffles)
            assert not count_distinct, (name, cap)
