"""The ordered tail: every public ranked surface returns one partition
in (key, rank) order, and its plan has no range-partitioning exchange
(a range sort samples its child before sorting, which on the kernel
path runs the Python kernel a second time). Engine-internal sub-calls
sort nothing."""

import re

import numpy as np
import pandas as pd
import pytest

from capsbm25 import fixtures as fx
from capsbm25 import query as Q
from capsbm25.build import build_index, load_doc_stats, load_postings
from capsbm25.config import BuildConfig
from capsbm25.parser import query_string_topk
from oracle import OracleIndex


@pytest.fixture(scope="module")
def pos_index(spark, tmp_path_factory):
    pdf = fx.gen_transcripts_pdf(120, 42)
    cfg = BuildConfig(num_part_ids=32, shuffle_partitions=8, num_waves=2,
                      hot_share_threshold=0.004, max_salt_buckets=8,
                      index_positions=True)
    out = str(tmp_path_factory.mktemp("tailidx") / "t1")
    res = build_index(spark, spark.createDataFrame(pdf), out, cfg)
    return {"pdf": pdf, "cfg": cfg, "res": res,
            "postings": load_postings(spark, out),
            "oracle": OracleIndex(pdf)}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _q(texts, k=10, **cols):
    return pd.DataFrame({"query_id": np.arange(len(texts), dtype=np.int32),
                         "text": texts,
                         "k": np.full(len(texts), k, dtype=np.int32),
                         **cols})


def _assert_ordered_tail(df, key="query_id"):
    plan = _plan(df)
    assert "rangepartitioning" not in plan.lower(), plan
    assert df.rdd.getNumPartitions() == 1
    got = df.toPandas()
    assert len(got) and got[key].nunique() > 1
    keys = list(zip(got[key], got["rank"]))
    assert keys == sorted(keys)
    return plan


def _phrases(oracle):
    return [" ".join(oracle.docs[d][2:4]) for d in (0, 7, 31)]


def test_bm25_modes_order_once(pos_index, spark):
    res, cfg, oracle = pos_index["res"], pos_index["cfg"], pos_index["oracle"]
    post = pos_index["postings"]
    texts = ["w0150 w0151", "w0001 w0002"]
    for mode in ("kernel", "distributed"):
        _assert_ordered_tail(Q.bm25_topk(
            spark, post, _q(texts), res.N, res.avgdl, cfg, mode=mode))
    # auto with a heavy subset: the head-term query routes distributed,
    # the other to the kernel, and the two sides meet in one union
    light = oracle.df("w0150") + oracle.df("w0151")
    heavy = oracle.df("w0001") + oracle.df("w0002")
    assert 0 < light < heavy
    plan = _assert_ordered_tail(Q.bm25_topk(
        spark, post, _q(texts), res.N, res.avgdl, cfg,
        max_kernel_df=(light + heavy) // 2))
    assert "Union" in plan, plan


def test_boolean_orders_once(pos_index, spark):
    res, cfg = pos_index["res"], pos_index["cfg"]
    bq = pd.DataFrame({"query_id": np.array([0, 1], dtype=np.int32),
                       "must": ["w0001", ""],
                       "should": ["w0002", "w0003 w0004"],
                       "must_not": [fx.HOT_TERM, ""],
                       "k": np.array([10, 10], dtype=np.int32)})
    _assert_ordered_tail(Q.boolean_topk(
        spark, pos_index["postings"], bq, res.N, res.avgdl, cfg))


def test_positional_surfaces_order_once(pos_index, spark):
    res, cfg, oracle = pos_index["res"], pos_index["cfg"], pos_index["oracle"]
    post = pos_index["postings"]
    texts = _phrases(oracle)
    for mode in ("kernel", "distributed"):
        _assert_ordered_tail(Q.phrase_topk(
            spark, post, _q(texts), res.N, res.avgdl, cfg, mode=mode))
    _assert_ordered_tail(Q.near_topk(
        spark, post, _q(texts), res.N, res.avgdl, cfg, window=4))
    _assert_ordered_tail(Q.rescore_topk(
        spark, post, _q(["w0001 w0002", "w0003 w0004"],
                        phrase=["w0001 w0002", "w0003 w0004"]),
        res.N, res.avgdl, cfg, window_size=20))


def test_expansion_and_mlt_order_once(pos_index, spark):
    res, cfg = pos_index["res"], pos_index["cfg"]
    post = pos_index["postings"]
    _assert_ordered_tail(Q.wildcard_topk(
        spark, post, _q(["w00*", "w01*"]), cfg))
    _assert_ordered_tail(Q.more_like_this(
        spark, post, spark.createDataFrame(pos_index["pdf"]),
        load_doc_stats(spark, res.out_dir), [0, 93], res.N, res.avgdl,
        cfg, k=5, max_terms=4), key="src_doc_id")


def test_substring_orders_once(spark, tmp_path):
    pdf = fx.gen_transcripts_pdf(30, 42)
    cfg = BuildConfig(num_part_ids=8, shuffle_partitions=4, num_waves=1,
                      tokenizer="chargram", chargram_n=3,
                      index_positions=True)
    out = str(tmp_path / "char")
    build_index(spark, spark.createDataFrame(pdf), out, cfg)
    text = next(t.lower() for t in pdf["text"] if t and len(t) >= 8)
    _assert_ordered_tail(Q.substring_topk(
        spark, load_postings(spark, out), _q([text[:5], text[3:8]]), cfg))


def test_query_string_phrase_subcall_sorts_nothing(pos_index, spark,
                                                  monkeypatch):
    """The phrase clause runs as an every-match sub-call: neither the
    sub-call's frame nor the batch's plan holds a range exchange or a
    (query_id, rank) sort."""
    import capsbm25.parser as P

    subcalls = []
    real = P._subcall_contribs

    def spy(spark_, result, sid_map):
        subcalls.append(result)
        return real(spark_, result, sid_map)

    monkeypatch.setattr(P, "_subcall_contribs", spy)
    res, cfg, oracle = pos_index["res"], pos_index["cfg"], pos_index["oracle"]
    got = query_string_topk(
        spark, pos_index["postings"],
        _q([f'"{_phrases(oracle)[0]}" w0001']), res.N, res.avgdl, cfg)
    assert len(subcalls) == 1
    for plan in (_plan(subcalls[0]), _plan(got)):
        assert "rangepartitioning" not in plan.lower(), plan
        assert not re.search(r"Sort \[query_id#\d+ ASC NULLS FIRST, "
                             r"rank#\d+ ASC NULLS FIRST\]", plan), plan
    assert not got.toPandas().empty
