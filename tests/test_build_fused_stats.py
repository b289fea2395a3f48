"""Fused doc-stats emission (round 8, session 2): the build derives
doc_stats from the SAME Arrow pass that packs runs (pairs/wave=-1
staging rows) instead of a second full-corpus tokenize pass. These
tests pin the contract: content and dtypes identical to the reference
definition, zero-token docs included, wave=-1 never assembled into
postings, and loud failure on keys outside the input contract."""

import os

import numpy as np
import pandas as pd
import pytest

from capsbm25 import fixtures as fx
from capsbm25.build import build_index, load_doc_stats, load_postings
from capsbm25.config import BuildConfig
from capsbm25.tokenize import tokenize_py


def _expected_stats(pdf: pd.DataFrame, cfg: BuildConfig) -> pd.DataFrame:
    """Reference doc_stats: dense rank of (conv_id, turn_idx) + python
    tokenizer counts (the oracle-side definition of dl)."""
    exp = pdf[["conv_id", "turn_idx"]].copy()
    order = np.lexsort((exp["turn_idx"].to_numpy(),
                        exp["conv_id"].to_numpy(dtype=object)))
    doc_id = np.empty(len(exp), dtype=np.int64)
    doc_id[order] = np.arange(len(exp))
    exp["doc_id"] = doc_id
    exp["dl"] = pdf["text"].map(lambda t: len(tokenize_py(t, cfg))).astype(
        np.int64)
    return exp.sort_values("doc_id", ignore_index=True)[
        ["doc_id", "conv_id", "turn_idx", "dl"]]


def test_doc_stats_content_and_dtypes_match_legacy(spark, tmp_path):
    cfg = BuildConfig(num_part_ids=12, shuffle_partitions=4, num_waves=2)
    pdf = fx.gen_transcripts_pdf(60, 7)
    # splice in a zero-token doc: it must still get a doc_stats row
    pdf.loc[len(pdf)] = {
        "conv_id": "zzz_empty", "turn_idx": np.int32(0), "role": "user",
        "text": "!!! ???", "tool": "none",
        "ts": pd.Timestamp("2026-01-01"),
    }
    pdf["turn_idx"] = pdf["turn_idx"].astype(np.int32)
    res = build_index(spark, spark.createDataFrame(pdf),
                      str(tmp_path / "idx"), cfg)
    got = load_doc_stats(spark, res.out_dir).toPandas().sort_values(
        "doc_id", ignore_index=True)[["doc_id", "conv_id", "turn_idx", "dl"]]
    exp = _expected_stats(pdf, cfg)
    # dtypes: doc_id/dl are long and turn_idx keeps the SOURCE type
    # (int32 here)
    assert str(got["doc_id"].dtype) == "int64"
    assert str(got["dl"].dtype) == "int64"
    assert str(got["turn_idx"].dtype) == "int32"
    pd.testing.assert_frame_equal(
        got, exp.astype({"turn_idx": np.int32}))
    # N/avgdl consistency with the table it wrote
    assert res.N == len(pdf)
    assert res.avgdl == pytest.approx(got["dl"].mean())
    # the zero-token doc is present with dl=0
    assert int(got.loc[got["conv_id"] == "zzz_empty", "dl"].iloc[0]) == 0


def test_long_turn_idx_source_keeps_long_dtype(spark, tmp_path):
    """_as_transcripts-shaped corpora carry turn_idx as int64; the
    unpacked doc_stats must keep it (oracle entries read it back)."""
    cfg = BuildConfig(num_part_ids=4, shuffle_partitions=2, num_waves=1)
    pdf = fx.gen_transcripts_pdf(20, 3)
    pdf["turn_idx"] = pdf["turn_idx"].astype(np.int64)
    res = build_index(spark, spark.createDataFrame(pdf),
                      str(tmp_path / "idx64"), cfg)
    got = load_doc_stats(spark, res.out_dir).toPandas()
    assert str(got["turn_idx"].dtype) == "int64"
    assert len(got) == len(pdf)


def test_stats_staging_never_enters_postings(spark, tmp_path):
    cfg = BuildConfig(num_part_ids=12, shuffle_partitions=4, num_waves=3)
    pdf = fx.gen_transcripts_pdf(40, 11)
    res = build_index(spark, spark.createDataFrame(pdf),
                      str(tmp_path / "idx"), cfg)
    # staging dir exists, postings carry no part_id<0 / empty-term rows
    assert os.path.isdir(os.path.join(res.out_dir, "pairs", "wave=-1"))
    p = load_postings(spark, res.out_dir)
    assert p.where("part_id < 0 OR term = ''").count() == 0


def test_nul_conv_id_raises(spark, tmp_path):
    cfg = BuildConfig(num_part_ids=4, shuffle_partitions=2, num_waves=1)
    pdf = fx.gen_transcripts_pdf(8, 5)
    pdf.loc[0, "conv_id"] = "bad\x00id"
    with pytest.raises(Exception, match="NUL|unsupported"):
        build_index(spark, spark.createDataFrame(pdf),
                    str(tmp_path / "nul"), cfg)


def _null_turn_idx(pdf):
    pdf["turn_idx"] = pdf["turn_idx"].astype("Int32")
    pdf.loc[3, "turn_idx"] = pd.NA
    return pdf


def _null_conv_id(pdf):
    pdf["conv_id"] = pdf["conv_id"].astype(object)
    pdf.loc[3, "conv_id"] = None
    return pdf


def _long_conv_id(pdf):
    pdf["conv_id"] = pd.factorize(pdf["conv_id"])[0].astype(np.int64)
    return pdf


def _double_turn_idx(pdf):
    pdf["turn_idx"] = pdf["turn_idx"].astype(np.float64)
    return pdf


@pytest.mark.parametrize("column,damage", [
    ("turn_idx", _null_turn_idx),
    ("conv_id", _null_conv_id),
    ("conv_id", _long_conv_id),
    ("turn_idx", _double_turn_idx),
], ids=["null_turn_idx", "null_conv_id", "long_conv_id", "double_turn_idx"])
def test_bad_keys_fail_at_the_boundary(spark, tmp_path, column, damage):
    """The input contract (string conv_id, integral turn_idx, no nulls)
    is enforced on the driver before the pairs exchange, with an error
    naming the column — not as a cast error inside an executor."""
    cfg = BuildConfig(num_part_ids=4, shuffle_partitions=2, num_waves=1)
    pdf = damage(fx.gen_transcripts_pdf(8, 5))
    out = str(tmp_path / "bad")
    with pytest.raises(ValueError, match=column):
        build_index(spark, spark.createDataFrame(pdf), out, cfg)
    assert not os.path.exists(os.path.join(out, "pairs"))
