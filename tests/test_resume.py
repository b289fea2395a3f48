"""Kill-and-resume: a build killed after any prefix of its manifest and
resumed must produce an index identical to an uninterrupted build,
skipping the stages it had completed (the checkpoint/lineage
requirement of the north rule — the reference's restart story is
rerun-from-scratch). A manifest whose done stages lack an output that
resume reuses is refused with one clear error, never rebuilt around."""

import json
import os
import shutil

import pandas as pd
import pytest

from capsbm25 import fixtures as fx
from capsbm25.build import Manifest, build_index, load_postings
from capsbm25.config import BuildConfig

CFG = BuildConfig(num_part_ids=12, shuffle_partitions=4, num_waves=2)
# plan, pairs, wave=0, wave=1, docs, hot_merge, dictionary
N_RECORDS = 7


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(fx.gen_transcripts_pdf(40, 42))


@pytest.fixture(scope="module")
def finished(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("resume") / "full")
    build_index(spark, corpus, out, CFG)
    assert len(Manifest(out).records()) == N_RECORDS
    return out


def _copy(src, tmp_path):
    dst = str(tmp_path / "idx")
    shutil.copytree(src, dst)
    return dst


def _outputs(stage):
    """What each manifest stage writes under the index dir."""
    if stage.startswith("wave="):
        return [os.path.join("postings", stage)]
    return {"plan": [], "pairs": ["pairs", "corpus_stats.json"],
            "docs": ["doc_stats"],
            "hot_merge": [os.path.join("postings", "wave=9999")],
            "dictionary": ["dictionary"]}[stage]


def _crash_after(out, n, torn=False):
    """Turn a finished build into one killed after its n-th manifest
    record: keep the first n records, delete the outputs of every stage
    not kept, and (torn=True) leave the next record half-appended.
    Returns the kept stages."""
    path = Manifest(out).path
    with open(path) as f:
        lines = f.read().splitlines()
    kept, lost = lines[:n], lines[n:]
    with open(path, "w") as f:
        f.write("".join(ln + "\n" for ln in kept))
        if torn:
            f.write(lost[0][:len(lost[0]) // 2])
    for ln in lost:
        for rel in _outputs(json.loads(ln)["stage"]):
            p = os.path.join(out, rel)
            if os.path.isdir(p):
                shutil.rmtree(p)
            elif os.path.exists(p):
                os.remove(p)
    return [json.loads(ln)["stage"] for ln in kept]


def _sorted(pdf):
    return pdf.sort_values(list(pdf.columns), ignore_index=True)


def _index_content(spark, out):
    read = spark.read.parquet
    return {
        "postings": _sorted(load_postings(spark, out).toPandas()),
        "doc_stats": _sorted(read(os.path.join(out, "doc_stats")).toPandas()),
        "dictionary": _sorted(
            read(os.path.join(out, "dictionary")).toPandas()),
        "checksums": {r["stage"]: r["checksum"]
                      for r in Manifest(out).records() if "checksum" in r},
        "stages": [r["stage"] for r in Manifest(out).records()],
    }


@pytest.fixture(scope="module")
def finished_content(spark, finished):
    return _index_content(spark, finished)


def _assert_resumed_identical(spark, corpus, want, out, kept):
    res = build_index(spark, corpus, out, CFG, resume=True)
    for stage in want["stages"]:
        if stage in kept:
            assert res.metrics[stage] == {"skipped": True}, stage
        else:
            assert "sec" in res.metrics[stage], stage
    got = _index_content(spark, out)
    for part in ("postings", "doc_stats", "dictionary"):
        pd.testing.assert_frame_equal(want[part], got[part])
    assert want["checksums"] == got["checksums"]


@pytest.mark.parametrize("n", range(N_RECORDS + 1))
def test_resume_identical(spark, corpus, finished, finished_content,
                          tmp_path, n):
    out = _copy(finished, tmp_path)
    kept = _crash_after(out, n)
    _assert_resumed_identical(spark, corpus, finished_content, out, kept)


def test_resume_survives_torn_manifest_line(spark, corpus, finished,
                                            finished_content, tmp_path):
    """A crash mid-manifest-append tears the FINAL JSONL line;
    records() must skip it (resume's whole reason to exist) instead of
    raising JSONDecodeError on every retry, and the recovery appends
    must start on a fresh line so later reads still parse."""
    out = _copy(finished, tmp_path)
    kept = _crash_after(out, 3, torn=True)  # plan, pairs, one wave
    assert [r["stage"] for r in Manifest(out).records()] == kept
    _assert_resumed_identical(spark, corpus, finished_content, out, kept)
    assert len(Manifest(out).records()) == N_RECORDS


def _strip_plan_id_plan(out):
    path = Manifest(out).path
    with open(path) as f:
        recs = [json.loads(ln) for ln in f if ln.strip()]
    for r in recs:
        if r["stage"] == "plan":
            del r["id_plan"]
    with open(path, "w") as f:
        f.write("".join(json.dumps(r) + "\n" for r in recs))


@pytest.mark.parametrize("damage", [
    _strip_plan_id_plan,
    lambda out: os.remove(os.path.join(out, "corpus_stats.json")),
    lambda out: shutil.rmtree(os.path.join(out, "pairs", "wave=-1")),
], ids=["plan_without_id_plan", "no_corpus_stats", "no_stats_staging"])
def test_resume_refuses_pre_fused_layout(spark, corpus, finished, tmp_path,
                                         damage):
    out = _copy(finished, tmp_path)
    damage(out)
    with pytest.raises(RuntimeError, match="rebuild with resume=False"):
        build_index(spark, corpus, out, CFG, resume=True)


def test_resume_after_hot_merge_crash_leftover(spark, corpus, finished,
                                               finished_content, tmp_path):
    """A build killed mid-hot_merge leaves a partial postings/wave=9999;
    the resumed stage previously LISTED those files into its input
    relation and then overwrote the same subtree mid-job
    (FileNotFoundException on every retry). The stale dir must be
    dropped before the read."""
    crash = _copy(finished, tmp_path)
    # simulate the crash window: hot output on disk (stale, and here
    # even CORRUPT-partial: drop one part), manifest row missing
    man = Manifest(crash)
    lines = [ln for ln in open(man.path).read().splitlines()
             if '"hot_merge"' not in ln]
    open(man.path, "w").write("\n".join(lines) + "\n")
    hot = os.path.join(crash, "postings", "wave=9999")
    parts = sorted(d for d in os.listdir(hot) if d.startswith("part_id="))
    assert parts  # the corpus salts hot terms
    shutil.rmtree(os.path.join(hot, parts[0]))
    res = build_index(spark, corpus, crash, CFG, resume=True)
    assert "sec" in res.metrics["hot_merge"]
    pd.testing.assert_frame_equal(
        finished_content["postings"],
        _sorted(load_postings(spark, crash).toPandas()))
