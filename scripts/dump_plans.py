"""Generate docs/PLANS.md: the formatted physical plans of the engine's
key paths, with commentary on why each plan is the one a Spark expert
would want (pushdown, broadcast, single exchange, codegen spans).

Run from anywhere: python scripts/dump_plans.py [out.md] (default: the
checkout's docs/PLANS.md)."""

import io
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
import numpy as np
import pandas as pd
from pyspark.sql import SparkSession, functions as F

from capsbm25 import fixtures as fx
from capsbm25.build import build_index, load_postings
from capsbm25.config import BuildConfig
from capsbm25.postings import assemble_postings, extract_pairs, extract_runs
from capsbm25.query import bm25_topk

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

cfg = BuildConfig(num_part_ids=32, shuffle_partitions=8, num_waves=2)
tmp = tempfile.mkdtemp()
tdf = spark.createDataFrame(fx.gen_transcripts_pdf(150, 42))
res = build_index(spark, tdf, os.path.join(tmp, "idx"), cfg)
postings = load_postings(spark, res.out_dir)


def plan_of(df) -> str:
    import contextlib

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


out = io.StringIO()
out.write(
    "# PLANS — formatted physical plans of the key engine paths\n\n"
    "Generated by scripts/dump_plans.py on the t0 fixture corpus.\n"
    "What to look for is annotated before each plan.\n"
)

from capsbm25.build import Manifest  # noqa: E402
from capsbm25.docids import IdPlan  # noqa: E402

id_plan = IdPlan.from_json(Manifest(res.out_dir).done("plan")["id_plan"])
out.write(
    "\n## 1. Fused id-assignment + run packing (one exchange total)\n\n"
    "Round-3 build shape: the corpus text crosses exactly ONE Exchange\n"
    "(hash on the id plan's part_id), is locally sorted by\n"
    "(part_id, conv_id, turn_idx), and the SAME MapInPandas then\n"
    "assigns dense doc ids from the persisted offsets and packs runs\n"
    "(tokenize + tf + dl + partition assignment + delta+varint RUN\n"
    "PACKING). No staged-docs parquet write/read between scan and runs;\n"
    "what crosses the wave shuffles is ~final-index-sized, not one row\n"
    "per (term, doc) pair.\n\n```\n"
)
out.write(plan_of(extract_runs(
    tdf.select("conv_id", "turn_idx", "text"), cfg, plan=res.plan,
    id_plan=id_plan,
)))
out.write("\n```\n")

pairs = spark.read.parquet(os.path.join(res.out_dir, "pairs", "wave=0"))
out.write(
    "\n## 2. Posting assembly (one exchange, local sort, streaming kernel)\n\n"
    "Exactly ONE Exchange (hashpartitioning on part_id = the explicit\n"
    "samplesort scatter), then Sort [term, part_id, first_doc] within\n"
    "partitions — over RUN rows (one per term per map task), not pairs —\n"
    "then the Arrow merge kernel. No second shuffle; no groupBy.\n\n```\n"
)
out.write(plan_of(assemble_postings(pairs, res.plan, cfg)))
out.write("\n```\n")

queries = pd.DataFrame(
    {"query_id": np.array([0], dtype=np.int32), "text": ["w0001 w0002 hotterm"],
     "k": np.array([10], dtype=np.int32)}
)
out.write(
    "\n## 3. Query path (pushdown + broadcast + per-query kernel)\n\n"
    "PushedFilters carries In(term, ...) into the parquet scan (row\n"
    "groups without query terms are never read), the tiny query-term\n"
    "table (the role-tagged term-query frame bm25_topk shares with\n"
    "boolean_topk: role, n_must, msm) arrives via\n"
    "BroadcastExchange/BroadcastHashJoin, and the block-max WAND\n"
    "kernel runs per query group. Round 4: the postings\n"
    "are written partitionBy(part_id) — one file per contiguous term\n"
    "range of the samplesort plan — so the In(term) stats prune to ~one\n"
    "row group per wave at any corpus scale (note part_id arriving as a\n"
    "partition column, out of ReadSchema; coverage asserted from the\n"
    "parquet footers in tests/test_plans.py).\n\n"
    "The top of the plan is the one ordered tail every public ranked\n"
    "surface ends with: Exchange SinglePartition, then a local\n"
    "Sort [query_id, rank] (global=false) over the result's <= Σ k\n"
    "rows. No rangepartitioning Exchange: a range sort samples its\n"
    "child first, and that sampling job would run the Python kernel a\n"
    "second time. The auto-routing stats (Σ df, Σ payload bytes per\n"
    "query) come from one narrow Arrow collect over the same pruned\n"
    "scan before this plan runs: one job.\n\n```\n"
)
out.write(plan_of(bm25_topk(spark, postings, queries, res.N, res.avgdl, cfg)))
out.write("\n```\n")

out.write(
    "\n## 4. Distributed scoring mode (pathological-query fallback)\n\n"
    "The MapInPandas is `_doc_partials`, the one map-side producer:\n"
    "it decodes, masks and scores each posting row and folds each\n"
    "(query, doc) within its task (every 4M raw pairs, by the same\n"
    "`_fold` the combine uses), then ONE Exchange hash-partitions the\n"
    "distinct-doc contribution rows on\n"
    "(query_id, doc_id % S) and FlatMapGroupsInPandas (the fused\n"
    "combine) sums each doc's partials and keeps the group-local\n"
    "top-(k + off); a single Window ranks the <= S(k + off) survivors\n"
    "per query. S, the salt fan-out, is one bucket per 4M rows of the\n"
    "batch's raw contribution mass, 1..32 — 1 on this fixture.\n"
    "Nothing in this plan ever holds a whole hot posting OR a whole\n"
    "scored set in one task; only the ordered tail of section 3 above\n"
    "the Window gathers the <= Σ k ranked rows into one.\n\n```\n"
)
out.write(
    plan_of(
        bm25_topk(spark, postings, queries, res.N, res.avgdl, cfg,
                  mode="distributed")
    )
)
out.write("\n```\n")

# ---- 5. filtered retrieval (doc_filter semi / doc_exclude anti) ----
from capsbm25.build import load_doc_stats  # noqa: E402

fdf = load_doc_stats(spark, res.out_dir).limit(40).select("doc_id")
out.write(
    "\n## 5. Filtered retrieval (doc_filter semi-join / doc_exclude "
    "anti-join)\n\n"
    "`bm25_topk(doc_filter=..., doc_exclude=...)` in distributed mode\n"
    "attaches both doc-set joins to the contrib rows BEFORE the score\n"
    "combine (LeftSemi/LeftAnti below FlatMapGroupsInPandas) — with\n"
    "AQE, selective sets finalize as broadcast joins, so filtered-out\n"
    "rows drop map-side and never enter the combine shuffle (asserted\n"
    "for bm25 and query-string batches by\n"
    "tests/test_plans.py::test_filter_joins_precede_aggregate).\n"
    "Kernel mode instead ships each set once per executor as a sorted\n"
    "int64 broadcast array and masks decoded postings in-kernel;\n"
    "the driver fetch is bounded and oversized sets demote auto mode\n"
    "to this join path. Same machinery backs phrase/substring. The\n"
    "plan ends in section 3's ordered tail.\n\n```\n"
)
out.write(
    plan_of(
        bm25_topk(spark, postings, queries, res.N, res.avgdl, cfg,
                  mode="distributed", doc_filter=fdf,
                  doc_exclude=fdf.limit(3))
    )
)
out.write("\n```\n")

# ---- 6. boolean query (per-query MUST/SHOULD/MUST_NOT) ----
from capsbm25.query import boolean_topk  # noqa: E402

bq = pd.DataFrame(
    {"query_id": np.array([0], dtype=np.int32), "must": ["w0001"],
     "should": ["w0002"], "must_not": ["hotterm"],
     "k": np.array([10], dtype=np.int32)}
)
out.write(
    "\n## 6. Boolean query, distributed mode (per-query "
    "MUST/SHOULD/MUST_NOT)\n\n"
    "boolean_topk compiles its clauses to bm25_topk's role-tagged\n"
    "term-query frame (one row per (query, term): role must / should /\n"
    "not, n_must, msm) and runs bm25's own distributed runner, so this\n"
    "plan is section 4's with a role-count projection. All three\n"
    "clauses' terms ride ONE pushdown-pruned scan and one broadcast\n"
    "join; the Project below MapInPandas turns each row's role into\n"
    "per-row count constants — only the ones the batch needs: nm for\n"
    "MUST and nn for MUST_NOT here, nsh only when a query sets\n"
    "min_should_match. The producer sums them per doc in-task\n"
    "(MUST_NOT rows decode doc_ids only), and the fused combine (the\n"
    "same FlatMapGroupsInPandas) folds the partial counts and keeps\n"
    "docs with `nm == n_must & nsh >= msm & nn == 0`. Because the\n"
    "batch carries role counts, the θ entry prune is off; a\n"
    "pure-SHOULD batch emits none and prunes like section 4. The plan\n"
    "ends in section 3's ordered tail.\n\n```\n"
)
out.write(
    plan_of(
        boolean_topk(spark, postings, bq, res.N, res.avgdl, cfg,
                     mode="distributed")
    )
)
out.write("\n```\n")

# ---- 7. expansion family: dictionary pushdown + combine ----
from capsbm25.query import _fuzzy_scan_cond, wildcard_topk  # noqa: E402

dic_raw = spark.read.parquet(os.path.join(res.out_dir, "dictionary"))
out.write(
    "\n## 7. Expansion family (round 6): dictionary pushdown + "
    "bounded rewrite\n\n"
    "fuzzy/wildcard/prefix match against the persisted TERM DICTIONARY\n"
    "(term, part_id, df, cf, tlen — term-sorted parquet, the\n"
    "FST-automaton analog), never against posting payloads. The match\n"
    "itself COLLECTS eagerly inside the query call (bounded by\n"
    "max_expansions), so the evidence splits in two:\n\n"
    "(a) the dictionary scan a wildcard `w00*` / fuzzy (tlen window)\n"
    "batch plans — StringStartsWith and the tlen range BOTH reach\n"
    "PushedFilters (row-group min/max over the term-sorted layout\n"
    "prunes the scan; uncached read shown — the engine caches the\n"
    "dictionary per (app, path, mtime) after first open):\n\n```\n"
)
out.write(plan_of(
    dic_raw.where(F.col("term").startswith("w00")
                  & _fuzzy_scan_cond([5], 2))))
out.write(
    "```\n\n"
    "(b) the scoring tail over the <= max_expansions matched terms of\n"
    "a batch of three `w00*` copies (k 5, 10, 10). Queries with the\n"
    "same resolved term set form one class, so the broadcast pairs\n"
    "carry one row per (class, term) and each posting row is joined,\n"
    "transferred and decoded once. In(term) pushdown prunes the\n"
    "postings scan, the MapInPandas producer of section 4 sums tf per\n"
    "(class, distinct doc in task) — the df-mass pair explosion never\n"
    "materializes — and the fused combine sums tf per doc, keeps the\n"
    "group-local top-(largest member k) and emits it once per member\n"
    "query with that member's k; one Window ranks each member's\n"
    "survivors, and section 3's ordered tail orders the result. No\n"
    "join fans the class out:\n\n```\n"
)
wq = pd.DataFrame({"query_id": np.arange(3, dtype=np.int32),
                   "text": ["w00*"] * 3,
                   "k": np.array([5, 10, 10], dtype=np.int32)})
out.write(plan_of(wildcard_topk(spark, postings, wq, cfg)))
out.write("\n```\n")

# ---- 8. suggest family (dictionary-only surfaces) ----
from capsbm25.build import load_dictionary  # noqa: E402
from capsbm25.suggest import suggest_terms  # noqa: E402

sq = pd.DataFrame({"query_id": np.array([0], dtype=np.int32),
                   "text": ["w00"], "k": np.array([5], dtype=np.int32)})
out.write(
    "\n## 8. Suggest family (dictionary-only: autocomplete / "
    "did-you-mean)\n\n"
    "suggest_terms / suggest_spelling never touch posting payloads:\n"
    "ReadSchema carries only (term, df[, tlen]), the batch's prefix\n"
    "union (resp. tlen edit window) pushes into the scan, and ranking\n"
    "is the shared salted top-k — dictionary-sized cost at any corpus\n"
    "size. (InMemoryTableScan appears below when the session has the\n"
    "dictionary cached; the pushed predicates then show as its\n"
    "in-memory filters.)\n\n```\n"
)
out.write(plan_of(
    suggest_terms(spark, postings, sq, cfg,
                  dictionary=load_dictionary(spark, res.out_dir))))
out.write("\n```\n")

# ---- 9. field-sorted retrieval ----
from capsbm25.build import load_doc_stats as _lds  # noqa: E402
from capsbm25.query import sorted_topk  # noqa: E402

out.write(
    "\n## 9. Field-sorted retrieval (Lucene Sort/SortField)\n\n"
    "The match pass is the narrow membership pipeline — note\n"
    "ReadSchema on the postings scan carries ONLY (term, doc_ids):\n"
    "tf/dl/pos columns are never read for a sort-by-attribute query.\n"
    "The producer of section 4 emits per-task distinct (query, doc)\n"
    "rows and one HashAggregate per (query, doc) folds them (with a\n"
    "summed matched-term count under AND) — no term string and no\n"
    "count(distinct) in any Exchange. Matched docs then join\n"
    "doc_stats on doc_id, and the\n"
    "per-query top-k is the shared two-phase salted window.\n\n```\n"
)
out.write(plan_of(
    sorted_topk(spark, postings, queries, _lds(spark, res.out_dir),
                "dl", cfg)))
out.write("\n```\n")

# ---- 10. query-string parser (composition) ----
from capsbm25.parser import query_string_topk  # noqa: E402

pq = pd.DataFrame({"query_id": np.arange(2, dtype=np.int32),
                   "text": ["+w0001 w0002 w00* hotterm~1",
                            "w0003 -w00* /w01.*/ [w0100 TO w0120]"],
                   "k": np.array([10, 10], dtype=np.int32)})
out.write(
    "\n## 10. Query-string parser (one string -> clause composition)\n\n"
    "Term and expansion clauses of the whole batch share ONE term\n"
    "pass. Every fuzzy / wildcard / regexp / range clause resolves in\n"
    "one dictionary pass (one clause frame, kind-guarded OR of the\n"
    "per-kind predicates; collected eagerly above this plan, like\n"
    "section 7a). The resolved (class, term) pairs ride the term\n"
    "clause frame (the LocalTableScan below) beside the term clauses:\n"
    "ONE In(term)-pruned postings scan, one broadcast join and the\n"
    "producer of section 4, which decodes a class row once and emits\n"
    "its docs once per member clause (MUST-group bit, constant-clause\n"
    "bit and MUST_NOT flag of that clause). Both queries carry `w00*`\n"
    "(SHOULD in one, MUST_NOT in the other), so it is one class\n"
    "decoded once. The combine is the fused combine of section 4\n"
    "(per-doc MUST-group bits, MUST_NOT flag and constant-clause\n"
    "boosts folded in the same group call) -> one Window. Phrase and\n"
    "field clauses would add their own sub-plans to a union; a clause\n"
    "KIND absent from a batch contributes nothing to the plan.\n\n```\n"
)
out.write(plan_of(
    query_string_topk(spark, postings, pq, res.N, res.avgdl, cfg,
                      dictionary=load_dictionary(spark, res.out_dir))))
out.write("\n```\n")

# ---- 11. distributed phrase (candidate pass + positions pass) ----
import capsbm25.query as qm  # noqa: E402

pcfg = BuildConfig(num_part_ids=32, shuffle_partitions=8, num_waves=2,
                   index_positions=True)
pres = build_index(spark, tdf, os.path.join(tmp, "pos_idx"), pcfg)
phq = pd.DataFrame({"query_id": np.array([0], dtype=np.int32),
                    "text": ["w0001 w0002"],
                    "k": np.array([10], dtype=np.int32)})
# pass 1 runs eagerly inside the call (the bounded candidate collect):
# record the plans of the frames it collects
collected, real_collect = [], qm.arrow_collect


def recording_collect(df, *a, **kw):
    collected.append(plan_of(df))
    return real_collect(df, *a, **kw)


qm.arrow_collect = recording_collect
phrase_df = qm.phrase_topk(spark, load_postings(spark, pres.out_dir), phq,
                           pres.N, pres.avgdl, pcfg, mode="distributed")
qm.arrow_collect = real_collect
out.write(
    "\n## 11. Distributed phrase (candidate pass + positions pass)\n\n"
    "`phrase_topk(mode=\"distributed\")` on a positional index of the\n"
    "same corpus, one two-token phrase. The Filter over the postings\n"
    "scan is the one positions guard: a row with an empty pos payload\n"
    "raises (naming index_positions) in the scan, before any shuffle\n"
    "or Python stage, in every mode. Two passes:\n\n"
    "(a) the candidate pass, collected inside the call (bounded by\n"
    "MAX_CAND_COLLECT, from a persisted frame). It is the term engine's\n"
    "producer of section 4 with a constant nm = 1 per row: per task one\n"
    "(query, distinct doc) row with the summed nm and BM25 contribution,\n"
    "then one HashAggregate per (query, doc) and the\n"
    "`nm == distinct-token count` filter (the per-query count is a\n"
    "literal map on query_id) — section 9's fold. The Exchange carries\n"
    "(query_id, doc_id, sums): no term string, no count(distinct):\n\n```\n"
)
out.write(collected[-1])
out.write(
    "```\n\n"
    "(b) the positions pass and verify. The collected candidates are a\n"
    "broadcast sorted-id map that masks each posting row inside the\n"
    "MapInPandas before any row is built, which then emits flat\n"
    "(query_id, tok, doc_id, pos) rows — tok is the token's ordinal in\n"
    "the query's sorted distinct tokens. The rows join the candidates'\n"
    "scores (the LocalTableScan broadcast) and ONE Exchange on\n"
    "(query_id, doc_id % 64) feeds the batch verify\n"
    "(FlatMapGroupsInPandas), which reads each query's phrase as\n"
    "ordinals and its k from the driver, not from any row. The shared\n"
    "salted top-k and section 3's ordered tail follow. Over the cap,\n"
    "the candidates stay a persisted frame and join on query_id as\n"
    "sorted per-(query, doc-range group) arrays instead.\n\n```\n"
)
out.write(plan_of(phrase_df))
out.write("\n```\n")

dest = (sys.argv[1] if len(sys.argv) > 1
        else os.path.join(ROOT, "docs", "PLANS.md"))
with open(dest, "w") as f:
    f.write(out.getvalue())
print("wrote", dest, len(out.getvalue()), "bytes")
spark.stop()
