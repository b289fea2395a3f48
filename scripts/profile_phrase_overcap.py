"""Time the OVER-CAP distributed-phrase fallback (candidate set bigger
than MAX_CAND_COLLECT, so the broadcast mask cannot apply) at the
1.05M-turn positional index. Round-3 shape shipped O(cf x tf)
positional rows through the join (153s on stopword-grade phrases).
Today the AND candidates come from the term engine's producer (one sum
per (query, doc) against the distinct-token count), stay a persisted
frame over the cap, and join on query_id as sorted per-(query,
doc-range group) candidate arrays (CAND_CHUNK_SPAN) onto the query's
posting rows, so the positions kernel masks BEFORE materializing any
(query_id, tok, doc_id, pos) row — O(cand x tf) at any candidate
cardinality. This script forces the fallback by setting
MAX_CAND_COLLECT=0 (and then a small CAND_CHUNK_SPAN) and times it
against the kernel mode and the under-cap path on the same queries.

Run on a QUIET machine: this VM shows 2-4x ambient variance.
  PHRASE_DIAG_CONVS=150000 python scripts/profile_phrase_overcap.py
"""

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

import capsbm25.query as qm
from capsbm25 import fixtures as fx
from capsbm25.build import build_index, load_postings
from capsbm25.config import BuildConfig
from capsbm25.query import phrase_topk
from capsbm25.tokenize import tokenize_py

N_CONVS = int(os.environ.get("PHRASE_DIAG_CONVS", "150000"))

spark = (
    SparkSession.builder.master("local[32]")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.driver.memory", "24g")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
cfg = BuildConfig(num_part_ids=256, shuffle_partitions=32, num_waves=2,
                  hot_share_threshold=0.004, max_salt_buckets=16,
                  index_positions=True)
pdf = fx.gen_transcripts_pdf(N_CONVS, 42)
out = os.path.join(tempfile.mkdtemp(prefix="povercap_"), "idx")
t0 = time.time()
res = build_index(spark, spark.createDataFrame(pdf), out, cfg)
print("build_s", round(time.time() - t0, 1), "turns", res.N, flush=True)
postings = load_postings(spark, out)

# stopword-grade phrases: first tokens of corpus docs hit head terms
texts = []
for t in pdf.sort_values(["conv_id", "turn_idx"])["text"].head(200):
    toks = tokenize_py(t or "")
    if len(toks) >= 5:
        texts.append(" ".join(toks[2:5]))
    if len(texts) == 8:
        break
queries = pd.DataFrame({"query_id": np.arange(8, dtype=np.int32),
                        "text": texts, "k": np.full(8, 10, np.int32)})

results = {"turns": res.N}
# warm reference: kernel mode on the same queries
t0 = time.time()
n = phrase_topk(spark, postings, queries, res.N, res.avgdl, cfg,
                mode="kernel").count()
results["kernel_s"] = round(time.time() - t0, 2)

# the under-cap distributed path (collected broadcast mask)
t0 = time.time()
n2 = phrase_topk(spark, postings, queries, res.N, res.avgdl, cfg,
                 mode="distributed").count()
results["distributed_undercap_s"] = round(time.time() - t0, 2)

# force the over-cap fallback (round 5: the distributed CHUNKED
# candidate mask — there is no unmasked tier any more)
qm.MAX_CAND_COLLECT = 0
t0 = time.time()
n3 = phrase_topk(spark, postings, queries, res.N, res.avgdl, cfg,
                 mode="distributed").count()
results["distributed_overcap_s"] = round(time.time() - t0, 2)

# worst case: tiny chunk span -> every posting row joins MANY chunk
# rows; positional bytes must stay ~O(cand x tf) (time tracks the
# under-cap run, not the old O(cf x tf) blowup)
qm.CAND_CHUNK_SPAN = 50_000
t0 = time.time()
n4 = phrase_topk(spark, postings, queries, res.N, res.avgdl, cfg,
                 mode="distributed").count()
results["distributed_chunked_span50k_s"] = round(time.time() - t0, 2)
assert n == n2 == n3 == n4, (n, n2, n3, n4)
results["rows"] = n
import json

print(json.dumps(results), flush=True)
spark.stop()
