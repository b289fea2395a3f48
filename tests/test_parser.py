"""Query-string parser (Lucene classic-QueryParser subset):
parse-shape unit tests plus end-to-end differential tests of
query_string_topk against naive recomputation from the pure-Python
oracle on a positional index."""

import numpy as np
import pandas as pd
import pytest

from capsbm25 import fixtures as fx
from capsbm25.build import build_index, load_doc_stats, load_postings
from capsbm25.config import BuildConfig
from capsbm25.parser import parse_query_string, query_string_topk
from oracle import OracleIndex

CFG = BuildConfig()


@pytest.fixture(scope="module")
def ps_index(spark, tmp_path_factory):
    pdf = fx.gen_transcripts_pdf(120, 42)
    cfg = BuildConfig(num_part_ids=32, shuffle_partitions=8, num_waves=2,
                      hot_share_threshold=0.004, max_salt_buckets=8,
                      index_positions=True)
    out = str(tmp_path_factory.mktemp("psidx") / "t1")
    res = build_index(spark, spark.createDataFrame(pdf), out, cfg)
    return {"pdf": pdf, "cfg": cfg, "res": res,
            "postings": load_postings(spark, out),
            "doc_fields": load_doc_stats(spark, out),
            "oracle": OracleIndex(pdf)}


def _q(texts, k=30):
    return pd.DataFrame(
        {"query_id": np.arange(len(texts), dtype=np.int32),
         "text": texts,
         "k": np.full(len(texts), k, dtype=np.int32)})


def _run(ps, texts, k=30, **kw):
    return query_string_topk(
        ps["postings"].sparkSession, ps["postings"], _q(texts, k),
        ps["res"].N, ps["res"].avgdl, ps["cfg"], **kw,
    ).toPandas()


def _check(got, qid, want):
    g = got[got.query_id == qid].sort_values("rank")
    assert list(g.doc_id) == [d for d, _ in want]
    assert np.allclose(list(g.score), [s for _, s in want])


def _rank(scored, k):
    return sorted(scored, key=lambda x: (-x[1], x[0]))[:k]


# ------------------------------------------------------------- parse shape


def test_parse_shapes():
    p = parse_query_string('+alpha -beta gamma^2 "one two"~3 pre* w~1',
                           CFG)
    assert [c["role"] for c in p] == ["must", "not", "should", "should",
                                      "should", "should"]
    assert [c["kind"] for c in p] == ["term", "term", "term", "phrase",
                                      "wildcard", "fuzzy"]
    assert p[2]["boost"] == 2.0 and p[3]["extra"] == 3
    assert p[5]["extra"] == 1
    # ~ alone = 2 edits (Lucene default); ~0 = exact term;
    # 1-token phrase degrades to a term; multi-token chunk splits
    assert parse_query_string("w~", CFG)[0]["extra"] == 2
    assert parse_query_string("w~0", CFG)[0]["kind"] == "term"
    assert parse_query_string('"solo"', CFG)[0]["kind"] == "term"
    assert [c["value"] for c in parse_query_string("a.b", CFG)] == \
        ["a", "b"]
    # default_operator="and" makes bare clauses MUST
    assert parse_query_string("x y", CFG, "and")[0]["role"] == "must"


def test_parse_rejects_unsupported():
    for bad in ('a|b',
                'a^0', 'w*~1', 'x~3', '"open quote',
                # group edges: nesting, inner signs, empty, bad suffix,
                # unclosed/bare parens, -( ) under AND semantics
                '((a b))', '(+a b)', '()', '(a b)~2', '(a b', 'a)b',
                # range edges: glued garbage, no TO, lowercase to,
                # both-open, zero boost, stray bracket in a bare chunk
                '[a TO b]x', '[a b]', '[a to b]', '[* TO *]',
                '[a TO b]^0', '[a TO]', 'a[b', '[a" TO b]',
                # field edges: empty value, bad prefix, second colon,
                # quoted/wildcard/fuzzy metadata value, zero boost,
                # text: with a nested field prefix
                'conv_id:', ':x', '9x:a', 'a:b:c', 'conv_id:"a b"',
                'conv_id:v*', 'conv_id:v~1', 'conv_id:v^0',
                'text:conv_id:v',
                # glued double modifiers all raise — incl. '!-a'/'!+a',
                # which previously slipped through as -a (r7 advice)
                '!-a', '!+a', '!!a', '-!a', 'NOT -a'):
        with pytest.raises(ValueError):
            parse_query_string(bad, CFG)
    with pytest.raises(ValueError, match="default_operator"):
        parse_query_string('-(a b)', CFG, "and")


def test_parse_ranges():
    """[a TO b] / {a TO b} range clauses (round 7): inclusivity per
    bracket, * = open side, ^boost, signs, group membership."""
    p = parse_query_string('[aa TO bb] {cc TO dd} [ee TO ff}^2', CFG)
    assert [c["kind"] for c in p] == ["range"] * 3
    assert p[0]["value"] == ("aa", "bb") and p[0]["extra"] == (True, True)
    assert p[1]["extra"] == (False, False)
    assert p[2]["extra"] == (True, False) and p[2]["boost"] == 2.0
    # open sides, case-folding of bounds, sign prefixes
    p = parse_query_string('+[AA TO *] -{* TO zz}', CFG)
    assert p[0]["role"] == "must" and p[0]["value"] == ("aa", None)
    assert p[1]["role"] == "not" and p[1]["value"] == (None, "zz")
    # inside a group: shares the gid, group boost composes
    p = parse_query_string('+([aa TO bb] foo)^3', CFG)
    assert p[0]["kind"] == "range" and p[1]["kind"] == "term"
    assert p[0]["gid"] == p[1]["gid"]
    assert p[0]["boost"] == 3.0


def test_parse_fields():
    """field:value clauses (round 7): metadata fields parse to exact
    unanalyzed (field, value) pairs; text: re-dispatches to the
    default-field shapes; boosts, signs, and group membership work."""
    p = parse_query_string('+conv_id:c042 turn_idx:7^2 -tool:none', CFG)
    assert [c["kind"] for c in p] == ["field"] * 3
    assert [c["role"] for c in p] == ["must", "should", "not"]
    assert p[0]["value"] == ("conv_id", "c042")
    assert p[1]["value"] == ("turn_idx", "7") and p[1]["boost"] == 2.0
    # metadata values are NOT case-folded (unanalyzed keyword field)
    assert parse_query_string("conv_id:MiXeD", CFG)[0]["value"] == \
        ("conv_id", "MiXeD")
    # text: is the default field — ordinary clause shapes re-dispatch
    p = parse_query_string('text:Foo^2 +text:wild* text:fz~1', CFG)
    assert [c["kind"] for c in p] == ["term", "wildcard", "fuzzy"]
    assert p[0]["value"] == "foo" and p[0]["boost"] == 2.0
    assert p[1]["role"] == "must"
    # inside a group: shares the gid, group boost composes
    p = parse_query_string('+(conv_id:a conv_id:b)^3', CFG)
    assert [c["kind"] for c in p] == ["field", "field"]
    assert p[0]["gid"] == p[1]["gid"] and p[0]["boost"] == 3.0


def test_parse_groups():
    """One nesting level of ( ) grouping (round 7): members share a
    gid; +/- and ^boost apply to the whole group; bare clauses get
    singleton gids."""
    p = parse_query_string('+(a b) -(c d) (e "f g")^2 h', CFG)
    roles = [c["role"] for c in p]
    assert roles == ["must", "must", "not", "not",
                     "should", "should", "should"]
    gids = [c["gid"] for c in p]
    assert gids[0] == gids[1] and gids[2] == gids[3] \
        and gids[4] == gids[5]
    assert len({gids[0], gids[2], gids[4], gids[6]}) == 4
    assert [c["boost"] for c in p[4:6]] == [2.0, 2.0]
    assert p[5]["kind"] == "phrase"
    # member boost composes with the group boost
    p2 = parse_query_string('(a^3 b)^2', CFG)
    assert p2[0]["boost"] == 6.0 and p2[1]["boost"] == 2.0
    # under default AND, a positive group flattens to per-member MUSTs
    p3 = parse_query_string('(a b)', CFG, "and")
    assert [c["role"] for c in p3] == ["must", "must"]
    assert p3[0]["gid"] != p3[1]["gid"]


def test_parse_two_word_fuzzy_raises():
    with pytest.raises(ValueError, match="single term"):
        parse_query_string("don't~1", CFG)


# --------------------------------------------------------------- end-to-end


def test_terms_only_matches_bm25_oracle(ps_index):
    oracle = ps_index["oracle"]
    texts = [" ".join(q.text.split()[:3])
             for q in fx.queries_pdf(42).head(3).itertuples(index=False)]
    got = _run(ps_index, texts, k=20)
    for qid, t in enumerate(texts):
        _check(got, qid, oracle.topk(t, 20))


def test_must_not_matches_boolean_oracle(ps_index):
    oracle = ps_index["oracle"]
    toks = sorted(oracle.postings, key=oracle.df, reverse=True)[:4]
    a, b, c, d = toks
    got = _run(ps_index, [f"+{a} {b} -{c}"], k=25)
    want = oracle.boolean_topk(a, b, c, 25)
    _check(got, 0, want)


def test_grouped_matches_naive_oracle(ps_index):
    """`+(a b) c -(d e)`: candidates must contain a OR b, none of
    d/e; score = BM25 contribs of the matched positive terms."""
    oracle = ps_index["oracle"]
    toks = sorted(oracle.postings, key=oracle.df, reverse=True)[:5]
    a, b, c, d, e = toks
    got = _run(ps_index, [f"+({a} {b}) {c} -({d} {e})"], k=25)
    excl = set(oracle.postings.get(d, {})) | set(oracle.postings.get(e, {}))
    cand = (set(oracle.postings.get(a, {}))
            | set(oracle.postings.get(b, {}))) - excl
    scored = [(doc, oracle.score_doc([a, b, c], doc))
              for doc in sorted(cand)]
    _check(got, 0, _rank(scored, 25))
    # the must-group actually binds: docs with only c are absent
    only_c = set(oracle.postings.get(c, {})) - cand - excl
    assert only_c, "fixture too small to exercise the group"
    assert not set(got[got.query_id == 0].doc_id) & only_c


def test_group_boost_matches_oracle(ps_index):
    """`(a b)^2 c` == term boosts {a:2, b:2} over the same OR set."""
    oracle = ps_index["oracle"]
    toks = sorted(oracle.postings, key=oracle.df, reverse=True)[:3]
    a, b, c = toks
    got = _run(ps_index, [f"({a} {b})^2 {c}"], k=20)
    want = oracle.topk(f"{a} {b} {c}", 20, boosts={a: 2.0, b: 2.0})
    _check(got, 0, want)


def test_boosts_match_oracle(ps_index):
    oracle = ps_index["oracle"]
    toks = sorted(oracle.postings, key=oracle.df, reverse=True)[:2]
    a, b = toks
    got = _run(ps_index, [f"{a}^2.5 {b}^0.5"], k=20)
    want = oracle.topk(f"{a} {b}", 20, boosts={a: 2.5, b: 0.5})
    _check(got, 0, want)


def test_phrase_plus_term_contributions(ps_index):
    oracle = ps_index["oracle"]
    doc0 = oracle.docs[7]
    phrase = " ".join(doc0[1:3])
    extra = max(oracle.postings, key=oracle.df)
    got = _run(ps_index, [f'"{phrase}" {extra}'], k=40)
    phrase_hits = dict(oracle.phrase_topk(phrase, oracle.N))
    term_hits = {d: oracle.score_doc([extra], d)
                 for d in oracle.postings.get(extra, {})}
    combined = {}
    for d, s in phrase_hits.items():
        combined[d] = combined.get(d, 0.0) + s
    for d, s in term_hits.items():
        combined[d] = combined.get(d, 0.0) + s
    want = _rank(list(combined.items()), 40)
    _check(got, 0, want)


def test_wildcard_constant_score(ps_index):
    oracle = ps_index["oracle"]
    vocab = sorted(oracle.postings)
    pfx = vocab[len(vocab) // 3][:2]
    term = max(oracle.postings, key=oracle.df)
    got = _run(ps_index, [f"{pfx}* {term}^1.5"], k=40)
    wild_docs = set()
    for t in vocab:
        if t.startswith(pfx):
            wild_docs |= oracle.postings[t].keys()
    combined = {d: 1.0 for d in wild_docs}  # constant-score rewrite
    for d in oracle.postings.get(term, {}):
        combined[d] = combined.get(d, 0.0) + 1.5 * oracle.score_doc(
            [term], d)
    want = _rank(list(combined.items()), 40)
    _check(got, 0, want)


def test_range_constant_score(ps_index):
    """[lo TO hi] scores as a constant (like wildcard/fuzzy) and
    combines with scored clauses; { } excludes the bounds."""
    oracle = ps_index["oracle"]
    vocab = sorted(oracle.postings)
    lo, hi = vocab[len(vocab) // 3], vocab[len(vocab) // 3 + 4]
    term = max(oracle.postings, key=oracle.df)
    got = _run(ps_index, [f"[{lo} TO {hi}] {term}^1.5"], k=40)
    range_docs = set()
    for t in vocab:
        if lo <= t <= hi:
            range_docs |= oracle.postings[t].keys()
    combined = {d: 1.0 for d in range_docs}  # constant-score rewrite
    for d in oracle.postings.get(term, {}):
        combined[d] = combined.get(d, 0.0) + 1.5 * oracle.score_doc(
            [term], d)
    _check(got, 0, _rank(list(combined.items()), 40))
    # exclusive bounds drop lo and hi themselves
    got_x = _run(ps_index, ["{%s TO %s}" % (lo, hi)], k=oracle.N)
    want_x = set()
    for t in vocab:
        if lo < t < hi:
            want_x |= oracle.postings[t].keys()
    assert set(got_x[got_x.query_id == 0].doc_id) == want_x


def test_range_must_and_not(ps_index):
    """+[range] restricts membership; -[range] excludes any doc
    containing a term in the range."""
    oracle = ps_index["oracle"]
    vocab = sorted(oracle.postings)
    lo, hi = vocab[2], vocab[6]
    term = max(oracle.postings, key=oracle.df)
    range_docs = set()
    for t in vocab:
        if lo <= t <= hi:
            range_docs |= oracle.postings[t].keys()
    got = _run(ps_index, [f"+[{lo} TO {hi}] {term}"], k=oracle.N)
    assert set(got[got.query_id == 0].doc_id) == range_docs
    got_n = _run(ps_index, [f"{term} -[{lo} TO {hi}]"], k=oracle.N)
    want_n = set(oracle.postings[term]) - range_docs
    assert set(got_n[got_n.query_id == 0].doc_id) == want_n


def test_field_constant_score(ps_index):
    """A bare metadata field clause scores as a constant (x boost) and
    combines with scored clauses; values compare unanalyzed against
    the doc_fields frame (engine dense ids == oracle ids)."""
    oracle = ps_index["oracle"]
    conv = oracle.doc_meta.conv_id.iloc[0]
    in_conv = set(oracle.doc_meta.index[oracle.doc_meta.conv_id == conv])
    term = max(oracle.postings, key=oracle.df)
    got = _run(ps_index, [f"conv_id:{conv}^2 {term}^1.5"], k=40,
               doc_fields=ps_index["doc_fields"])
    combined = {d: 2.0 for d in in_conv}
    for d in oracle.postings.get(term, {}):
        combined[d] = combined.get(d, 0.0) + 1.5 * oracle.score_doc(
            [term], d)
    _check(got, 0, _rank(list(combined.items()), 40))


def test_field_must_and_not(ps_index):
    """+field:v restricts membership (and still contributes its
    constant, Lucene MUST-scoring); -field:v excludes; numeric
    metadata columns compare in their OWN type (round-7 review —
    like range bounds)."""
    oracle = ps_index["oracle"]
    conv = oracle.doc_meta.conv_id.iloc[0]
    in_conv = set(oracle.doc_meta.index[oracle.doc_meta.conv_id == conv])
    term = max(oracle.postings, key=oracle.df)
    tdocs = oracle.postings[term]
    got = _run(ps_index, [f"+conv_id:{conv} {term}"], k=oracle.N,
               doc_fields=ps_index["doc_fields"])
    want = [(d, 1.0 + (oracle.score_doc([term], d) if d in tdocs
                       else 0.0)) for d in in_conv]
    _check(got, 0, _rank(want, oracle.N))
    got_n = _run(ps_index, [f"{term} -conv_id:{conv}"], k=oracle.N,
                 doc_fields=ps_index["doc_fields"])
    assert set(got_n[got_n.query_id == 0].doc_id) == \
        set(tdocs) - in_conv
    # numeric field: turn_idx compares as its native integer type
    at_turn = set(oracle.doc_meta.index[oracle.doc_meta.turn_idx == 3])
    got_t = _run(ps_index, [f"+turn_idx:3 {term}"], k=oracle.N,
                 doc_fields=ps_index["doc_fields"])
    assert set(got_t[got_t.query_id == 0].doc_id) == at_turn


def test_field_predicate_pushdown(ps_index):
    """The field-clause membership scan pushes its equality predicate
    to the metadata parquet scan — on string AND numeric columns (the
    literal converts to the column's type, so no cast blocks the
    pushdown; round-7 review)."""
    from capsbm25.parser import query_string_topk

    conv = ps_index["oracle"].doc_meta.conv_id.iloc[0]
    got = query_string_topk(
        ps_index["postings"].sparkSession, ps_index["postings"],
        _q([f"+conv_id:{conv} foo"]), ps_index["res"].N,
        ps_index["res"].avgdl, ps_index["cfg"],
        doc_fields=ps_index["doc_fields"])
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert f"EqualTo(conv_id,{conv})" in plan, plan[:2000]
    got_n = query_string_topk(
        ps_index["postings"].sparkSession, ps_index["postings"],
        _q(["+turn_idx:3 foo"]), ps_index["res"].N,
        ps_index["res"].avgdl, ps_index["cfg"],
        doc_fields=ps_index["doc_fields"])
    plan_n = got_n._jdf.queryExecution().executedPlan().toString()
    assert "EqualTo(turn_idx,3)" in plan_n, plan_n[:2000]


def test_parse_field_ranges():
    """field:[lo TO hi] metadata ranges (round 7): bounds verbatim,
    bracket inclusivity, * open sides, boost; text:[..] re-dispatches
    to a TERM range."""
    p = parse_query_string(
        '+turn_idx:[2 TO 10] ts:{2026-01-01 TO *}^2 -dl:[* TO 5}', CFG)
    assert [c["kind"] for c in p] == ["field_range"] * 3
    assert p[0]["value"] == ("turn_idx", "2", "10")
    assert p[0]["extra"] == (True, True) and p[0]["role"] == "must"
    assert p[1]["value"] == ("ts", "2026-01-01", None)
    assert p[1]["boost"] == 2.0
    assert p[2]["value"] == ("dl", None, "5")
    assert p[2]["extra"] == (True, False) and p[2]["role"] == "not"
    assert parse_query_string('text:[aa TO bb]', CFG)[0]["kind"] == \
        "range"
    for bad in ('turn_idx:[2 TO]', 'turn_idx:[* TO *]',
                'turn_idx:[2 TO 3]x', 'turn_idx:[2 TO 3]^0',
                'f:[a" TO b]'):
        with pytest.raises(ValueError):
            parse_query_string(bad, CFG)


def test_field_range_numeric(ps_index):
    """+turn_idx:[2 TO 5] compares NUMERICALLY (2 <= v <= 5 as ints —
    string comparison would also admit nothing past "5"); exclusive
    brackets drop the bounds; an unparseable numeric bound raises."""
    oracle = ps_index["oracle"]
    term = max(oracle.postings, key=oracle.df)
    meta = oracle.doc_meta
    want = set(meta.index[(meta.turn_idx >= 2) & (meta.turn_idx <= 5)])
    got = _run(ps_index, [f"+turn_idx:[2 TO 5] {term}"], k=oracle.N,
               doc_fields=ps_index["doc_fields"])
    assert set(got[got.query_id == 0].doc_id) == want
    want_x = set(meta.index[(meta.turn_idx > 0) & (meta.turn_idx < 3)])
    got_x = _run(ps_index, ["+turn_idx:{0 TO 3}"], k=oracle.N,
                 doc_fields=ps_index["doc_fields"])
    assert set(got_x[got_x.query_id == 0].doc_id) == want_x
    # open side + string-typed column range (lexicographic on strings)
    conv = sorted(meta.conv_id.unique())[1]
    want_s = set(meta.index[meta.conv_id <= conv])
    got_s = _run(ps_index, [f"+conv_id:[* TO {conv}]"], k=oracle.N,
                 doc_fields=ps_index["doc_fields"])
    assert set(got_s[got_s.query_id == 0].doc_id) == want_s
    with pytest.raises(ValueError, match="does not parse"):
        _run(ps_index, [f"+turn_idx:[x TO 5] {term}"],
             doc_fields=ps_index["doc_fields"])


def test_field_range_timestamp(ps_index):
    """Timestamp-typed metadata ranges convert bounds via
    pd.Timestamp and compare as timestamps (doc_fields is ANY
    (doc_id, metadata) frame, not only load_doc_stats)."""
    import datetime

    oracle = ps_index["oracle"]
    spark_s = ps_index["postings"].sparkSession
    base = datetime.datetime(2026, 1, 1)
    tsf = spark_s.createDataFrame(
        [(int(d), base + datetime.timedelta(days=int(d)))
         for d in range(oracle.N)],
        "doc_id long, ts timestamp")
    got = _run(ps_index, ["+ts:[2026-01-05 TO 2026-01-10}"],
               k=oracle.N, doc_fields=tsf)
    # days 4..8 (doc_id = days offset; upper bound exclusive)
    assert set(got[got.query_id == 0].doc_id) == {4, 5, 6, 7, 8}
    with pytest.raises(ValueError, match="does not parse"):
        _run(ps_index, ["+ts:[notadate TO *]"], doc_fields=tsf)


def test_field_requires_doc_fields(ps_index):
    with pytest.raises(ValueError, match="doc_fields"):
        _run(ps_index, ["conv_id:x foo"])
    with pytest.raises(ValueError, match="unknown metadata field"):
        _run(ps_index, ["nosuch:x foo"],
             doc_fields=ps_index["doc_fields"])


def test_fuzzy_must_doc_set(ps_index):
    oracle = ps_index["oracle"]

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    base = max((t for t in oracle.postings if len(t) >= 5),
               key=oracle.df)
    typo = "x" + base[1:]
    got = _run(ps_index, [f"+{typo}~1"], k=oracle.N)
    want_docs = set()
    for t in oracle.postings:
        if lev(t, typo) <= 1:
            want_docs |= oracle.postings[t].keys()
    assert set(got[got.query_id == 0].doc_id) == want_docs
    assert (got[got.query_id == 0].score == 1.0).all()


def test_slop_matches_ordered_near_oracle(ps_index):
    oracle = ps_index["oracle"]
    toks = oracle.docs[31]
    # two tokens 2 apart in doc 31: "a b"~1 must find it via window 3
    a, b = toks[0], toks[2]
    if a == b:
        a, b = toks[0], toks[3]
    got = _run(ps_index, [f'"{a} {b}"~1'], k=40)
    want = oracle.near_topk(f"{a} {b}", window=3, k=40, ordered=True)
    _check(got, 0, want)


def test_pure_negative_and_empty_queries(ps_index):
    got = _run(ps_index, ["-onlynot", "", "   "], k=10)
    assert got.empty


def test_default_operator_and(ps_index):
    oracle = ps_index["oracle"]
    toks = sorted(oracle.postings, key=oracle.df, reverse=True)[:2]
    got = _run(ps_index, [f"{toks[0]} {toks[1]}"], k=25,
               default_operator="and")
    want = oracle.topk(f"{toks[0]} {toks[1]}", 25, conjunctive=True)
    _check(got, 0, want)


def test_parse_rejects_silent_misparse_shapes():
    """Round-6 review: these shapes previously produced WRONG clause
    sets with no error (leftover ~N re-matched as a bare term; a
    mid-chunk quoted phrase split into bare terms; a double boost
    tokenizing its digits as terms)."""
    for bad in ('"a b"^2~3', 'foo"bar baz"qux', 'foo^2.5^3', 'x"y'):
        with pytest.raises(ValueError):
            parse_query_string(bad, CFG)
    # the legal glued suffix order still parses: ~slop then ^boost
    p = parse_query_string('"one two"~2^3', CFG)
    assert p[0]["kind"] == "phrase"
    assert p[0]["extra"] == 2 and p[0]["boost"] == 3.0


def test_field_equality_typed(ps_index):
    """Round-7 review: field EQUALITY converts the literal to the
    column's own type exactly like range bounds — `score:2` on a
    double column matches 2.0 (the cast-to-string compare saw
    "2.0" != "2" and silently matched nothing) — and an unparseable
    literal raises instead of NULL-matching nothing."""
    oracle = ps_index["oracle"]
    spark_s = ps_index["postings"].sparkSession
    dbl = spark_s.createDataFrame(
        [(int(d), float(d % 4)) for d in range(oracle.N)],
        "doc_id long, score double")
    got = _run(ps_index, ["+score:2"], k=oracle.N, doc_fields=dbl)
    want = {d for d in range(oracle.N) if d % 4 == 2}
    assert set(got[got.query_id == 0].doc_id) == want
    with pytest.raises(ValueError, match="does not parse"):
        _run(ps_index, ["+score:notanumber"], doc_fields=dbl)


def test_multi_token_chunk_binds_all_tokens(ps_index):
    """Round-7 review: a bare multi-token chunk under MUST ('+a.b'
    tokenizes to two terms) requires ALL its tokens — each token is
    its own singleton group (the old shared gid weakened it to
    any-token)."""
    oracle = ps_index["oracle"]
    a, b = sorted(oracle.postings, key=oracle.df, reverse=True)[:2]
    want = set(oracle.postings[a]) & set(oracle.postings[b])
    # the fixture must distinguish ALL-tokens from ANY-token
    assert want != set(oracle.postings[a]) | set(oracle.postings[b])
    got = _run(ps_index, [f"+{a}.{b}"], k=oracle.N)
    assert set(got[got.query_id == 0].doc_id) == want


def test_mixed_must_group_keeps_expansion_hits(ps_index):
    """Round-7 review: the expansion doc-set pushdown must skip MUST
    groups carrying a non-term member — +(t w*) is satisfied by
    EITHER member, so a doc matching only w* is a legitimate hit; the
    old pure-term union filter silently dropped it."""
    oracle = ps_index["oracle"]
    vocab = sorted(oracle.postings)
    # a rare term (small df => the old pushdown's selectivity gate
    # would have accepted its doc-set union as the filter)
    t = min(oracle.postings, key=oracle.df)
    pfx = vocab[len(vocab) // 3][:2]
    wild_docs = set()
    for w in vocab:
        if w.startswith(pfx):
            wild_docs |= oracle.postings[w].keys()
    # the docs the bug dropped: match the wildcard, lack the term
    assert wild_docs - set(oracle.postings[t])
    got = _run(ps_index, [f"+({t} {pfx}*)"], k=oracle.N)
    assert set(got[got.query_id == 0].doc_id) == \
        wild_docs | set(oracle.postings[t])


def test_parse_sloppy_repeat_and_chargram_guard():
    # slop>0 + repeated token would crash near_topk mid-batch with an
    # error naming neither the query nor the parser — raise up front
    with pytest.raises(ValueError, match="repeats a token"):
        parse_query_string('"big data big"~2', CFG)
    # exact phrases (slop=0) accept repeats — phrase_topk handles them
    assert parse_query_string('"big data big"', CFG)[0]["kind"] == "phrase"
    with pytest.raises(ValueError, match="word-tokenizer"):
        parse_query_string("abc", BuildConfig(tokenizer="chargram"))


# ------------------------------------------------------------- regexp


def test_parse_regexp():
    p = parse_query_string('+/so.t/ /s.*(m|t)/^2 -/a{1,2}b/', CFG)
    assert [c["kind"] for c in p] == ["regexp"] * 3
    assert [c["role"] for c in p] == ["must", "should", "not"]
    assert [c["value"] for c in p] == ["so.t", "s.*(m|t)", "a{1,2}b"]
    assert [c["boost"] for c in p] == [1.0, 2.0, 1.0]
    # distinct singleton groups at top level
    assert len({c["gid"] for c in p}) == 3
    # text: re-dispatches to the default-field regexp shape; inside a
    # group the members share the group's gid and boost
    g = parse_query_string('(text:/so.t/ merge)^3', CFG)
    assert [c["kind"] for c in g] == ["regexp", "term"]
    assert g[0]["gid"] == g[1]["gid"] and g[0]["boost"] == 3.0
    # patterns lowercase like wildcard clauses (the dictionary is
    # normalized)
    assert parse_query_string('/SO.T/', CFG)[0]["value"] == "so.t"


def test_parse_regexp_rejects():
    for bad in (
            '/a b/',        # whitespace splits the chunk -> malformed
            '/a(/',         # uncompilable
            '/x/~2',        # no fuzzy suffix on a regexp clause
            '/x/^0',        # zero boost
            '/x{/',         # stray brace (Java/RE2-divergent)
            '//',           # empty pattern
            '/x\\d/',       # backslash escapes are dialect-divergent
            'conv_id:/re/',  # keyword fields are equality-only
    ):
        with pytest.raises(ValueError):
            parse_query_string(bad, CFG)


def test_regexp_constant_score(ps_index):
    """/re/ scores as a constant (the multi-term default rewrite) and
    combines with scored clauses; matching is anchored full-match."""
    import re as _re

    oracle = ps_index["oracle"]
    vocab = sorted(oracle.postings)
    pfx = vocab[len(vocab) // 3][:2]
    pat = f"{pfx}.*"
    term = max(oracle.postings, key=oracle.df)
    got = _run(ps_index, [f"/{pat}/ {term}^1.5"], k=40)
    rx_docs = set()
    for t in vocab:
        if _re.fullmatch(pat, t):
            rx_docs |= oracle.postings[t].keys()
    combined = {d: 1.0 for d in rx_docs}  # constant-score rewrite
    for d in oracle.postings.get(term, {}):
        combined[d] = combined.get(d, 0.0) + 1.5 * oracle.score_doc(
            [term], d)
    _check(got, 0, _rank(list(combined.items()), 40))


def test_regexp_must_and_not(ps_index):
    """+/re/ restricts membership; -/re/ excludes any doc containing
    a matching term; a mixed MUST group keeps regexp-only hits (the
    expansion pushdown skips groups with a non-term member)."""
    import re as _re

    oracle = ps_index["oracle"]
    vocab = sorted(oracle.postings)
    pfx = vocab[len(vocab) // 3][:2]
    pat = f"{pfx}.*"
    rx_docs = set()
    for t in vocab:
        if _re.fullmatch(pat, t):
            rx_docs |= oracle.postings[t].keys()
    term = max(oracle.postings, key=oracle.df)
    got = _run(ps_index, [f"+/{pat}/ {term}"], k=oracle.N)
    assert set(got[got.query_id == 0].doc_id) == rx_docs
    got_n = _run(ps_index, [f"{term} -/{pat}/"], k=oracle.N)
    assert set(got_n[got_n.query_id == 0].doc_id) == \
        set(oracle.postings[term]) - rx_docs
    # mixed must group: +(rare_term /pat/) is satisfied by EITHER
    rare = min(oracle.postings, key=oracle.df)
    got_g = _run(ps_index, [f"+({rare} /{pat}/)"], k=oracle.N)
    assert set(got_g[got_g.query_id == 0].doc_id) == \
        rx_docs | set(oracle.postings[rare])


# ---------------------------------------------------- operator keywords


def test_parse_operator_keywords():
    """Lucene classic AND/OR/NOT (QueryParserBase.addClause): AND
    promotes both neighbours, OR leaves them optional, NOT prohibits
    the next clause; quirks mirrored exactly."""
    def rv(q, op="or"):
        return [(c["role"], c["value"])
                for c in parse_query_string(q, CFG, op)]

    assert rv('a AND b') == [("must", "a"), ("must", "b")]
    assert rv('a OR b') == [("should", "a"), ("should", "b")]
    # left-associative, no precedence: +a +b c
    assert rv('a AND b OR c') == \
        [("must", "a"), ("must", "b"), ("should", "c")]
    # AND promotes the PRECEDING clause retroactively
    assert rv('a b AND c') == \
        [("should", "a"), ("must", "b"), ("must", "c")]
    assert rv('NOT b') == [("not", "b")]
    assert rv('a AND NOT b') == [("must", "a"), ("not", "b")]
    assert rv('a OR NOT b') == [("should", "a"), ("not", "b")]
    # a prohibited clause is never promoted (Lucene skips it)
    assert rv('-a AND b') == [("not", "a"), ("must", "b")]
    # operators bind any clause shape: group, phrase, regexp
    assert rv('a AND (b c)') == \
        [("must", "a"), ("must", "b"), ("must", "c")]
    g = parse_query_string('a AND (b c)', CFG)
    assert g[1]["gid"] == g[2]["gid"] != g[0]["gid"]
    assert rv('"x y" AND c') == [("must", "x y"), ("must", "c")]
    assert rv('/s.*/ AND c') == [("must", "s.*"), ("must", "c")]
    # AND-default: OR demotes the preceding clause to SHOULD...
    assert rv('a OR b', "and") == [("should", "a"), ("should", "b")]
    # ...even an explicitly-required one (Lucene: +a OR b -> a OR b)
    assert rv('+a OR b', "and") == [("should", "a"), ("should", "b")]
    assert rv('a AND b', "and") == [("must", "a"), ("must", "b")]
    # ...but never a prohibited one (-a OR b keeps the exclusion)
    assert rv('-a OR b', "and") == [("not", "a"), ("should", "b")]
    # && / || / ! aliases (Lucene lexer), incl. glued !term / !(group)
    assert rv('a && b') == [("must", "a"), ("must", "b")]
    assert rv('a || b') == [("should", "a"), ("should", "b")]
    assert rv('a ! b') == [("should", "a"), ("not", "b")]
    assert rv('a !b') == [("should", "a"), ("not", "b")]
    ng = parse_query_string('!(a b)', CFG)
    assert [(c["role"], c["value"]) for c in ng] == \
        [("not", "a"), ("not", "b")]
    assert ng[0]["gid"] == ng[1]["gid"]


def test_parse_operator_rejects():
    for bad, op in (('AND a', "or"), ('a AND', "or"),
                    ('a AND AND b', "or"), ('a AND OR b', "or"),
                    ('a NOT', "or"), ('NOT NOT a', "or"),
                    ('NOT +a', "or"), ('NOT -a', "or"),
                    ('+AND', "or"), ('-OR', "or"), ('+NOT', "or"),
                    ('+!a', "or"), ('!!a', "or"), ('a !', "or"),
                    ('!', "or"), ('+&&', "or"), ('!AND', "or"),
                    ('NOT !a', "or"),
                    ('(a AND b)', "or"),  # operators inside a group
                    # AND-default: a flattened group has no
                    # single-clause occur for OR to set/demote
                    ('(a b) OR c', "and"), ('c OR (a b)', "and")):
        with pytest.raises(ValueError):
            parse_query_string(bad, CFG, op)
    # an analyzer-emptied chunk consumes the conjunction like
    # Lucene's null-query return in addClause: '%%' tokenizes to
    # nothing, but AND's retroactive promotion of 'a' already ran
    assert [(c["role"], c["value"])
            for c in parse_query_string('a AND %%', CFG)] == \
        [("must", "a")]
    # ...and a following clause then binds with no conjunction
    assert [(c["role"], c["value"])
            for c in parse_query_string('a AND %% b', CFG)] == \
        [("must", "a"), ("should", "b")]
    # && and || are operators now, not analyzer-droppable junk
    with pytest.raises(ValueError, match="misplaced|trailing"):
        parse_query_string('a AND &&', CFG)


def test_operator_keywords_match_explicit_form(ps_index):
    """The operator sugar must produce rank-identical results to the
    explicit +/- form it desugars to (whose own tests are
    oracle-backed)."""
    oracle = ps_index["oracle"]
    terms = sorted(oracle.postings, key=oracle.df, reverse=True)[:4]
    t1, t2, t3, t4 = terms
    pairs = [
        (f"{t1} AND {t2} OR {t3} NOT {t4}", f"+{t1} +{t2} {t3} -{t4}"),
        (f"{t1} {t2} AND {t3}", f"{t1} +{t2} +{t3}"),
        (f"{t1} AND ({t2} {t3})", f"+{t1} +({t2} {t3})"),
    ]
    got = _run(ps_index, [a for a, _ in pairs] + [b for _, b in pairs],
               k=oracle.N)
    n = len(pairs)
    for i in range(n):
        a = got[got.query_id == i].sort_values("rank").reset_index(
            drop=True)
        b = got[got.query_id == i + n].sort_values("rank").reset_index(
            drop=True)
        assert list(a.doc_id) == list(b.doc_id)
        assert np.allclose(a.score, b.score)


def test_fused_combine_rank_identical(ps_index, monkeypatch):
    """The query-string combine runs through the one combine + top-k
    tail; a batch exercising must/should/not, wildcard, range and
    boost clauses is rank-identical to a naive oracle recomputation at
    fan-out 1 and fan-out 32."""
    import capsbm25.query as Q

    oracle = ps_index["oracle"]
    vocab = sorted(oracle.postings)

    def docs(pred):
        out = set()
        for t in vocab:
            if pred(t):
                out |= oracle.postings[t].keys()
        return out

    def bm25(t, boost=1.0):
        return {d: boost * oracle.score_doc([t], d)
                for d in oracle.postings.get(t, {})}

    def want(must_sets, scored, const, excl, k=30):
        # must_sets: doc sets every hit needs; scored: per-doc BM25
        # maps (summed); const: (doc set, boost) constant clauses;
        # excl: prohibited docs
        cand = set()
        for m in scored:
            cand |= m.keys()
        for ds, _ in const:
            cand |= ds
        for ms in must_sets:
            cand &= ms
        cand -= excl
        out = []
        for d in cand:
            s = sum(m.get(d, 0.0) for m in scored)
            s += sum(b for ds, b in const if d in ds)
            out.append((d, s))
        return _rank(out, k)

    texts = [
        "+w0000 w0001 w0002 w00*",
        "w0001 w0002^2 -w0003",
        "+(w0004 w0005) [w0000 TO w0002]",
        "w000?",
    ]
    wants = [
        want([set(oracle.postings["w0000"])],
             [bm25("w0000"), bm25("w0001"), bm25("w0002")],
             [(docs(lambda t: t.startswith("w00")), 1.0)], set()),
        want([], [bm25("w0001"), bm25("w0002", 2.0)], [],
             set(oracle.postings["w0003"])),
        want([set(oracle.postings["w0004"])
              | set(oracle.postings["w0005"])],
             [bm25("w0004"), bm25("w0005")],
             [(docs(lambda t: "w0000" <= t <= "w0002"), 1.0)], set()),
        want([], [], [(docs(lambda t: len(t) == 5
                            and t.startswith("w000")), 1.0)], set()),
    ]
    for fan_out in (1, 32):
        monkeypatch.setattr(Q, "_fan_out", lambda mass, s=fan_out: s)
        got = _run(ps_index, texts)
        for qid, w in enumerate(wants):
            assert w, qid
            _check(got, qid, w)


# ------------------------------------------- expansion clauses, one pass


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _const_docs(oracle, pred):
    out = set()
    for t in oracle.postings:
        if pred(t):
            out |= oracle.postings[t].keys()
    return out


def test_expansion_only_batch_sizes_combine_by_mass(ps_index, monkeypatch):
    """An expansion-only batch hands the combine the class's Σ df as
    its raw contribution mass (it used to read 0, pinning the combine
    to fan-out 1)."""
    import capsbm25.parser as P

    oracle = ps_index["oracle"]
    seen = []
    real = P._fused_combine_topk

    def spy(c, meta, raw_mass, *args, **kwargs):
        seen.append(raw_mass)
        return real(c, meta, raw_mass, *args, **kwargs)

    monkeypatch.setattr(P, "_fused_combine_topk", spy)
    _run(ps_index, ["w0*"])
    terms = [t for t in oracle.postings if t.startswith("w0")]
    assert 0 < len(terms) < 1024  # below max_expansions: all resolved
    assert seen == [sum(oracle.df(t) for t in terms)]


def test_phrase_only_batch_sizes_combine_by_mass(ps_index, monkeypatch):
    """A phrase / NEAR-only batch hands the combine each phrase
    clause's candidate bound, the min df over its distinct tokens (it
    used to read 0, pinning the combine to fan-out 1)."""
    import capsbm25.parser as P

    oracle = ps_index["oracle"]
    seen = []
    real = P._fused_combine_topk

    def spy(c, meta, raw_mass, *args, **kwargs):
        seen.append(raw_mass)
        return real(c, meta, raw_mass, *args, **kwargs)

    monkeypatch.setattr(P, "_fused_combine_topk", spy)
    _run(ps_index, ['"w0000 w0001"', '"w0002 w0003"~1'])
    want = (min(oracle.df("w0000"), oracle.df("w0001"))
            + min(oracle.df("w0002"), oracle.df("w0003")))
    assert want > 0
    assert seen == [want]


def test_unbounded_expansions_in_one_pass(ps_index, monkeypatch):
    """max_expansions=None above MAX_EXPANSION_COLLECT: the dictionary
    match stays a distributed equi-join (no driver pairs), and the
    term pass takes its class rows from that frame."""
    import capsbm25.query as Q

    monkeypatch.setattr(Q, "MAX_EXPANSION_COLLECT", 2)
    oracle = ps_index["oracle"]
    wild = _const_docs(oracle, lambda t: t.startswith("w00"))
    fuzz = _const_docs(oracle, lambda t: _lev(t, "w0003") <= 1)
    excl = _const_docs(oracle, lambda t: t.startswith("w001"))
    got = _run(ps_index, ["w00* w0003~1 -/w001.*/",
                          "w0001 w0003~1"], k=oracle.N,
               max_expansions=None)
    assert wild - excl and fuzz - excl
    _check(got, 0, _rank([(d, (d in wild) + (d in fuzz) + 0.0)
                          for d in (wild | fuzz) - excl], oracle.N))
    w1 = {d: oracle.score_doc(["w0001"], d)
          for d in oracle.postings["w0001"]}
    _check(got, 1, _rank([(d, w1.get(d, 0.0) + (d in fuzz))
                          for d in set(w1) | fuzz], oracle.N))


def test_required_clause_mask_bounds_class_rows(ps_index, monkeypatch):
    """A selective pure-term MUST group masks the expansion class rows
    inside the producer: every `w0*` row reaching the combine lies in
    the rare term's doc set, and the result equals the oracle."""
    import capsbm25.parser as P

    monkeypatch.setattr(P, "_QS_FILTER_MIN_N", 0)
    oracle = ps_index["oracle"]
    wild = _const_docs(oracle, lambda t: t.startswith("w0"))
    rare = min((t for t in oracle.postings if not t.startswith("w0")
                and wild & set(oracle.postings[t])), key=oracle.df)
    rare_docs = set(oracle.postings[rare])
    assert wild - rare_docs  # the mask has something to cut
    rows = []
    real = P._fused_combine_topk

    def spy(c, *args, **kwargs):
        rows.append(c.toPandas())
        return real(c, *args, **kwargs)

    monkeypatch.setattr(P, "_fused_combine_topk", spy)
    got = _run(ps_index, [f"+{rare} w0*"], k=oracle.N)
    cls = rows[0][rows[0]["cb"] != 0]
    assert len(cls) and set(cls["doc_id"]) <= rare_docs
    _check(got, 0, _rank(
        [(d, oracle.score_doc([rare], d) + (d in wild))
         for d in rare_docs], oracle.N))


def test_expansion_clauses_run_in_one_pass(ps_index, monkeypatch):
    """Term, MUST, MUST_NOT and one clause of each expansion kind: one
    dictionary match, one producer, one postings scan."""
    import capsbm25.parser as P
    import capsbm25.query as Q

    calls = {"match": 0, "producer": 0}

    def spy(name, real):
        def f(*args, **kwargs):
            calls[name] += 1
            return real(*args, **kwargs)
        return f

    for mod in (P, Q):
        monkeypatch.setattr(mod, "_expansion_matched", spy(
            "match", Q._expansion_matched), raising=False)
        monkeypatch.setattr(mod, "_doc_partials", spy(
            "producer", Q._doc_partials))
    got = query_string_topk(
        ps_index["postings"].sparkSession, ps_index["postings"],
        _q(["+w0001 w0002 w00* w0003~1",
            "w0003 -w0010 /w01.*/ [w0100 TO w0120]"]),
        ps_index["res"].N, ps_index["res"].avgdl, ps_index["cfg"])
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert calls == {"match": 1, "producer": 1}
    assert plan.count("Scan parquet") == 1, plan
    assert not got.toPandas().empty
