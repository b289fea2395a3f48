"""Query-string parser: one user-facing string per query, composed
over the engine's clause surfaces (the Lucene classic-QueryParser
+/- prefix subset).

Syntax (whitespace-separated clauses):

  term            bare term            -> SHOULD (default_operator="or")
  +term           required             -> MUST
  -term           prohibited           -> MUST_NOT
  term^2.5        boosted term (Lucene ^boost)
  "a b c"         exact phrase (positional index required)
  "a b c"~2       proximity phrase: tokens in ORDER within
                  len(phrase)+slop positions (ordered-NEAR analog of
                  Lucene's sloppy PhraseQuery; equal at slop=0, and a
                  documented deviation above it — Lucene's slop counts
                  move operations, this counts span slack)
  wild*  w?ld     wildcard / prefix expansion
  term~  term~1   fuzzy (Levenshtein <= N; ~ alone = 2, Lucene's default)
  /so.t/          regexp clause (Lucene RegexpQuery syntax, round 7):
  /s.*(m|t)/^2    docs containing ANY dictionary term the pattern
                  FULLY matches (anchored) — the Java-regex/RE2 common
                  subset regexp_topk accepts (lowercase, no backslash
                  escapes / lookaround / backreferences; braces only
                  as {m}/{m,}/{m,n} quantifiers); constant-score like
                  the other expansion clauses; the pattern itself may
                  not contain whitespace or `/` (neither is in the
                  accepted charset)
  [a TO b]        term range (Lucene TermRangeQuery, round 7): docs
  {a TO b}        containing ANY dictionary term in the range — [ ]
  [a TO b}^2      inclusive, { } exclusive, mixed allowed; `*` opens
                  a side ([a TO *]); TO must be uppercase (Lucene);
                  constant-score like the other expansion clauses
  (a b)  +(a b)   boolean group, ONE nesting level (round 7): members
  -(c d) (a b)^2  combine by OR — `+( )` is satisfied by ANY member
                  (Lucene BooleanQuery-as-MUST), `-( )` excludes docs
                  matching ANY member, `^boost` scales every member;
                  members may be any clause shape above, but signs
                  inside a group and nested groups raise
  field:value     field clause (round 7): `text:...` re-dispatches to
  +conv_id:c7^2   the default-field shapes above (Lucene's field-
                  scoped sub-query); any OTHER field is a METADATA
                  match — exact, unanalyzed equality against that
                  column of the engine's per-doc metadata
                  (query_string_topk's doc_fields frame, e.g.
                  load_doc_stats' conv_id / turn_idx) — constant-score
                  like the expansion clauses; +field:v filters,
                  -field:v excludes (Lucene keyword-field TermQuery)
  f:[2 TO 10]     metadata RANGE clause (Lucene IntPoint/LongPoint
  f:{a TO z}^2    range analog, round 7): bounds compare in the
                  metadata column's OWN type — numeric columns
                  numerically (10 > 2, not "10" < "2"), timestamps as
                  timestamps, strings lexicographically; [ ] / { }
                  inclusivity, `*` opens a side, same roles/boost as
                  field equality; an unparseable bound for the
                  column's type raises

  a AND b         operator keywords (round 7 — Lucene classic
  a OR b NOT c    QueryParserBase.addClause semantics, exactly;
  a && b  || !c   whitespace-separated && / || / ! aliases and glued
                  !term accepted like Lucene's lexer): AND
                  promotes BOTH neighbouring clauses to MUST (the
                  preceding one retroactively, unless prohibited);
                  OR leaves neighbours optional (and under
                  default_operator="and" demotes the preceding clause
                  to SHOULD); NOT prohibits the next clause like `-`.
                  Operators bind between top-level clause units of any
                  shape (term, phrase, group, range, field, regexp);
                  Lucene quirks mirrored: `a OR +b` ignores the `+`
                  under default_operator="and", `-a AND b` does not
                  promote the prohibited `-a`. Misplaced operators
                  (leading/trailing/doubled, NOT NOT, a sign on a
                  keyword, operators inside a group) raise; under
                  default_operator="and" a ( ) group adjacent to OR
                  raises (the flattened group has no single-clause
                  occur)

A multi-token bare chunk contributes one clause PER TOKEN (same
role/boost). Unsupported classic-parser syntax raises ValueError
rather than silently mis-parsing: the TO
keyword outside a range, | or stray [ ] { } inside a bare chunk (a range
must be its own whitespace-separated chunk; synonym groups have a
dedicated surface: synonym_topk), a quoted /
wildcarded / empty metadata-field value (keyword fields are
unanalyzed — only exact equality is supported), a `:` that is not a
legal field prefix, nested or
signed-member groups, `-( )` under default_operator="and" (the
default operator applies INSIDE groups, and NOT-of-AND has no
per-member exclusion form), malformed
quote/suffix shapes (a quote inside a bare chunk, anything but
~slop^boost glued to a closing quote, anything but ^boost glued to a
closing paren, a second ^boost), a sloppy
phrase repeating a token (the proximity engine needs distinct terms
— slop=0 exact phrases support repeats), and any query string on a
chargram index (word tokenizers only).

SCORING (per doc): sum over its matching positive clauses of
  term clause    -> BM25 contribution x boost (corpus-global stats)
  phrase clause  -> BM25 over the phrase's distinct terms x boost
                    (phrase_topk's scoring), for docs containing it
  fuzzy/wildcard/regexp/range -> boost as a CONSTANT (Lucene's default
                    CONSTANT_SCORE_REWRITE for multi-term queries:
                    per-expanded-term idf is unstable, so an expansion
                    clause scores flat)
  field clause   -> boost as a CONSTANT (Lucene scores keyword-field
                    term queries via their own field statistics, which
                    metadata columns don't carry — a filter-shaped
                    clause scores flat, as with ES constant_score)
Docs must match every MUST group (any member satisfies a `+( )`
group; a bare MUST clause is its own singleton group), no MUST_NOT
clause, and at least one positive clause. Ties break doc_id ASC.
Returns the engine-wide (query_id, doc_id, score, rank) result shape.

Scale shape: one term pass serves ALL term and expansion clauses of
the batch. Every fuzzy / wildcard / regexp / range clause resolves in
ONE dictionary pass (bounded max_expansions rewrite per clause,
dictionary pruning); clauses whose resolved term sets are equal share
a class, and each class's (class, term) pairs join the term clauses in
one In(term)-pruned scan and one producer (decode streams per posting
row; a class decodes once, whatever number of clauses share it).
Phrase / NEAR clauses batch into their surfaces (one call per distinct
window) with the full-match k, so they inherit its scale path (chunked
candidate masks); ALL metadata field clauses evaluate in one
pushed-predicate scan of the doc_fields frame (posting payloads never
read); the combine is the engine's one fused combine + top-k over
(query, doc) contribution rows. A clause kind absent from the batch
costs nothing.
"""

from __future__ import annotations

import re
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from capsbm25.catalog import arrow_collect, pdf_frame
from capsbm25.config import BuildConfig
from capsbm25.query import (
    MAX_EXPANSIONS_DEFAULT,
    RESULT_SCHEMA,
    _bm25_scorer,
    _check_k,
    _check_unique_ids,
    _doc_partials,
    _expansion_matched,
    _fused_combine_topk,
    _fuzzy_match,
    _in_list,
    _range_match,
    _regexp_match,
    _reject_paging,
    _term_df_map,
    _term_prune,
    _wildcard_match,
    near_topk,
    phrase_topk,
    term_doc_ids,
    validate_regexp_pattern,
)
from capsbm25.tokenize import tokenize_py

# full-match k for clause sub-calls: every surface's top-k clamps, so
# int32-max returns the entire match set ranked
_ALL_MATCHES_K = (1 << 31) - 1

# a chunk is a parenthesized group (one nesting level — [^()] bars
# nesting) plus whatever is glued to the closing paren, a quoted
# phrase plus WHATEVER is glued to the closing quote (validated
# against _QUOTED_RE below — anything else raises instead of
# re-matching as spurious bare terms), a bracketed term range plus
# whatever is glued to the closing bracket (validated against
# _RANGE_RE — the range body contains a space around TO, so it needs
# its own alternative), or a bare \S+ run; every non-space character
# lands in exactly one chunk, so nothing is silently skipped
_CHUNK_RE = re.compile(
    r'([+!-]?)(\([^()]*\)\S*|"[^"]*"\S*'
    r'|(?:[A-Za-z_][A-Za-z0-9_]*:)?[\[{][^\[\]{}]*[\]}]\S*|\S+)')
# legal glued suffix after a closing paren: ^boost only
_GROUP_RE = re.compile(r'^\(([^()]*)\)(?:\^(\d+(?:\.\d+)?))?$')
# legal glued suffix after a closing quote: ~slop then ^boost, each
# optional, in that order (Lucene's "a b"~2^3)
_QUOTED_RE = re.compile(r'^"[^"]*"(?:~\d+)?(?:\^\d+(?:\.\d+)?)?$')
_BOOST_RE = re.compile(r"^(.*?)\^(\d+(?:\.\d+)?)$", re.S)
# term range chunk: [lo TO hi] / {lo TO hi} / mixed, optional glued
# ^boost; bounds are raw single tokens (Lucene does not analyze range
# endpoints), `*` = open side
_RANGE_RE = re.compile(
    r'^([\[{])\s*(\S+)\s+TO\s+(\S+)\s*([\]}])(?:\^(\d+(?:\.\d+)?))?$')
_FUZZ_RE = re.compile(r"^(.+?)~(\d*)$", re.S)
# regexp clause: /pattern/ plus optional glued ^boost (Lucene
# RegexpQuery syntax); the pattern body is validated against
# regexp_topk's Java/RE2 common subset (which admits neither '/' nor
# whitespace, so [^/]+ cannot under-capture a legal pattern)
_REGEX_CLAUSE_RE = re.compile(r"^/([^/]+)/(?:\^(\d+(?:\.\d+)?))?$")
_PHRASE_RE = re.compile(r'^"([^"]*)"(?:~(\d+))?$', re.S)
_REJECT_RE = re.compile(r"[()\[\]{}|:]")
_KEYWORDS = {"AND", "OR", "NOT", "TO"}
# field clause prefix: identifier + colon + non-empty rest (round 7);
# the value's own charset is validated in _parse_simple_chunk
_FIELD_RE = re.compile(r"^([A-Za-z_][A-Za-z0-9_]*):(.+)$", re.S)
# the indexed default field — `text:...` strips the prefix and
# re-dispatches to the normal clause shapes (Lucene field-scoped query
# on the default field is the query itself)
_TEXT_FIELD = "text"


def parse_query_string(
    text: str, cfg: BuildConfig, default_operator: str = "or",
) -> list[dict]:
    """One query string -> clause list. Each clause: dict(role, kind,
    value, boost, extra, gid) with role in {must, should, not}, kind
    in {term, phrase, fuzzy, wildcard, regexp, range, field,
    field_range}; extra = slop
    (phrase), edits (fuzzy), or (include_lower, include_upper) for
    range, whose value is the (lo, hi) bound pair (None = open side);
    a field clause's value is the (field, value) pair (exact
    unanalyzed metadata equality — `text:` re-dispatches to the
    default-field shapes instead). gid is the BOOLEAN GROUP the clause belongs to: clauses
    sharing a gid satisfy their role together (a MUST group needs ANY
    member to match — Lucene's `+(a b)`; a NOT group's members each
    exclude); a bare clause is its own singleton group. Grouping
    supports ONE nesting level — `+(a b)`, `-(c d)`, `(a b)^boost` —
    with members combined by OR inside (the classic parser's behavior
    under default_operator="or"); under default_operator="and" a
    positive group flattens to per-member MUST singletons (Lucene
    applies the default operator inside groups) and `-(...)`
    raises (NOT of an AND-group is not expressible as per-member
    exclusion). Signs inside a group and nested groups raise.
    Pure function — unit-testable without Spark."""
    if default_operator not in ("or", "and"):
        raise ValueError("default_operator must be 'or' or 'and'")
    if cfg.tokenizer == "chargram":
        raise ValueError(
            "query strings require a word-tokenizer index — a phrase "
            "clause re-tokenized over chargrams silently spans the "
            "joining spaces; use substring_topk on chargram indexes"
        )
    text = text or ""
    if text.count('"') % 2:
        raise ValueError(f"unbalanced quote in query string {text!r}")
    default_role = "should" if default_operator == "or" else "must"
    clauses: list[dict] = []
    gid_counter = [0]

    def next_gid() -> int:
        gid_counter[0] += 1
        return gid_counter[0] - 1

    # operator-keyword state (round 7 — Lucene classic AND/OR/NOT,
    # QueryParserBase.addClause semantics): `conj` is the pending
    # conjunction BEFORE the next clause unit, `neg` a pending NOT
    # modifier, `prev` the last emitted unit's clause span for the
    # retroactive occur adjustment (AND promotes the PRECEDING unit
    # to MUST; under default_operator="and", OR demotes it to SHOULD)
    conj: str | None = None
    neg = False
    prev: dict | None = None
    _OP_ALIAS = {"AND": "AND", "&&": "AND", "OR": "OR", "||": "OR",
                 "NOT": "NOT", "!": "NOT"}
    for sign, chunk in _CHUNK_RE.findall(text):
        if chunk in _OP_ALIAS:
            op = _OP_ALIAS[chunk]
            if sign:
                raise ValueError(
                    f"sign on operator keyword {sign}{chunk}: "
                    "modifiers and conjunctions do not combine"
                )
            if op == "NOT":
                if neg:
                    raise ValueError("NOT NOT is not supported")
                neg = True
                continue
            chunk = op
            if neg or conj is not None:
                raise ValueError(
                    f"misplaced operator {chunk!r}: two operators in "
                    "a row"
                )
            if prev is None:
                raise ValueError(f"leading operator {chunk!r}")
            conj = chunk.lower()
            continue
        if sign == "!":
            # Lucene's ! modifier glued to its clause (!term, !(a b));
            # the lexer emits it as a separate token, so it behaves
            # exactly like the - prefix
            sign = "-"
            if chunk.startswith(("+", "-")):
                # '!-a' / '!+a': without this the inner modifier was
                # re-analyzed as the chunk's own sign and NOT(-a)
                # silently parsed as -a — every other glued double
                # modifier raises (round-7 advice)
                raise ValueError(
                    f"double modifier on !{chunk!r}: one "
                    "modifier per clause (Lucene's grammar)"
                )
        if chunk.startswith("!"):
            raise ValueError(
                f"double modifier on {sign}{chunk!r}: one "
                "modifier per clause (Lucene's grammar)"
            )
        if sign and neg:
            raise ValueError(
                f"NOT combined with {sign!r} on {chunk!r}: one "
                "modifier per clause (Lucene's grammar)"
            )
        # Lucene addClause: adjust the PREVIOUS unit's occur first
        # (skipped when it is prohibited, exactly as Lucene does)
        if prev is not None and not prev["not"]:
            if conj == "and":
                for c in clauses[prev["start"]:prev["end"]]:
                    c["role"] = "must"
            elif conj == "or" and default_operator == "and":
                if prev["group"]:
                    raise ValueError(
                        "a ( ) group followed by OR under "
                        "default_operator='and' is unsupported: the "
                        "group flattens to per-member MUST singletons "
                        "(Lucene applies the default operator inside "
                        "groups) and has no single-clause demotion"
                    )
                for c in clauses[prev["start"]:prev["end"]]:
                    c["role"] = "should"
        # occur for THIS unit. OR mode: required iff `+` or introduced
        # by AND; AND mode: required unless prohibited or introduced
        # by OR — Lucene IGNORES `+` after OR in AND mode (`+a OR b`
        # parses as `a OR b`), a documented classic-parser quirk we
        # mirror for parity
        prohibited = neg or sign == "-"
        if default_operator == "or":
            required = sign == "+" or (conj == "and" and not prohibited)
        else:
            required = not prohibited and conj != "or"
        role = "not" if prohibited else (
            "must" if required else "should")
        start = len(clauses)
        if chunk.startswith("("):
            if default_operator == "and" and conj == "or":
                raise ValueError(
                    "OR before a ( ) group under "
                    "default_operator='and' is unsupported: the group "
                    "flattens to per-member MUST singletons and has "
                    "no single-clause occur"
                )
            gm = _GROUP_RE.match(chunk)
            if not gm:
                raise ValueError(
                    f"malformed group {chunk!r}: after the closing "
                    "paren only ^boost may follow, and groups do not "
                    "nest"
                )
            body, gboost = gm.group(1), float(gm.group(2) or 1.0)
            if gboost <= 0:
                raise ValueError(f"boost must be > 0 in {chunk!r}")
            members = _CHUNK_RE.findall(body)
            if not members:
                raise ValueError(f"empty group {chunk!r}")
            if any(s for s, _ in members):
                raise ValueError(
                    f"sign inside group {chunk!r}: +/- apply to the "
                    "whole group (one nesting level)"
                )
            if default_operator == "and":
                if role == "not":
                    raise ValueError(
                        f"-( ) group {chunk!r} with "
                        "default_operator='and' is unsupported: the "
                        "default operator applies inside groups, and "
                        "NOT-of-AND is not a per-member exclusion"
                    )
                # AND inside the group: every member required — each
                # CLAUSE is its own MUST singleton (flattening is the
                # exact semantics, not an approximation; a multi-token
                # member's tokens each bind separately, like bare
                # chunks under AND)
                for _, mchunk in members:
                    _parse_simple_chunk(
                        mchunk, "must", cfg, clauses, next_gid, gboost)
            else:
                gid = next_gid()
                for _, mchunk in members:
                    _parse_simple_chunk(
                        mchunk, role, cfg, clauses, lambda: gid, gboost)
        else:
            _parse_simple_chunk(chunk, role, cfg, clauses, next_gid, 1.0)
        # an analyzer-emptied chunk adds no clauses: the conjunction
        # is consumed (its retroactive adjustment already ran) but
        # `prev` keeps pointing at the last REAL unit, like Lucene's
        # null-query return in addClause
        if len(clauses) > start:
            prev = {"start": start, "end": len(clauses),
                    "not": role == "not",
                    "group": (chunk.startswith("(")
                              and default_operator == "and")}
        conj, neg = None, False
    if conj is not None or neg:
        raise ValueError(
            f"trailing operator in query string {text!r}"
        )
    return clauses


def _parse_simple_chunk(chunk: str, role: str, cfg: BuildConfig,
                        clauses: list, gid_fn,
                        boost_mult: float) -> None:
    """Parse one non-group chunk into clause dicts appended to
    `clauses` (a bare multi-token chunk contributes one clause per
    token with the same role/boost). gid_fn is called once per
    appended clause: at top level it mints a FRESH gid each time, so
    each token of a multi-token chunk is its own singleton group
    (all tokens bind under MUST — pre-round-7 and Lucene-under-AND
    behavior); inside an OR group it returns the group's fixed gid,
    so every member token shares the group's any-member semantics.
    boost_mult: the enclosing group's ^boost (1.0 at top level) —
    multiplies the clause's own."""
    if chunk[0] in "[{":
        rm = _RANGE_RE.match(chunk)
        if not rm:
            raise ValueError(
                f"malformed range clause {chunk!r}: expected "
                "[lo TO hi] / {lo TO hi} (TO uppercase, single-token "
                "bounds, * for an open side), optionally ^boost"
            )
        br_lo, lo, hi, br_hi, rboost = rm.groups()
        boost = float(rboost or 1.0)
        if boost <= 0:
            raise ValueError(f"boost must be > 0 in {chunk!r}")
        # bounds are NOT analyzed (Lucene TermRangeQuery semantics) —
        # only case-folded to the index's lowercase term space
        lo = None if lo == "*" else lo.lower()
        hi = None if hi == "*" else hi.lower()
        if lo is None and hi is None:
            raise ValueError(
                f"range {chunk!r} is open on both sides — it would "
                "match the whole dictionary"
            )
        if any(c in '"^~()' for c in (lo or "") + (hi or "")):
            raise ValueError(
                f"unsupported character in range bound of {chunk!r}"
            )
        clauses.append({"role": role, "kind": "range",
                        "value": (lo, hi),
                        "boost": boost * boost_mult,
                        "extra": (br_lo == "[", br_hi == "]"),
                        "gid": gid_fn()})
        return
    fdm = _FIELD_RE.match(chunk)
    if fdm:
        fname, rest = fdm.groups()
        if fname == _TEXT_FIELD:
            # the default field: the rest is an ordinary clause (term /
            # wildcard / fuzzy / ^boost); a nested field prefix raises
            # here, so the re-dispatch cannot recurse more than once
            if _FIELD_RE.match(rest):
                raise ValueError(
                    f"nested field prefix in {chunk!r}"
                )
            _parse_simple_chunk(rest, role, cfg, clauses, gid_fn,
                                boost_mult)
            return
        if rest[0] in "[{":
            # metadata RANGE clause (round 7): fname:[lo TO hi] — the
            # Lucene Point-range analog; bounds compare in the metadata
            # COLUMN's own type (numeric fields numerically, timestamps
            # as timestamps — converted engine-side where the dtype is
            # known), NOT lexicographically
            rm = _RANGE_RE.match(rest)
            if not rm:
                raise ValueError(
                    f"malformed metadata range in {chunk!r}: expected "
                    "field:[lo TO hi] / field:{lo TO hi} (TO uppercase, "
                    "single-token bounds, * for an open side), "
                    "optionally ^boost"
                )
            br_lo, lo, hi, br_hi, rboost = rm.groups()
            boost = float(rboost or 1.0)
            if boost <= 0:
                raise ValueError(f"boost must be > 0 in {chunk!r}")
            # metadata bounds stay VERBATIM (no case folding — the
            # column is unanalyzed; '*' opens a side)
            lo = None if lo == "*" else lo
            hi = None if hi == "*" else hi
            if lo is None and hi is None:
                raise ValueError(
                    f"range {chunk!r} is open on both sides — it "
                    "would match every doc with a non-NULL value"
                )
            if any(c in '"^~()' for c in (lo or "") + (hi or "")):
                raise ValueError(
                    f"unsupported character in range bound of {chunk!r}"
                )
            clauses.append({"role": role, "kind": "field_range",
                            "value": (fname, lo, hi),
                            "boost": boost * boost_mult,
                            "extra": (br_lo == "[", br_hi == "]"),
                            "gid": gid_fn()})
            return
        m = _BOOST_RE.match(rest)
        value, boost = (m.group(1), float(m.group(2))) \
            if m and m.group(2) else (rest, 1.0)
        if boost <= 0:
            raise ValueError(f"boost must be > 0 in {chunk!r}")
        # metadata values are UNANALYZED (keyword-field semantics):
        # exact equality only — no quotes, wildcards, fuzziness,
        # or a second field prefix
        if len(value) > 1 and value[0] == "/" and value[-1] == "/":
            raise ValueError(
                f"regexp on a metadata field in {chunk!r}: keyword "
                "fields match by exact equality only — /re/ clauses "
                "apply to the default text field"
            )
        if not value or any(c in '"^~()[]{}|:*? ' for c in value):
            raise ValueError(
                f"unsupported metadata-field value in {chunk!r}: "
                "exact unanalyzed equality only (no quotes, wildcards, "
                "~, or a second ':'); use text: for analyzed clauses"
            )
        clauses.append({"role": role, "kind": "field",
                        "value": (fname, value),
                        "boost": boost * boost_mult,
                        "extra": None, "gid": gid_fn()})
        return
    if chunk.startswith("/"):
        rm = _REGEX_CLAUSE_RE.match(chunk)
        if not rm:
            raise ValueError(
                f"malformed regexp clause {chunk!r}: expected "
                "/pattern/ optionally followed by ^boost (the pattern "
                "may not contain '/' or whitespace)"
            )
        pat = validate_regexp_pattern(rm.group(1))
        boost = float(rm.group(2) or 1.0)
        if boost <= 0:
            raise ValueError(f"boost must be > 0 in {chunk!r}")
        clauses.append({"role": role, "kind": "regexp", "value": pat,
                        "boost": boost * boost_mult, "extra": 0,
                        "gid": gid_fn()})
        return
    if chunk.startswith('"'):
        if not _QUOTED_RE.match(chunk):
            raise ValueError(
                f"malformed phrase clause {chunk!r}: after the "
                "closing quote only ~slop then ^boost may follow"
            )
    else:
        if '"' in chunk:
            raise ValueError(
                f"quote inside bare clause {chunk!r}: a phrase "
                "must be its own whitespace-separated chunk"
            )
        if chunk in _KEYWORDS:
            raise ValueError(
                f"operator keyword {chunk!r} here is not supported: "
                "AND/OR/NOT work between top-level clauses only (a "
                "group's members have one shared occur — use nested "
                "+/- instead), and TO is only valid inside a range"
            )
        if _REJECT_RE.search(chunk):
            raise ValueError(
                f"unsupported syntax in {chunk!r}: a field prefix must "
                "be identifier: with a bare value, ( ) groups and "
                "[a TO b] ranges must be whitespace-separated chunks, "
                "and synonym groups have a dedicated surface "
                "(synonym_topk)"
            )
    m = _BOOST_RE.match(chunk)
    body, boost = (m.group(1), float(m.group(2))) if m and m.group(2) \
        else (chunk, 1.0)
    if boost <= 0:
        raise ValueError(f"boost must be > 0 in {chunk!r}")
    boost *= boost_mult
    if "^" in body and not body.startswith('"'):
        # 'foo^2.5^3' et al: after one boost strip a bare body may
        # not still contain ^ — tokenizing it would emit the boost
        # digits as spurious terms
        raise ValueError(
            f"malformed boost in {chunk!r}: one ^boost suffix per "
            "clause"
        )
    pm = _PHRASE_RE.match(body)
    if pm:
        toks = tokenize_py(pm.group(1), cfg)
        slop = int(pm.group(2) or 0)
        if not toks:
            return
        if slop > 0 and len(set(toks)) != len(toks):
            raise ValueError(
                f"sloppy phrase {chunk!r} repeats a token: the "
                "proximity engine (ordered NEAR) needs distinct "
                "terms — a documented deviation from Lucene's "
                "sloppy PhraseQuery; slop=0 exact phrases support "
                "repeats"
            )
        if len(toks) == 1:  # 1-token phrase degrades to a term
            clauses.append({"role": role, "kind": "term",
                            "value": toks[0], "boost": boost,
                            "extra": 0, "gid": gid_fn()})
            return
        clauses.append({"role": role, "kind": "phrase",
                        "value": " ".join(toks), "boost": boost,
                        "extra": slop, "gid": gid_fn()})
        return
    if "*" in body or "?" in body:
        if "~" in body:
            raise ValueError(
                f"{chunk!r}: a clause cannot be both wildcard "
                "and fuzzy"
            )
        clauses.append({"role": role, "kind": "wildcard",
                        "value": body.lower(), "boost": boost,
                        "extra": 0, "gid": gid_fn()})
        return
    fm = _FUZZ_RE.match(body)
    if fm:
        edits = int(fm.group(2)) if fm.group(2) else 2
        if not 0 <= edits <= 2:
            raise ValueError(
                f"{chunk!r}: fuzzy edits must be 0..2 (the Lucene "
                "bound)"
            )
        toks = tokenize_py(fm.group(1), cfg)
        if len(toks) != 1:
            raise ValueError(
                f"fuzzy clause {chunk!r} must be a single term"
            )
        if edits == 0:  # ~0 is an exact term (Lucene)
            clauses.append({"role": role, "kind": "term",
                            "value": toks[0], "boost": boost,
                            "extra": 0, "gid": gid_fn()})
        else:
            clauses.append({"role": role, "kind": "fuzzy",
                            "value": toks[0], "boost": boost,
                            "extra": edits, "gid": gid_fn()})
        return
    for t in tokenize_py(body, cfg):
        clauses.append({"role": role, "kind": "term", "value": t,
                        "boost": boost, "extra": 0, "gid": gid_fn()})


# MUST groups are tracked as bits of one int64 bitmask; 62 groups per
# query is far past any real classic-parser query (Lucene's whole-query
# default maxClauseCount is 1024); beyond it we raise loudly rather
# than mis-count
_MAX_MUST_BITS = 62

# the multi-term clause kinds, resolved together by _resolve_expansions
_EXPANSION_KINDS = ("fuzzy", "wildcard", "regexp", "range")

# synthetic expansion-clause ids start above the int32 query-id range:
# they key the class rows of the term pass, which must never collide
# with a query's own term rows
_CLAUSE_ID0 = 1 << 31

# the one expansion clause frame: every kind's match columns, null on
# the other kinds' rows
_EXPANSION_DDL = ("query_id long, kind string, qterm string, me int, "
                  "like_pat string, rx string, lo string, hi string, "
                  "inc_lo boolean, inc_hi boolean")


def _resolve_expansions(spark, postings, exp: pd.DataFrame, dictionary,
                        max_expansions):
    """Resolve every fuzzy / wildcard / regexp / range clause of the
    batch with ONE _expansion_matched call (one dictionary pass).
    exp: one row per clause, keyed by its synthetic clause id (sid).
    The join condition is the OR of the per-kind predicates, each
    guarded by `kind`; the scan condition the OR of the per-kind
    pushable ones (none when any kind has none); the distance is the
    banded levenshtein on fuzzy rows and 0 on every other, so the
    ranking (dist ASC, df DESC, term ASC) is each kind's own. Returns
    _expansion_matched's result."""
    frame = {c.split()[0]: pd.Series(None, index=exp.index, dtype=object)
             for c in _EXPANSION_DDL.split(", ")}
    frame["query_id"], frame["kind"] = exp["sid"], exp["kind"]
    join, scans, dist = None, [], F.lit(0)
    for kind, grp in exp.groupby("kind"):
        v, x = list(grp["value"]), list(grp["extra"])
        cols, on, scan, d = {
            "fuzzy": lambda: _fuzzy_match(v, x),
            "wildcard": lambda: _wildcard_match(v),
            "regexp": lambda: _regexp_match(v),
            "range": lambda: _range_match(
                [b[0] for b in v], [b[1] for b in v],
                [i[0] for i in x], [i[1] for i in x]),
        }[kind]()
        for c, vals in cols.items():
            frame[c].loc[grp.index] = vals
        on = (F.col("kind") == kind) & on
        join = on if join is None else join | on
        scans.append(scan)
        if d is not None:
            dist = F.when(F.col("kind") == kind, d).otherwise(dist)
    scan = None
    if all(s is not None for s in scans):
        scan = scans[0]
        for s in scans[1:]:
            scan = scan | s
    return _expansion_matched(
        spark, postings, dictionary,
        pdf_frame(spark, pd.DataFrame(frame), ddl=_EXPANSION_DDL),
        join, scan_cond=scan, max_expansions=max_expansions,
        rank_cols=[("dist", True), ("df", False), ("term", True)],
        post_cols={"dist": dist})


_CLAUSE_FRAME_DDL = ("term string, query_id long, role string, "
                     "boost double, mb long, cb long, xn long")


def _term_contribs(spark, postings, terms: pd.DataFrame,
                   exp: pd.DataFrame, phrases: pd.DataFrame,
                   other_gids: set, N, avgdl, cfg, dictionary,
                   max_expansions):
    """The batch's one term pass: every term clause (terms) and every
    expansion clause (exp) share one df map, one In(term)-pruned scan,
    one broadcast clause join and one _doc_partials. A term row scores
    BM25 x boost (0 for MUST_NOT — membership only). The clause frame
    carries the fused state as per-row constants — MUST-group bit
    (mb), constant-clause bit (cb) and prohibited flag (xn) — so the
    combine folds distinct-doc rows with one sum/bit_or/max each.

    The expansion clauses resolve in one dictionary pass
    (_resolve_expansions). Each class's (term, class key) pairs join
    the clause frame as rows (role "class") that decode doc_ids only
    and are masked by the required-clause pushdown;
    _doc_partials emits them once per member clause, whose cb bit
    carries the constant score. On the unbounded expansion path the
    pairs are a distributed frame, and the clause frame joins the
    unpruned scan with it. phrases: the batch's phrase / NEAR clauses,
    scored by their own sub-calls; only their mass is counted here.
    other_gids: the (query, group) pairs holding a non-term clause.
    Returns (contribution frame, or None when nothing can match; the
    raw contribution mass — Σ df over the term clauses, plus each
    phrase clause's candidate bound (the min df over its distinct
    tokens), plus each class's Σ df once — None when unknown)."""
    # one df collect over every term clause and phrase token of the
    # batch: BM25 idf, the combine's raw contribution mass and the
    # pushdown gate
    ptoks = [set(v.split()) for v in phrases["value"]]
    lookup = sorted(set(terms["value"]).union(*ptoks))
    dfm = _term_df_map(postings.where(_in_list("term", lookup))) \
        if lookup else {}
    mass = int(sum(dfm.get(t, 0) for t in terms["value"])
               + sum(min(dfm.get(t, 0) for t in ts) for ts in ptoks))
    found = None
    if len(exp):
        exp = exp.assign(
            sid=_CLAUSE_ID0 + np.arange(len(exp), dtype=np.int64))
        found = _resolve_expansions(spark, postings, exp, dictionary,
                                    max_expansions)
    if found is None and not len(terms):
        return None, mass
    qdf = terms[["orig_qid", "role", "value", "boost", "mbit"]].rename(
        columns={"orig_qid": "query_id", "value": "term", "mbit": "mb"}
    ).assign(cb=0, xn=(terms["role"] == "not").astype(np.int64))
    exp_rows = member_bc = None
    members: dict = {}
    if found is not None:
        exp_rows, classes, exp_mass = found
        mass = None if exp_mass is None else mass + exp_mass
        if classes is None:  # equi-join path: each clause its own class
            classes = {int(s): int(s) for s in exp["sid"]}
        for r in exp.itertuples(index=False):
            if int(r.sid) in classes:  # else the clause matched no term
                members.setdefault(classes[int(r.sid)], []).append((
                    int(r.orig_qid), {"mb": int(r.mbit), "cb": int(r.cbit),
                                      "xn": int(r.role == "not")}))
        member_bc = _required_clause_mask(
            spark, postings, terms, other_gids, set(exp["orig_qid"]), dfm,
            N)
        if not isinstance(exp_rows, DataFrame):
            cls = exp_rows[["term", "query_id"]].assign(
                role="class", boost=0.0, mb=0, cb=0, xn=0)
            qdf = pd.concat([qdf, cls]) if len(qdf) else cls
    cdf = pdf_frame(spark, qdf[[c.split()[0] for c in
                                _CLAUSE_FRAME_DDL.split(", ")]],
                    ddl=_CLAUSE_FRAME_DDL)
    posts = postings.drop("pos") if "pos" in postings.columns else postings
    if isinstance(exp_rows, DataFrame):
        matched = posts.join(cdf.unionByName(exp_rows.select(
            "term", F.col("query_id").cast("long"),
            F.lit("class").alias("role"),
            F.lit(0.0).alias("boost"),
            *(F.lit(0).cast("long").alias(s) for s in ("mb", "cb", "xn")))),
            "term")
    else:
        matched = _term_prune(spark, posts, sorted(set(qdf["term"]))).join(
            F.broadcast(cdf), "term")
    # explicit projection (Catalyst cannot prune through mapInPandas):
    # cf/df would otherwise ride the Arrow transfer unused
    return _doc_partials(
        matched.select("term", "query_id", "role", "boost", "doc_ids",
                       "tfs", "dls", "mb", "cb", "xn"),
        _bm25_scorer(dfm, N, avgdl, cfg), members=members,
        member_bc=member_bc), mass


# required-clause pushdown gate (round 8, measured on one index at two
# scales — BENCH/r08/qs_filter_gate_exp.log): the mask's cost is
# CAPPED (<= 4M-id collect + a searchsorted per entry) while the
# expansion membership it prunes grows with the corpus, so above
# _QS_FILTER_MIN_N turns the filter wins even at modest selectivity
# (10.5M turns, 35%-of-corpus must union: 11.8-20.5s closed ->
# 10.8-11.8s open). Below it the membership is small enough that the
# collect+mask overhead shows (1.05M: 4.0-4.7 closed vs 4.45-4.6
# open), so mid-size corpora keep the strict N/_QS_FILTER_N_DIV
# selectivity requirement.
_QS_FILTER_N_DIV = 16
_QS_FILTER_MIN_N = 4_000_000


def _popcount64(v: np.ndarray) -> np.ndarray:
    """Vectorized 64-bit popcount (SWAR) of the folded MUST-group
    bitmask (mb)."""
    v = v.astype(np.uint64)
    v = v - ((v >> np.uint64(1)) & np.uint64(0x5555555555555555))
    v = (v & np.uint64(0x3333333333333333)) + (
        (v >> np.uint64(2)) & np.uint64(0x3333333333333333))
    v = (v + (v >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return ((v * np.uint64(0x0101010101010101))
            >> np.uint64(56)).astype(np.int64)


_RANGEABLE_INTS = {"tinyint", "smallint", "int", "bigint"}


def _convert_bound(fname: str, bound: str | None, dtype: str):
    """One metadata comparison value (range bound OR equality literal)
    -> a Python literal of the COLUMN's Spark type, so the comparison
    runs natively (numerics compare numerically, never
    lexicographically) and pushes to the metadata source's scan.
    Raises on a value the type can't parse — a silent NULL comparison
    would make the clause match nothing and mis-answer the query."""
    if bound is None:
        return None
    try:
        if dtype in _RANGEABLE_INTS:
            return int(bound)
        if dtype in ("float", "double"):
            return float(bound)
        if dtype in ("timestamp", "timestamp_ntz", "date"):
            ts = pd.Timestamp(bound)
            return ts.date() if dtype == "date" else ts.to_pydatetime()
        if dtype == "string":
            return bound
    except (ValueError, OverflowError) as exc:
        raise ValueError(
            f"value {bound!r} does not parse as the {dtype} "
            f"type of metadata field {fname!r}"
        ) from exc
    raise ValueError(
        f"metadata field {fname!r} has type {dtype}, which field "
        "clauses do not support (numeric, string, timestamp, date)"
    )


def _required_clause_mask(spark, postings, terms: pd.DataFrame,
                          other_gids: set, exp_qids: set, dfm: dict,
                          N: int):
    """Required-clause pushdown (Lucene's "required clauses drive the
    iteration"): a hit matches each of its query's MUST groups, so when
    every expansion-carrying query has a MUST group of plain terms, the
    union of one chosen (smallest-Σdf) such group's docs per query is
    a SUPERSET of every hit of every class member — it masks the class
    rows in the producer, shrinking expansion membership from
    match-mass to candidate-mass. A MUST group with an expansion /
    phrase / field member (other_gids) is satisfied by ANY member, so
    it is ineligible. Returns a Broadcast of the sorted ids (one
    bounded collect) when the gate passes, else None; correctness
    never depends on it."""
    must_groups: dict[int, dict[int, list[str]]] = {}
    for r in terms.itertuples(index=False):
        if (r.role == "must" and r.orig_qid in exp_qids
                and (r.orig_qid, r.gid) not in other_gids):
            must_groups.setdefault(r.orig_qid, {}).setdefault(
                r.gid, []).append(r.value)
    if not all(q in must_groups for q in exp_qids):
        return None
    chosen: set[str] = set()
    for q in exp_qids:
        chosen.update(min(must_groups[q].values(),
                          key=lambda ts: sum(dfm.get(t, 0) for t in ts)))
    est = sum(dfm.get(t, 0) for t in chosen)
    # selectivity gate — see the constants' comment above: the bounded
    # mask always wins at large corpora, and only at strong
    # selectivity below them
    if not (0 < est <= 4_000_000 and (est <= N // _QS_FILTER_N_DIV
                                      or N >= _QS_FILTER_MIN_N)):
        return None
    return spark.sparkContext.broadcast(np.unique(arrow_collect(
        term_doc_ids(postings, sorted(chosen)))["doc_id"].to_numpy(
        np.int64)))


def _phrase_contribs(spark, postings, pdf: pd.DataFrame, N, avgdl, cfg,
                     sid_cols: list[str]) -> list[DataFrame]:
    """Phrase clauses as sub-calls: slop=0 -> exact phrase_topk;
    slop>0 -> ordered near_topk with window = len(phrase)+slop, one
    call per distinct window, synthetic sequential ids, the full-match
    k. The sub-calls are the unordered forms: every match feeds the
    combine, and no sort runs over it."""
    pdf = pdf.assign(sid=np.arange(len(pdf), dtype=np.int32))
    window = np.array([0 if e == 0 else len(v.split()) + int(e)
                       for v, e in zip(pdf["value"], pdf["extra"])])
    out = []
    for w, grp in pdf.groupby(window):
        sub = pd.DataFrame({"query_id": grp["sid"].to_numpy(np.int32),
                            "text": grp["value"].tolist(),
                            "k": np.full(len(grp), _ALL_MATCHES_K,
                                         np.int32)})
        res = (phrase_topk.unordered(spark, postings, sub, N, avgdl, cfg)
               if w == 0 else near_topk.unordered(
                   spark, postings, sub, N, avgdl, cfg, window=int(w),
                   ordered=True))
        out.append(_subcall_contribs(
            spark, res.select("query_id", "doc_id", "score"),
            grp[sid_cols]))
    return out


def _field_contribs(spark, doc_fields: DataFrame, pdf: pd.DataFrame,
                    sid_cols: list[str]) -> DataFrame:
    """ONE scan of the metadata frame evaluates EVERY field clause of
    the batch — equality AND range: the coarse OR of the predicates
    pushes to the metadata source's scan, and each surviving row
    explodes into the clause ids it satisfies. Range bounds convert to
    the column's OWN Spark type first (numerics compare numerically —
    Lucene Point-range semantics). Rows are already distinct per
    (clause, doc) — doc_fields is one row per doc — and the idempotent
    cb bit absorbs anything anyway."""
    pdf = pdf.assign(sid=np.arange(len(pdf), dtype=np.int32))
    dtypes = dict(doc_fields.dtypes)
    preds = []
    for r in pdf.itertuples(index=False):
        col = F.col(r.value[0])
        if len(r.value) == 2:  # equality clause
            # the literal converts to the column's OWN type exactly
            # like range bounds: a native comparison pushes to the
            # parquet scan, and an int column matched as a string
            # would diverge from the same value in a range clause
            # (cast("string") also breaks on doubles: "100" != "100.0")
            b = _convert_bound(r.value[0], r.value[1], dtypes[r.value[0]])
            preds.append((int(r.sid), col == F.lit(b)))
            continue
        fname, lo, hi = r.value
        inc_lo, inc_hi = r.extra
        dt = dtypes[fname]
        p = None
        if lo is not None:
            b = _convert_bound(fname, lo, dt)
            p = col >= F.lit(b) if inc_lo else col > F.lit(b)
        if hi is not None:
            b = _convert_bound(fname, hi, dt)
            c2 = col <= F.lit(b) if inc_hi else col < F.lit(b)
            p = c2 if p is None else (p & c2)
        preds.append((int(r.sid), p))
    coarse = preds[0][1]
    for _, p in preds[1:]:
        coarse = coarse | p
    sid_arr = F.array(*[F.when(p, F.lit(s)).cast("int") for s, p in preds])
    res = (
        doc_fields.where(coarse)
        .select(F.col("doc_id").cast("long").alias("doc_id"),
                F.explode(sid_arr).alias("query_id"))
        .where(F.col("query_id").isNotNull())
    )
    return _subcall_contribs(spark, res, pdf[sid_cols])


def _subcall_contribs(spark, result: DataFrame,
                      sid_map: pd.DataFrame) -> DataFrame:
    """Map a clause sub-call's rows back to the parent FUSED shape
    (query_id, doc_id, contrib, mb, cb, xn): score x boost when the
    result carries a score (phrase), else 0 — a field clause is
    membership only and scores through its idempotent cb bit; mb = the
    clause's must bit (0 unless role=must), xn = 1 for MUST_NOT. The
    sub-call results are already distinct per (sid, doc), so no
    further in-task combine is needed."""
    mdf = F.broadcast(pdf_frame(spark, sid_map).select(
        F.col("sid").cast("int"), F.col("orig_qid").cast("int"),
        "role", F.col("mbit").cast("long").alias("mbit"),
        F.col("cbit").cast("long").alias("cbit"),
        F.col("boost").cast("double")))
    contrib = (F.when(F.col("role") != "not",
                      F.col("score") * F.col("boost"))
               .otherwise(F.lit(0.0)) if "score" in result.columns
               else F.lit(0.0))
    return (
        result.withColumnRenamed("query_id", "sid")
        .join(mdf, "sid")
        .select(
            F.col("orig_qid").alias("query_id"), "doc_id",
            contrib.cast("double").alias("contrib"),
            F.col("mbit").alias("mb"),
            F.col("cbit").alias("cb"),
            F.when(F.col("role") == "not", F.lit(1))
             .otherwise(F.lit(0)).cast("long").alias("xn"),
        )
    )


def query_string_topk(
    spark: SparkSession,
    postings: DataFrame,
    queries: pd.DataFrame,
    N: int,
    avgdl: float,
    cfg: BuildConfig | None = None,
    default_operator: str = "or",
    doc_filter: DataFrame | None = None,
    doc_exclude: DataFrame | None = None,
    dictionary: DataFrame | None = None,
    max_expansions: int | None = MAX_EXPANSIONS_DEFAULT,
    doc_fields: DataFrame | None = None,
) -> DataFrame:
    """Top-k over user-facing query STRINGS (see the module docstring
    for syntax and scoring). queries: pandas (query_id, text, k);
    returns (query_id, doc_id, score, rank), ties by doc_id.

    doc_filter / doc_exclude apply batch-globally at the combine stage
    (Lucene filter + liveDocs: candidates restricted, scoring stats
    stay corpus-global). Phrase clauses need a positional index;
    expansion clauses accept the persisted `dictionary` and the
    bounded `max_expansions` rewrite (per clause) like their dedicated
    surfaces.

    Term and expansion clauses run as ONE term pass (_term_contribs,
    fed by the one dictionary pass of _resolve_expansions): one df
    map, one In(term) postings scan, one producer and one combine.

    doc_fields: per-doc metadata frame (doc_id + one column per
    queryable field), e.g. load_doc_stats(spark, out) for
    conv_id / turn_idx / dl — required when the batch contains
    metadata field clauses (`conv_id:c42`); a clause naming a column
    absent from it raises. ALL field clauses of the batch evaluate in
    ONE scan of this frame (equality predicates pushed to its source),
    so a field clause costs one metadata read, never a postings pass."""
    cfg = cfg or BuildConfig()
    _reject_paging(queries, "query_string_topk")
    _check_unique_ids(queries)
    term_rows, phrase_cl, exp_cl, field_cl = [], [], [], []
    meta: dict[int, dict] = {}  # qid -> the combine's per-query meta
    for q in queries.itertuples(index=False):
        qid, k = int(q.query_id), _check_k(q.query_id, q.k)
        clauses = parse_query_string(q.text, cfg, default_operator)
        # MUST satisfaction counts boolean GROUPS, not clauses: a
        # `+(a b)` group is satisfied by ANY member, so a doc needs
        # one distinct matched gid per must-group (a bare must clause
        # is its own singleton group — identical to the old count)
        must_gids = sorted({c["gid"] for c in clauses
                            if c["role"] == "must"})
        if len(must_gids) > _MAX_MUST_BITS:
            raise ValueError(
                f"query {qid} has {len(must_gids)} MUST groups; the "
                f"fused combine tracks at most {_MAX_MUST_BITS} "
                "(Lucene's whole-query default maxClauseCount is 1024 "
                "— split the query)"
            )
        bit = {g: 1 << i for i, g in enumerate(must_gids)}
        # constant-score (expansion and field) clauses score through an
        # IDEMPOTENT per-clause bit (cb) instead of a summed contrib,
        # so a doc reaching the combine through several rows of one
        # clause counts its boost once; the boost per bit rides the
        # query meta as a list and converts to score in the combine
        cboosts: list[float] = []
        cbits: dict[int, int] = {}  # clause index in list -> cbit
        for ci, c in enumerate(clauses):
            if (c["kind"] not in ("term", "phrase")
                    and c["role"] != "not"):
                if len(cboosts) >= _MAX_MUST_BITS:
                    raise ValueError(
                        f"query {qid} has more than {_MAX_MUST_BITS} "
                        "constant-score clauses — split the query"
                    )
                cbits[ci] = 1 << len(cboosts)
                cboosts.append(float(c["boost"]))
        meta[qid] = {"k": k, "n_must": len(must_gids), "cboosts": cboosts}
        for ci, c in enumerate(clauses):
            rec = (qid, c["gid"], c["role"], c["kind"], c["value"],
                   c["boost"], c["extra"], bit.get(c["gid"], 0)
                   if c["role"] == "must" else 0, cbits.get(ci, 0))
            (term_rows if c["kind"] == "term"
             else phrase_cl if c["kind"] == "phrase"
             else exp_cl if c["kind"] in _EXPANSION_KINDS
             else field_cl).append(rec)
    if not (term_rows or phrase_cl or exp_cl or field_cl):
        return spark.createDataFrame([], RESULT_SCHEMA)
    if field_cl:
        fnames = {r[4][0] for r in field_cl}
        if doc_fields is None:
            raise ValueError(
                "the batch contains metadata field clauses "
                f"({sorted(fnames)}) but no "
                "doc_fields frame was given — pass "
                "doc_fields=load_doc_stats(spark, out) (or any "
                "(doc_id, metadata...) frame)"
            )
        valid = set(doc_fields.columns) - {"doc_id"}
        bad = sorted(fnames - valid)
        if bad:
            raise ValueError(
                f"unknown metadata field(s) {bad}: doc_fields has "
                f"{sorted(valid)} (use text: for the indexed field)"
            )

    cols = ["orig_qid", "gid", "role", "kind", "value", "boost", "extra",
            "mbit", "cbit"]
    sid_cols = ["sid", "orig_qid", "role", "boost", "mbit", "cbit"]
    # the phrase sub-calls' eager steps (their df / stats collects) run
    # on a thread while this one runs the term pass's own (the
    # dictionary match, the df map, the mask): on one 400-conversation
    # index at local[2] (4 vCPU), an interleaved A/B of a phrase +
    # expansion batch took 1.70 s median with the overlap against
    # 2.07 s without (faster in 18 of 20 pairs)
    with ThreadPoolExecutor(max_workers=1) as pool:
        phrase = pool.submit(
            _phrase_contribs, spark, postings,
            pd.DataFrame(phrase_cl, columns=cols), N, avgdl, cfg,
            sid_cols) if phrase_cl else None
        term, est_mass = _term_contribs(
            spark, postings, pd.DataFrame(term_rows, columns=cols),
            pd.DataFrame(exp_cl, columns=cols),
            pd.DataFrame(phrase_cl, columns=cols),
            {(r[0], r[1]) for r in phrase_cl + exp_cl + field_cl},
            N, avgdl, cfg, dictionary, max_expansions)
        parts = ([term] if term is not None else []) + (
            phrase.result() if phrase is not None else [])
    if field_cl:
        parts.append(_field_contribs(spark, doc_fields, pd.DataFrame(
            field_cl, columns=cols), sid_cols))
    if not parts:  # every expansion clause resolved to nothing
        return spark.createDataFrame([], RESULT_SCHEMA)
    contribs = parts[0]
    for p in parts[1:]:
        contribs = contribs.unionByName(p)
    # doc_filter/doc_exclude apply before the combine, so filtered
    # rows never cross its exchange
    if doc_filter is not None:
        contribs = contribs.join(doc_filter.select("doc_id"), "doc_id",
                                 "left_semi")
    if doc_exclude is not None:
        contribs = contribs.join(doc_exclude.select("doc_id"), "doc_id",
                                 "left_anti")
    # the producers pre-summed contributions and pre-OR'd the per-doc
    # MUST-group bitmask (mb), constant-clause bits (cb) and prohibited
    # flag (xn); the combine folds the partials and keeps docs that
    # match every MUST group and no MUST_NOT clause. A doc surviving
    # xn == 0 necessarily matched >= 1 positive clause (its rows exist
    # and are not all MUST_NOT). Set constant-clause bits add their
    # boosts to the score.
    def keep(st, m):
        return (st["xn"] == 0) & (_popcount64(st["mb"]) == m["n_must"])

    def bonus(st, m):
        out = np.zeros(st["cb"].size, np.float64)
        for i, b in enumerate(m["cboosts"]):
            out += b * ((st["cb"] >> i) & 1)
        return out

    return _fused_combine_topk(contribs, meta, est_mass, keep, bonus)
