"""Lucene-lite query-string language: parse + compile to one plan.

The front door that ties the whole retrieval surface together — the
engine's analog of Lucene's classic QueryParser, restricted to the
operators the engine actually implements (every construct below
compiles onto an existing, independently oracle-gated scorer):

    +required -excluded bare "an exact phrase" lang:en tab* spar~1

Grammar (whitespace-separated clauses; quotes group):

- ``word``        SHOULD term (scores, not required — unless the query
                  has no MUST/phrase clause, in which case Lucene's
                  BooleanQuery rule applies: a doc must match >=1
                  scoring term to be a candidate).
- ``+word``       MUST term (candidate docs contain it; also scores).
- ``-word``       MUST_NOT term (candidate docs do not contain it;
                  never scores).
- ``"w1 w2"``     phrase: candidate docs contain the exact token
                  sequence; its terms also score. ``+"w1 w2"`` is the
                  same (phrases are always required).
- ``-"w1 w2"``    negated phrase: candidate docs do NOT contain the
                  exact sequence. Its terms never score, and may still
                  appear individually — only the sequence is excluded.
- ``"w1 w2"~3``   sloppy phrase: the terms IN ORDER within a total
                  stretch of ``slop`` extra tokens (Lucene
                  SpanNearQuery inOrder=true; ``~0`` is the exact
                  phrase). Required, and its terms score.
- ``field:value`` metadata equality filter over the documents table
                  (string fields: ``lang``, ``source``; numeric:
                  ``n_chars``, ``doc_id``). Non-scoring, Lucene-filter
                  semantics: corpus stats unaffected.
- ``field:[lo TO hi]``  numeric range filter (Lucene RangeQuery):
                  ``[``/``]`` inclusive, ``{``/``}`` exclusive, ``*``
                  for an open end (``[* TO *]`` = field exists). Only
                  the numeric fields accept ranges.
- ``word*``       prefix expansion (PrefixQuery): expands against the
                  term dictionary, df-ranked, capped; expansions score
                  as SHOULD terms.
- ``te?t`` / ``t*ble``  wildcard expansion (WildcardQuery: ``*`` any
                  run, ``?`` one char; a leading wildcard is rejected,
                  Lucene's allowLeadingWildcard=false). Scores as
                  SHOULD terms.
- ``/regex/``     regex expansion (RegexpQuery): dictionary terms whose
                  whole text matches; pattern is NOT analyzed (terms
                  are lowercase). Scores as SHOULD terms.
- ``word~``/``word~2``  fuzzy expansion (FuzzyQuery, max_edits 1 or 2,
                  prefixLength 1): expansions score as SHOULD terms.
- ``(w1 w2)``     term group (disjunction): the body is analyzed and
                  its token set are the members. Bare = one SHOULD
                  clause (matched by >=1 member, counts once toward
                  min_should_match); ``+(w1 w2)`` = required
                  disjunction (candidates contain >=1 member);
                  ``-(w1 w2)`` = none of the members may appear
                  (sugar for per-member MUST_NOT). Members score
                  (except under ``-``); a group boost applies to every
                  member.
- ``clause^2``    boost (Lucene's ``^``): multiplies the clause's score
                  contribution. Allowed on every scoring clause (bare /
                  MUST terms, phrases, prefix / fuzzy expansions);
                  rejected on MUST_NOT and filters, which never score.

``min_should_match`` (execution parameter, Lucene's
``setMinimumNumberShouldMatch``): candidate docs must satisfy at least
that many SHOULD clauses. A SHOULD clause is a bare term (doc contains
it), a soft phrase (doc contains ALL its tokens — bag semantics, like
its scoring), or a prefix/fuzzy expansion (doc contains >=1 expanded
term). MUST / phrase / filter clauses are obligatory regardless and do
not count toward the minimum.

Analysis: every term and phrase runs through the ENGINE tokenizer
(``tokenize_text``), exactly as Lucene analyzes query text with the
index analyzer — ``CamelCase`` in a query splits into the same tokens
indexing split it into. A single word that analyzes to multiple tokens
becomes a phrase (required if it was MUST, scoring-only if SHOULD);
multi-token MUST_NOT / prefix / fuzzy bodies are rejected. Field
values are metadata, never analyzed.

Scoring: full-corpus-stats BM25 (k1=1.2, b=0.75, same rounding and
(score DESC, doc_id ASC) tie-break as ``core.bm25_topk``) over the
union of scoring terms, restricted to candidate docs. Term weights
follow Lucene's sum-of-clauses rule: a term's weight is the SUM of the
boosts of every clause that contributes it (bare clause boost = 1.0) —
a duplicated term scores twice, a term reached both literally and via
an expansion adds both weights. All four execution paths (DataFrame,
DuckDB twin, index driver path, index distributed path) share this
accumulation, so they stay hash-identical.

Plan shape at scale: clause lists and expansion sets are tiny and
broadcast; candidates are semi-/anti-joins on doc_id (the shuffle key
scoring already uses); phrase constraints reuse the single-groupBy
phrase matcher; metadata filters are pushable predicates on the
documents scan. One scoring aggregation, one TakeOrderedAndProject.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..rows import rows_df
from ..tokenizer import (duckdb_toks_cte, sql_quote, sql_str_list,
                         tokenize_text, tokens_exploded)

_sq = sql_quote
from .core import B, K1

STRING_FILTER_FIELDS = ("lang", "source")
NUMERIC_FILTER_FIELDS = ("n_chars", "doc_id")
FILTER_FIELDS = STRING_FILTER_FIELDS + NUMERIC_FILTER_FIELDS
# a clause is a (signed) quoted phrase, a bracketed range filter
# (ranges contain spaces: 'n_chars:[100 TO 200]'), or one bare token —
# each optionally carrying a trailing ^boost
_CLAUSE_RE = re.compile(
    r'[+-]?"[^"]*"(?:~\d+)?(?:\^[0-9.]+)?'
    r'|[+-]?\([^)]*\)(?:\^[0-9.]+)?'
    r'|[+-]?[A-Za-z_]+:[\[{][^\]}]*[\]}](?:\^[0-9.]+)?'
    r'|\S+')
_BOOST_RE = re.compile(r"^(.*?)\^(\d+(?:\.\d+)?)$", re.DOTALL)
_RANGE_RE = re.compile(r"^([\[{])\s*(\*|-?\d+)\s+TO\s+(\*|-?\d+)\s*([\]}])$")


@dataclass(frozen=True)
class RangeFilter:
    """Numeric range bound set (None = open end, Lucene ``*``)."""
    lo: int | None
    hi: int | None
    lo_inc: bool = True
    hi_inc: bool = True


@dataclass
class ParsedQuery:
    must: list = field(default_factory=list)       # [str]
    should: list = field(default_factory=list)     # [str]
    must_not: list = field(default_factory=list)   # [str]
    phrases: list = field(default_factory=list)    # [[str]] (required)
    not_phrases: list = field(default_factory=list)  # [[str]] (excluded
    # exact sequences; their terms never score)
    slop_phrases: list = field(default_factory=list)  # [(terms, slop)]
    # (required ordered span-near matches; their terms score)
    groups: list = field(default_factory=list)      # [(terms, boost)]
    # SHOULD disjunction groups (>=1 member = one matched clause)
    must_any: list = field(default_factory=list)    # [(terms, boost)]
    # required disjunction groups (candidates contain >=1 member)
    soft_phrases: list = field(default_factory=list)  # [[str]] (SHOULD
    # words that analyzed to >1 token: their terms score, not required)
    prefixes: list = field(default_factory=list)   # [(str, boost)]
    fuzzies: list = field(default_factory=list)    # [(str, edits, boost)]
    wildcards: list = field(default_factory=list)  # [(pattern, boost)]
    regexes: list = field(default_factory=list)    # [(pattern, boost)]
    filters: list = field(default_factory=list)    # [(field, str|RangeFilter)]
    boosts: dict = field(default_factory=dict)     # {term: summed weight}
    # over every literal scoring clause (sum-of-clauses; bare = 1.0)

    @property
    def literal_score_terms(self) -> list:
        """Ordered-dedup union of every literal scoring term."""
        seen: dict = {}
        for t in self.must + self.should:
            seen.setdefault(t, None)
        for ph in (self.phrases + self.soft_phrases
                   + [ts for ts, _ in self.slop_phrases]
                   + [ts for ts, _ in self.groups]
                   + [ts for ts, _ in self.must_any]):
            for t in ph:
                seen.setdefault(t, None)
        return list(seen)

    @property
    def has_required(self) -> bool:
        return bool(self.must or self.phrases or self.slop_phrases
                    or self.must_any)

    @property
    def should_clauses(self) -> list:
        """Literal SHOULD clauses as (distinct_terms, need) pairs: a
        bare term needs itself; a soft phrase needs ALL its distinct
        tokens (bag semantics, mirroring how it scores); a SHOULD
        group needs >=1 member. Prefix/fuzzy/wildcard/regex clauses
        (need >=1 of the expanded set) append engine-side, after
        expansion."""
        out = [([t], 1) for t in self.should]
        out += [(sorted(set(ph)), len(set(ph))) for ph in self.soft_phrases]
        out += [(sorted(set(ts)), 1) for ts, _ in self.groups]
        return out

    @property
    def n_should_clauses(self) -> int:
        return (len(self.should) + len(self.soft_phrases)
                + len(self.groups)
                + len(self.prefixes) + len(self.fuzzies)
                + len(self.wildcards) + len(self.regexes))

    @property
    def expansion_boosts(self) -> list:
        """Per-clause boosts in the CANONICAL expansion order shared by
        every engine: prefixes, fuzzies, wildcards, regexes."""
        return ([b for _, b in self.prefixes]
                + [b for _, _, b in self.fuzzies]
                + [b for _, b in self.wildcards]
                + [b for _, b in self.regexes])

    def expansion_weights(self, expansions: list) -> dict:
        """Merge literal weights with per-clause expansion term lists
        (aligned with the canonical expansion order): the driver-path
        twin of the DataFrame union + groupBy(term).sum(boost)."""
        w = dict(self.boosts)
        for terms, cb in zip(expansions, self.expansion_boosts,
                             strict=True):
            for t in terms:
                w[t] = w.get(t, 0.0) + cb
        return w


def filters_predicate(filters: list) -> str:
    """Compile parsed filters to ONE SQL predicate string — valid for
    both Spark ``F.expr`` and DuckDB, so every execution path and the
    oracle twin share the exact same text."""
    parts = []
    for f_, v in filters:
        if isinstance(v, RangeFilter):
            sub = []
            if v.lo is not None:
                sub.append(f"{f_} >{'=' if v.lo_inc else ''} {v.lo}")
            if v.hi is not None:
                sub.append(f"{f_} <{'=' if v.hi_inc else ''} {v.hi}")
            parts.append("(" + " AND ".join(sub) + ")" if len(sub) > 1
                         else (sub[0] if sub else f"{f_} IS NOT NULL"))
        elif f_ in NUMERIC_FILTER_FIELDS:
            parts.append(f"{f_} = {int(v)}")
        else:
            parts.append(f"{f_} = {sql_quote(v)}")
    return " AND ".join(parts)


def filters_condition(filters: list):
    """Typed Spark ``Column`` for the parsed filters — semantically
    identical to ``F.expr(filters_predicate(filters))`` but built from
    ``F.col``/``F.lit`` so no user-controlled text ever reaches the
    Spark SQL parser (ADVICE r4, high). The predicate *text* stays the
    DuckDB-oracle / routing-probe / batch-grouping representation."""
    from pyspark.sql import functions as F
    cond = None
    for f_, v in filters:
        if isinstance(v, RangeFilter):
            c = None
            if v.lo is not None:
                lo = (F.col(f_) >= v.lo) if v.lo_inc else (F.col(f_) > v.lo)
                c = lo
            if v.hi is not None:
                hi = (F.col(f_) <= v.hi) if v.hi_inc else (F.col(f_) < v.hi)
                c = hi if c is None else (c & hi)
            if c is None:
                c = F.col(f_).isNotNull()
        elif f_ in NUMERIC_FILTER_FIELDS:
            c = F.col(f_) == int(v)
        else:
            c = F.col(f_) == F.lit(v)
        cond = c if cond is None else (cond & c)
    return cond if cond is not None else F.lit(True)


# Lucene classic-parser keyword connectives (uppercase only, like
# Lucene: lowercase 'and'/'or'/'not' stay ordinary search terms)
_CONNECTIVES = {"AND": "AND", "&&": "AND",
                "OR": "OR", "||": "OR",
                "NOT": "NOT", "!": "NOT"}


def _is_filter_clause(c: str) -> bool:
    m = re.match(r"^([A-Za-z_]+):", c)
    return bool(m) and m.group(1) in FILTER_FIELDS


def _rewrite_connectives(clauses: list[str]) -> list[str]:
    """Compile ``a AND b OR c NOT d`` keyword syntax onto the engine's
    occur-flags — Lucene's own classic-QueryParser rewrite with the
    default operator OR: ``AND`` upgrades BOTH neighbors to MUST (``+``)
    when unsigned, ``OR`` leaves its neighbors SHOULD, ``NOT`` signs the
    next clause MUST_NOT (``-``). Pure sugar: the output is a clause
    list in the existing grammar, so all four execution paths (DataFrame
    op, DuckDB twin, index driver path, index distributed path) inherit
    the semantics from one place."""
    out: list[str] = []
    conj: str | None = None
    neg = False
    for c in clauses:
        kind = _CONNECTIVES.get(c)
        if kind in ("AND", "OR"):
            if conj is not None or neg or not out:
                raise ValueError(f"misplaced connective {c!r}")
            conj = kind
            continue
        if kind == "NOT":
            if neg:
                raise ValueError("NOT NOT is not supported")
            neg = True
            continue
        signed = c[:1] in "+-"
        # field filters are non-scoring and ALWAYS required — an AND
        # next to one is satisfied without a sign (which the filter
        # grammar rejects)
        if (conj == "AND" and out[-1][:1] not in "+-"
                and not _is_filter_clause(out[-1])):
            out[-1] = "+" + out[-1]       # Lucene's upgrade of the
        if neg:                           # left operand (also for
            if signed:                    # 'a AND NOT b' -> +a -b)
                raise ValueError(
                    f"NOT cannot combine with a signed clause ({c!r})")
            c = "-" + c
        elif conj == "AND" and not signed and not _is_filter_clause(c):
            c = "+" + c
        out.append(c)
        conj = None
        neg = False
    if conj is not None or neg:
        raise ValueError("query string ends with a dangling connective")
    return out


def _split_clauses(qs: str) -> list[str]:
    """Clause lexer with residue detection (ADVICE r4): every clause
    match must start at a whitespace boundary, so malformed input like
    ``"a b"x`` or ``(a b)x`` raises instead of silently parsing as a
    phrase/group plus a stray bare term (the ``\\S+`` fallback used to
    swallow the residue)."""
    clauses = []
    for m in _CLAUSE_RE.finditer(qs):
        if m.start() > 0 and not qs[m.start() - 1].isspace():
            raise ValueError(
                f"malformed clause at offset {m.start()} in {qs!r}: "
                f"{m.group(0)!r} is glued to the previous clause")
        clauses.append(m.group(0))
    return clauses


def parse_querystring(qs: str, profile: str = "code") -> ParsedQuery:
    pq = ParsedQuery()
    clauses = _rewrite_connectives(_split_clauses(qs))
    if not clauses:
        raise ValueError("empty query string")
    def add_weight(terms: list, boost: float) -> None:
        for t in terms:
            pq.boosts[t] = pq.boosts.get(t, 0.0) + boost

    for raw in clauses:
        sign = ""
        body = raw
        if body[:1] in "+-":
            sign, body = body[0], body[1:]
        if not body:
            raise ValueError(f"dangling sign in clause {raw!r}")
        boost = 1.0
        bm = _BOOST_RE.match(body)
        if bm and bm.group(1):
            body, boost = bm.group(1), float(bm.group(2))
            if boost <= 0.0:
                raise ValueError(f"boost must be > 0 in clause {raw!r}")
        boosted = boost != 1.0 or (bm is not None and bool(bm.group(1)))
        if body[0] == '"':
            qm = re.match(r'^"(.*)"(?:~(\d+))?$', body, re.DOTALL)
            if not qm:
                raise ValueError(f"unterminated quote in {raw!r}")
            slop = int(qm.group(2)) if qm.group(2) else 0
            terms = tokenize_text(qm.group(1), profile)
            if not terms:
                raise ValueError(f"phrase {raw!r} analyzed to no tokens")
            if sign == "-":
                if boosted:
                    raise ValueError("boosted negated phrases are not "
                                     "supported (they never score)")
                if slop:
                    raise ValueError("negated sloppy phrases are not "
                                     "supported")
                pq.not_phrases.append(terms)
                continue
            if slop and len(terms) > 1:
                pq.slop_phrases.append((terms, slop))
            else:
                # ~0, or a single-token phrase: exact-phrase semantics
                pq.phrases.append(terms)
            add_weight(terms, boost)
            continue
        if body[0] == "(":
            if not body.endswith(")") or len(body) < 2:
                raise ValueError(f"unterminated group in {raw!r}")
            terms = tokenize_text(body[1:-1], profile)
            if not terms:
                raise ValueError(f"group {raw!r} analyzed to no tokens")
            if sign == "-":
                if boosted:
                    raise ValueError("boosted negated groups are not "
                                     "supported (they never score)")
                pq.must_not += [t for t in dict.fromkeys(terms)]
                continue
            if sign == "+":
                pq.must_any.append((terms, boost))
            else:
                pq.groups.append((terms, boost))
            add_weight(terms, boost)
            continue
        if len(body) > 2 and body[0] == "/" and body[-1] == "/":
            if sign:
                raise ValueError("signed regex clauses are not supported")
            pat = body[1:-1]
            try:
                re.compile(pat)
            except re.error as e:
                raise ValueError(f"bad regex in {raw!r}: {e}") from e
            pq.regexes.append((pat, boost))
            continue
        m = re.match(r"^([A-Za-z_]+):(.+)$", body, re.DOTALL)
        if m and m.group(1) in FILTER_FIELDS:
            if sign:
                raise ValueError("signed field filters are not supported")
            if boosted:
                raise ValueError("boosted field filters are not supported "
                                 "(filters never score)")
            f_, v = m.group(1), m.group(2)
            rm = _RANGE_RE.match(v)
            if rm:
                if f_ not in NUMERIC_FILTER_FIELDS:
                    raise ValueError(f"range filter on non-numeric field "
                                     f"{f_!r} (allowed: "
                                     f"{NUMERIC_FILTER_FIELDS})")
                lo = None if rm.group(2) == "*" else int(rm.group(2))
                hi = None if rm.group(3) == "*" else int(rm.group(3))
                if lo is not None and hi is not None and lo > hi:
                    raise ValueError(f"empty range in {raw!r}: {lo} > {hi}")
                pq.filters.append((f_, RangeFilter(
                    lo, hi, rm.group(1) == "[", rm.group(4) == "]")))
                continue
            if f_ in NUMERIC_FILTER_FIELDS:
                if re.fullmatch(r"-?\d+", v):
                    pq.filters.append((f_, v))
                    continue
                raise ValueError(f"numeric filter {f_}:{v!r} needs an "
                                 f"integer or a [lo TO hi] range")
            # conservative value charset (ADVICE r4, high): the
            # predicate text is shared verbatim between DuckDB and
            # Spark SQL, whose string literals disagree on backslash
            # escaping — a value like x\'or(...)-- would terminate the
            # Spark literal early (SQL injection) while DuckDB reads
            # one literal. Spark-side application is also typed
            # (filters_condition), so this is belt-and-braces.
            if not re.fullmatch(r"[A-Za-z0-9_.\-]+", v):
                raise ValueError(
                    f"string filter value {v!r} for field {f_!r} must "
                    f"match [A-Za-z0-9_.-]+ (quotes/backslashes/spaces "
                    f"are not valid in {STRING_FILTER_FIELDS} values)")
            pq.filters.append((f_, v))
            continue
        if m:
            raise ValueError(f"unknown filter field {m.group(1)!r} "
                             f"(allowed: {FILTER_FIELDS})")
        if body.endswith("*") and not any(c in "*?" for c in body[:-1]):
            if sign:
                raise ValueError("signed prefix clauses are not supported")
            stem = body[:-1]
            toks = tokenize_text(stem, profile)
            if len(toks) != 1:
                raise ValueError(f"prefix body {stem!r} must analyze to "
                                 f"exactly one token, got {toks}")
            pq.prefixes.append((toks[0], boost))
            continue
        if any(c in "*?" for c in body):
            from .termexpand import wildcard_prefix
            if sign:
                raise ValueError(
                    "signed wildcard clauses are not supported")
            if not re.fullmatch(r"[A-Za-z0-9*?]+", body):
                raise ValueError(f"wildcard pattern {raw!r} may contain "
                                 f"only [A-Za-z0-9*?]")
            pat = body.lower()
            if not wildcard_prefix(pat):
                raise ValueError(
                    f"leading-wildcard pattern {raw!r} is rejected "
                    f"(Lucene's allowLeadingWildcard=false default)")
            pq.wildcards.append((pat, boost))
            continue
        fm = re.match(r"^(.+?)~([0-9]*)$", body, re.DOTALL)
        if fm:
            if sign:
                raise ValueError("signed fuzzy clauses are not supported")
            edits = int(fm.group(2)) if fm.group(2) else 1
            if edits not in (1, 2):
                raise ValueError("fuzzy max_edits must be 1 or 2")
            toks = tokenize_text(fm.group(1), profile)
            if len(toks) != 1:
                raise ValueError(f"fuzzy body {fm.group(1)!r} must analyze "
                                 f"to exactly one token, got {toks}")
            pq.fuzzies.append((toks[0], edits, boost))
            continue
        toks = tokenize_text(body, profile)
        if not toks:
            raise ValueError(f"clause {raw!r} analyzed to no tokens")
        if len(toks) > 1:
            if sign == "-":
                raise ValueError(f"MUST_NOT clause {raw!r} analyzed to "
                                 f"multiple tokens {toks}")
            if sign == "+":
                pq.phrases.append(toks)
            else:
                pq.soft_phrases.append(toks)
            add_weight(toks, boost)
        elif sign == "+":
            pq.must.append(toks[0])
            add_weight(toks, boost)
        elif sign == "-":
            if boosted:
                raise ValueError("boosted MUST_NOT clauses are not "
                                 "supported (they never score)")
            pq.must_not.append(toks[0])
        else:
            pq.should.append(toks[0])
            add_weight(toks, boost)
    if not (pq.literal_score_terms or pq.prefixes or pq.fuzzies
            or pq.wildcards or pq.regexes):
        raise ValueError("query has no scoring clause (pure-negative or "
                         "filter-only queries match nothing in Lucene)")
    bad = set(pq.must_not) & set(pq.literal_score_terms)
    if bad:
        raise ValueError(f"terms both required and excluded: {sorted(bad)}")
    return pq


# ----------------------------------------------------------------- Spark

def _compile(docs: DataFrame, pq: ParsedQuery, max_expansions: int = 32,
             min_should_match: int = 0, profile: str = "code",
             toks: DataFrame | None = None):
    """(qdf, constrain): the weighted (term, boost) query DataFrame and
    the candidate-constraint hook — shared by every corpus-side front
    door (scoring top-k, hit counting, sort-by-field)."""
    from .phrase import _term_offsets, spannear_ids_from_positions
    from .termexpand import (expand_fuzzy, expand_prefix, expand_regex,
                             expand_wildcard)

    from .core import corpus_tokens
    spark = docs.sparkSession
    # ONE materialized token table per query (or a caller-shared one —
    # composite entries pass the same table to every member): every
    # clause below (scoring counts, msm map, must/group/phrase/slop/not
    # semi-joins, expansion vocab aggs) re-used this subtree —
    # previously each was its own full tokenize pass over the corpus
    if toks is None:
        toks = corpus_tokens(docs, profile)

    # per-clause (term, df) expansion DataFrames in the canonical order
    # (prefixes, fuzzies, wildcards, regexes) — aligned with
    # pq.expansion_boosts; built ONCE and shared between the scoring
    # qdf and the msm clause map (each carries a full-corpus vocab agg)
    expansion_dfs = (
        [expand_prefix(docs, p, max_expansions, profile, toks=toks)
         for p, _ in pq.prefixes]
        + [expand_fuzzy(docs, t, e, 1, max_expansions, profile, toks=toks)
           for t, e, _ in pq.fuzzies]
        + [expand_wildcard(docs, p, max_expansions, profile, toks=toks)
           for p, _ in pq.wildcards]
        + [expand_regex(docs, p, max_expansions, profile, toks=toks)
           for p, _ in pq.regexes])

    parts = []
    lits = pq.literal_score_terms
    if lits:
        parts.append(rows_df(spark, [(t, pq.boosts[t]) for t in lits],
                             "term string, boost double"))
    for edf, bs in zip(expansion_dfs, pq.expansion_boosts,
                       strict=True):
        parts.append(edf.select("term",
                                F.lit(float(bs)).alias("boost")))
    qdf = parts[0]
    for extra in parts[1:]:
        qdf = qdf.unionByName(extra)
    # sum-of-clauses: a term reached by several clauses adds their boosts
    qdf = qdf.groupBy("term").agg(F.sum("boost").alias("boost"))

    def constrain(tc_q: DataFrame) -> DataFrame:
        scored_src = tc_q
        if min_should_match:
            if min_should_match > pq.n_should_clauses:
                # more required matches than SHOULD clauses exist:
                # nothing can qualify (Lucene BooleanQuery semantics)
                return scored_src.where(F.lit(False))
            cm_parts, cid = [], 0
            for terms, need in pq.should_clauses:
                cm_parts.append(rows_df(
                    spark, [(t, cid, need) for t in terms],
                    "term string, cid int, need int"))
                cid += 1
            for edf in expansion_dfs:
                cm_parts.append(
                    edf.select("term", F.lit(cid).alias("cid"),
                               F.lit(1).alias("need")))
                cid += 1
            cm = cm_parts[0]
            for extra in cm_parts[1:]:
                cm = cm.unionByName(extra)
            ok = (toks.join(F.broadcast(cm), "term")
                  .groupBy("doc_id", "cid", "need")
                  .agg(F.countDistinct("term").alias("nt"))
                  .where(F.col("nt") >= F.col("need"))
                  .groupBy("doc_id").agg(F.count("*").alias("nc"))
                  .where(F.col("nc") >= min_should_match)
                  .select("doc_id"))
            scored_src = scored_src.join(ok, "doc_id", "left_semi")
        if pq.filters:
            scored_src = scored_src.join(
                docs.filter(filters_condition(pq.filters))
                .select("doc_id"), "doc_id", "left_semi")
        if pq.must:
            mdf = rows_df(spark, [(t,) for t in dict.fromkeys(pq.must)],
                          "term string")
            m_ids = (toks.join(F.broadcast(mdf), "term")
                     .groupBy("doc_id")
                     .agg(F.countDistinct("term").alias("nm"))
                     .where(F.col("nm") == len(set(pq.must)))
                     .select("doc_id"))
            scored_src = scored_src.join(m_ids, "doc_id", "left_semi")
        for terms, _gb in pq.must_any:
            gdf = rows_df(spark, [(t,) for t in sorted(set(terms))],
                          "term string")
            g_ids = (toks.join(F.broadcast(gdf), "term")
                     .select("doc_id").distinct())
            scored_src = scored_src.join(g_ids, "doc_id", "left_semi")

        def phrase_ids(ph: list) -> DataFrame:
            hits = (toks.join(F.broadcast(_term_offsets(spark, ph)),
                              "term")
                    .select("doc_id",
                            (F.col("pos") - F.col("off")).alias("start"),
                            "off"))
            return (hits.groupBy("doc_id", "start")
                    .agg(F.countDistinct("off").alias("n_off"))
                    .where(F.col("n_off") == len(ph))
                    .select("doc_id").distinct())

        for ph in pq.phrases:
            scored_src = scored_src.join(phrase_ids(ph), "doc_id",
                                         "left_semi")
        for nph in pq.not_phrases:
            scored_src = scored_src.join(phrase_ids(nph), "doc_id",
                                         "left_anti")
        for terms, slop in pq.slop_phrases:
            scored_src = scored_src.join(
                spannear_ids_from_positions(toks, terms, slop),
                "doc_id", "left_semi")
        if pq.must_not:
            ndf = rows_df(spark, [(t,) for t in dict.fromkeys(pq.must_not)],
                          "term string")
            n_ids = (toks.join(F.broadcast(ndf), "term")
                     .select("doc_id").distinct())
            scored_src = scored_src.join(n_ids, "doc_id", "left_anti")
        return scored_src

    return qdf, constrain, toks


def querystring_topk(docs: DataFrame, qs: str, k: int = 10,
                     max_expansions: int = 32,
                     k1: float = K1, b: float = B,
                     min_should_match: int = 0,
                     profile: str = "code",
                     toks: DataFrame | None = None) -> DataFrame:
    """(rank, doc_id, score) for a parsed+compiled query string.
    ``profile`` is the corpus tokenizer profile; it analyzes the query
    text AND the document token stream identically (ADVICE r4)."""
    from .core import bm25_rank_over

    pq = parse_querystring(qs, profile)
    qdf, constrain, toks = _compile(docs, pq, max_expansions,
                                    min_should_match, profile, toks)
    return bm25_rank_over(docs, qdf, k, k1, b, constrain, profile,
                          toks=toks)


def _candidates(toks: DataFrame, qdf: DataFrame, constrain) -> DataFrame:
    """One-column (doc_id) candidate set: docs matching >=1 scoring
    term, run through every constraint clause. ``toks`` is the
    query's materialized token table (from ``_compile``)."""
    cand = (toks.join(F.broadcast(qdf.select("term")), "term")
            .select("doc_id").distinct())
    return constrain(cand)


def querystring_count(docs: DataFrame, qs: str,
                      max_expansions: int = 32,
                      min_should_match: int = 0,
                      profile: str = "code") -> DataFrame:
    """(n_hits) — Lucene's TotalHitCountCollector: how many docs match
    the query, without scoring. Same candidate semantics as
    ``querystring_topk`` (>=1 scoring term + all constraints); the
    plan skips the scoring joins entirely — one broadcast-filtered
    token scan + the constraint semi/anti joins + a 1-row count."""
    pq = parse_querystring(qs, profile)
    qdf, constrain, toks = _compile(docs, pq, max_expansions,
                                    min_should_match, profile)
    return _candidates(toks, qdf, constrain).agg(
        F.count("*").alias("n_hits"))


def querystring_explain(docs: DataFrame, qs: str, k: int = 10,
                        max_expansions: int = 32,
                        k1: float = K1, b: float = B,
                        min_should_match: int = 0,
                        profile: str = "code") -> DataFrame:
    """Per-term score breakdown for the query's top-k hits — Lucene's
    Explanation surface: one row per (doc_id, term) with tf, df, the
    clause weight, the idf, and the weighted contribution
    (contributions sum to the hit's BM25 score up to rounding).
    Ordered (doc_id ASC, term ASC).

    Plan: ONE extra broadcast semi-join of the per-term rows against
    the <= k ranked doc_ids; the scoring expressions are the kernel's
    own (``core.bm25_exprs``), so the breakdown can never drift from
    what ``querystring_topk`` scores."""
    from .core import bm25_exprs, bm25_rank_over

    pq = parse_querystring(qs, profile)
    qdf, constrain, toks = _compile(docs, pq, max_expansions,
                                    min_should_match, profile)
    top = bm25_rank_over(docs, qdf, k, k1, b, constrain,
                         profile, toks=toks).select("doc_id")
    tc_q = (toks.join(F.broadcast(qdf.select("term")), "term")
            .groupBy("doc_id", "term").agg(F.count("*").alias("tf")))
    from .core import corpus_doc_lengths
    dl = corpus_doc_lengths(toks)
    g = dl.agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl"))
    stats_q = tc_q.groupBy("term").agg(F.count("*").alias("df"))
    idf, tf_part = bm25_exprs(F.col("n"), F.col("avgdl"), k1, b)
    return (tc_q.join(F.broadcast(top), "doc_id", "left_semi")
            .join(F.broadcast(stats_q), "term")
            .join(dl, "doc_id")
            .crossJoin(F.broadcast(g))
            .join(F.broadcast(qdf), "term")
            .select("doc_id", "term", "tf", "df", "boost",
                    F.round(idf, 6).alias("idf"),
                    F.round(F.col("boost") * idf * tf_part, 6)
                    .alias("contribution"))
            .orderBy("doc_id", "term"))


def querystring_sort_topk(docs: DataFrame, qs: str,
                          sort_field: str = "n_chars",
                          ascending: bool = False, k: int = 10,
                          max_expansions: int = 32,
                          min_should_match: int = 0,
                          profile: str = "code") -> DataFrame:
    """(rank, doc_id, <sort_field>) — Lucene Sort(SortField): top-k
    query matches ordered by a stored metadata field instead of BM25
    (ties broken by doc_id ASC). The candidate set is the same as
    ``querystring_topk``'s; the sort joins it against a 2-column
    pruned read of the documents table, then TakeOrderedAndProject —
    no scoring math runs at all."""
    if sort_field not in FILTER_FIELDS:
        raise ValueError(f"unknown sort field {sort_field!r} "
                         f"(allowed: {FILTER_FIELDS})")
    pq = parse_querystring(qs, profile)
    qdf, constrain, toks = _compile(docs, pq, max_expansions,
                                    min_should_match, profile)
    vals = _candidates(toks, qdf, constrain)
    if sort_field != "doc_id":
        vals = vals.join(docs.select("doc_id", sort_field), "doc_id")
    order = [F.asc(sort_field) if ascending else F.desc(sort_field),
             F.asc("doc_id")]
    top = vals.orderBy(*order).limit(k)
    w = Window.orderBy(*order)
    out_cols = ["rank", "doc_id"] + \
        ([sort_field] if sort_field != "doc_id" else [])
    return (top.withColumn("rank", F.row_number().over(w).cast("int"))
            .select(*out_cols))


# --------------------------------------------------------------- DuckDB



def _sql_parts(pq: ParsedQuery, max_expansions: int,
               min_should_match: int,
               profile: str = "code") -> tuple[list, list]:
    """(ctes, constraints) shared by the scoring / count / sort twins:
    toks + expansion + qterms + tc CTEs, and the candidate constraint
    predicates (which append their own cm/msm_ok/ph CTEs)."""
    ctes = [duckdb_toks_cte(profile=profile)]
    qterm_selects = []
    lits = pq.literal_score_terms
    if lits:
        qterm_selects.append(
            "SELECT unnest([" + ", ".join(_sq(t) for t in lits)
            + "]) AS term, unnest(["
            + ", ".join(repr(pq.boosts[t]) for t in lits)
            + "]) AS boost")
    if pq.prefixes or pq.fuzzies or pq.wildcards or pq.regexes:
        ctes.append("vocab AS (SELECT term, count(DISTINCT doc_id)::BIGINT"
                    " AS df FROM toks GROUP BY term)")
    for i, (p, bs) in enumerate(pq.prefixes):
        ctes.append(
            f"exp_p{i} AS (SELECT term FROM vocab "
            f"WHERE starts_with(term, {_sq(p)}) "
            f"ORDER BY df DESC, term ASC LIMIT {max_expansions})")
        qterm_selects.append(
            f"SELECT term, {bs!r} AS boost FROM exp_p{i}")
    for i, (t, e, bs) in enumerate(pq.fuzzies):
        ctes.append(
            f"exp_f{i} AS (SELECT term FROM vocab "
            f"WHERE abs(length(term) - {len(t)}) <= {e} "
            f"AND starts_with(term, {_sq(t[:1])}) "
            f"AND levenshtein(term, {_sq(t)}) <= {e} "
            f"ORDER BY levenshtein(term, {_sq(t)}) ASC, df DESC, term ASC "
            f"LIMIT {max_expansions})")
        qterm_selects.append(
            f"SELECT term, {bs!r} AS boost FROM exp_f{i}")
    from .termexpand import regex_expanded_sql, wildcard_expanded_sql
    for i, (p, bs) in enumerate(pq.wildcards):
        ctes.append(f"exp_w{i} AS ({wildcard_expanded_sql(p, max_expansions)})")
        qterm_selects.append(
            f"SELECT term, {bs!r} AS boost FROM exp_w{i}")
    for i, (p, bs) in enumerate(pq.regexes):
        ctes.append(f"exp_r{i} AS ({regex_expanded_sql(p, max_expansions)})")
        qterm_selects.append(
            f"SELECT term, {bs!r} AS boost FROM exp_r{i}")
    ctes.append("qterms AS (SELECT term, sum(boost) AS boost FROM ("
                + " UNION ALL ".join(qterm_selects)
                + ") GROUP BY term)")
    ctes.append("tc AS (SELECT doc_id, term, count(*)::BIGINT AS tf "
                "FROM toks WHERE term IN (SELECT term FROM qterms) "
                "GROUP BY doc_id, term)")

    constraints = []
    if min_should_match:
        if min_should_match > pq.n_should_clauses:
            constraints.append("FALSE")
        else:
            cm_selects, cid = [], 0
            for terms, need in pq.should_clauses:
                vals = ", ".join(f"({_sq(t)}, {cid}, {need})"
                                 for t in terms)
                cm_selects.append(
                    f"SELECT * FROM (VALUES {vals}) v(term, cid, need)")
                cid += 1
            for kind, n in (("p", len(pq.prefixes)),
                            ("f", len(pq.fuzzies)),
                            ("w", len(pq.wildcards)),
                            ("r", len(pq.regexes))):
                for i in range(n):
                    cm_selects.append(
                        f"SELECT term, {cid} AS cid, 1 AS need "
                        f"FROM exp_{kind}{i}")
                    cid += 1
            ctes.append("cm AS (" + " UNION ALL ".join(cm_selects) + ")")
            ctes.append(
                "msm_ok AS (SELECT doc_id FROM ("
                "SELECT doc_id, cid FROM toks JOIN cm USING (term) "
                "GROUP BY doc_id, cid, need "
                "HAVING count(DISTINCT term) >= need) "
                f"GROUP BY doc_id HAVING count(*) >= {min_should_match})")
            constraints.append(
                "tc.doc_id IN (SELECT doc_id FROM msm_ok)")
    if pq.filters:
        pred = filters_predicate(pq.filters)
        constraints.append(
            f"tc.doc_id IN (SELECT doc_id FROM documents WHERE {pred})")
    if pq.must:
        musts = sorted(set(pq.must))
        constraints.append(
            f"tc.doc_id IN (SELECT doc_id FROM toks "
            f"WHERE term IN {sql_str_list(musts)} GROUP BY doc_id "
            f"HAVING count(DISTINCT term) = {len(musts)})")
    for terms, _gb in pq.must_any:
        constraints.append(
            f"tc.doc_id IN (SELECT DISTINCT doc_id FROM toks "
            f"WHERE term IN {sql_str_list(sorted(set(terms)))})")
    def phrase_cte(name: str, ph: list) -> None:
        vals = ", ".join(f"({_sq(t)}, {j})" for j, t in enumerate(ph))
        ctes.append(
            f"{name} AS (SELECT DISTINCT doc_id FROM ("
            f"SELECT doc_id, pos - off AS start, off FROM toks "
            f"JOIN (SELECT * FROM (VALUES {vals})) m(term, off) "
            f"USING (term)) h GROUP BY doc_id, start "
            f"HAVING count(DISTINCT off) = {len(ph)})")

    for i, ph in enumerate(pq.phrases):
        phrase_cte(f"ph{i}", ph)
        constraints.append(f"tc.doc_id IN (SELECT doc_id FROM ph{i})")
    for i, nph in enumerate(pq.not_phrases):
        phrase_cte(f"nph{i}", nph)
        constraints.append(
            f"tc.doc_id NOT IN (SELECT doc_id FROM nph{i})")
    if pq.slop_phrases:
        from .phrase import spannear_ids_sql
        for i, (terms, slop) in enumerate(pq.slop_phrases):
            ctes.append(f"sp{i} AS ({spannear_ids_sql(terms, slop)})")
            constraints.append(
                f"tc.doc_id IN (SELECT doc_id FROM sp{i})")
    if pq.must_not:
        constraints.append(
            f"tc.doc_id NOT IN (SELECT DISTINCT doc_id FROM toks "
            f"WHERE term IN {sql_str_list(sorted(set(pq.must_not)))})")
    return ctes, constraints


def querystring_sql(qs: str, k: int = 10, max_expansions: int = 32,
                    k1: float = K1, b: float = B,
                    min_should_match: int = 0,
                    profile: str = "code") -> str:
    """DuckDB twin: the same parse, compiled to one CTE chain."""
    pq = parse_querystring(qs, profile)
    ctes, constraints = _sql_parts(pq, max_expansions, min_should_match,
                                   profile)
    ctes.append("dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM toks "
                "GROUP BY doc_id)")
    ctes.append("g AS (SELECT count(*)::BIGINT AS n, avg(dl) AS avgdl "
                "FROM dl)")
    ctes.append("stats AS (SELECT term, count(*)::BIGINT AS df FROM tc "
                "GROUP BY term)")
    where = ("WHERE " + " AND ".join(constraints)) if constraints else ""
    cte_block = ",\n".join(ctes)

    return f"""WITH {cte_block},
scored AS (
  SELECT tc.doc_id,
         round(sum( q.boost * ln(1 + (g.n - s.df + 0.5)/(s.df + 0.5))
              * (tc.tf * ({k1} + 1.0))
              / (tc.tf + {k1} * (1.0 - {b} + {b} * dl.dl / g.avgdl)) ), 6) AS score
  FROM tc
  JOIN qterms q USING (term)
  JOIN stats s USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN g
  {where}
  GROUP BY tc.doc_id)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank,
       doc_id, score
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {k}"""


def querystring_explain_sql(qs: str, k: int = 10,
                            max_expansions: int = 32,
                            k1: float = K1, b: float = B,
                            min_should_match: int = 0,
                            profile: str = "code") -> str:
    """DuckDB twin of ``querystring_explain``."""
    pq = parse_querystring(qs, profile)
    ctes, constraints = _sql_parts(pq, max_expansions, min_should_match)
    ctes.append("dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM toks "
                "GROUP BY doc_id)")
    ctes.append("g AS (SELECT count(*)::BIGINT AS n, avg(dl) AS avgdl "
                "FROM dl)")
    ctes.append("stats AS (SELECT term, count(*)::BIGINT AS df FROM tc "
                "GROUP BY term)")
    where = ("WHERE " + " AND ".join(constraints)) if constraints else ""
    ctes.append(f"""scored AS (
  SELECT tc.doc_id,
         round(sum( q.boost * ln(1 + (g.n - s.df + 0.5)/(s.df + 0.5))
              * (tc.tf * ({k1} + 1.0))
              / (tc.tf + {k1} * (1.0 - {b} + {b} * dl.dl / g.avgdl)) ), 6) AS score
  FROM tc
  JOIN qterms q USING (term)
  JOIN stats s USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN g
  {where}
  GROUP BY tc.doc_id)""")
    ctes.append(f"top AS (SELECT doc_id FROM scored "
                f"ORDER BY score DESC, doc_id ASC LIMIT {k})")
    cte_block = ",\n".join(ctes)
    return f"""WITH {cte_block}
SELECT tc.doc_id, tc.term, tc.tf, s.df, q.boost,
       round(ln(1 + (g.n - s.df + 0.5)/(s.df + 0.5)), 6) AS idf,
       round( q.boost * ln(1 + (g.n - s.df + 0.5)/(s.df + 0.5))
            * (tc.tf * ({k1} + 1.0))
            / (tc.tf + {k1} * (1.0 - {b} + {b} * dl.dl / g.avgdl)), 6)
         AS contribution
FROM tc
JOIN top USING (doc_id)
JOIN qterms q USING (term)
JOIN stats s USING (term)
JOIN dl USING (doc_id)
CROSS JOIN g
ORDER BY doc_id ASC, term ASC"""


def _candidates_sql(pq: ParsedQuery, max_expansions: int,
                    min_should_match: int,
                    profile: str = "code") -> tuple[str, str]:
    """(cte_block, cand_select): the candidate doc_id set as SQL —
    distinct docs holding >=1 scoring term, under every constraint."""
    ctes, constraints = _sql_parts(pq, max_expansions, min_should_match,
                                   profile)
    where = ("WHERE " + " AND ".join(constraints)) if constraints else ""
    return ",\n".join(ctes), \
        f"SELECT DISTINCT tc.doc_id FROM tc {where}"


def querystring_count_sql(qs: str, max_expansions: int = 32,
                          min_should_match: int = 0,
                          profile: str = "code") -> str:
    """DuckDB twin of ``querystring_count``."""
    pq = parse_querystring(qs, profile)
    cte_block, cand = _candidates_sql(pq, max_expansions,
                                      min_should_match, profile)
    return f"""WITH {cte_block}
SELECT count(*)::BIGINT AS n_hits FROM ({cand})"""


def querystring_sort_sql(qs: str, sort_field: str = "n_chars",
                         ascending: bool = False, k: int = 10,
                         max_expansions: int = 32,
                         min_should_match: int = 0,
                         profile: str = "code") -> str:
    """DuckDB twin of ``querystring_sort_topk``."""
    if sort_field not in FILTER_FIELDS:
        raise ValueError(f"unknown sort field {sort_field!r} "
                         f"(allowed: {FILTER_FIELDS})")
    pq = parse_querystring(qs, profile)
    cte_block, cand = _candidates_sql(pq, max_expansions,
                                      min_should_match, profile)
    dir_ = "ASC" if ascending else "DESC"
    order = f"ORDER BY {sort_field} {dir_}, doc_id ASC"
    val_col = f", {sort_field}" if sort_field != "doc_id" else ""
    src = (f"({cand}) c JOIN documents USING (doc_id)"
           if sort_field != "doc_id" else f"({cand}) c")
    return f"""WITH {cte_block}
SELECT CAST(row_number() OVER ({order}) AS INTEGER) AS rank,
       doc_id{val_col}
FROM {src}
{order}
LIMIT {k}"""
